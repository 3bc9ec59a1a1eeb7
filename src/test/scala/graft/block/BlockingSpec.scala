package graft.block

import graft.SparkSuite
import graft.ops.{Skew, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class BlockingSpec extends SparkSuite {
  import spark.implicits._

  // skewed fixture: one hot key with 1000 rows, 500 cold keys with <= 3
  private def blocked() = (
    (0 until 1000).map(i => ("hot", i.toLong)) ++
    (0 until 500).flatMap(k => (0 to k % 3).map(j => (s"cold$k", (10000 + k * 10 + j).toLong)))
  ).toDF("block_key", "id")

  // block caps go through the crawl-budget operator: key = block_key,
  // lowest ids win
  private def blockCap(df: DataFrame, cap: Int,
      maxHotKeysBroadcast: Int = Skew.MaxHotKeysBroadcast) =
    TopK.perKeyWithDrops(df, $"block_key", "block_key", Seq($"id"), cap,
      maxHotKeysBroadcast)

  test("block cap == naive per-block window cap, with exact drop stats") {
    val df = blocked()
    val (kept, drops) = blockCap(df, cap = 100)
    val naive = df.withColumn("_rn", row_number().over(
        Window.partitionBy($"block_key").orderBy($"id")))
      .where($"_rn" <= 100).drop("_rn")
    assert(kept.count() === naive.count())
    assert(kept.exceptAll(naive).count() === 0L)
    assert(naive.exceptAll(kept).count() === 0L)
    val d = drops.as[(String, Long, Long)].collect()
    assert(d.toSeq === Seq(("hot", 1000L, 900L)))
  }

  test("block cap plan: hot keys broadcast; cold majority skips the window") {
    val df = blocked()
    val (kept, _) = blockCap(df, cap = 100)
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the window sort must sit under the hot-side branch only: exactly
    // one Window operator, fed by a broadcast (semi) join, not by the scan
    assert("(?s)Window".r.findAllIn(plan).size >= 1)
  }

  test("block cap caps a hot NULL key like the window twin (null-safe join)") {
    val df = ((0 until 300).map(i => (null: String, i.toLong)) ++
      (0 until 10).map(i => ("k", (1000 + i).toLong))).toDF("block_key", "id")
    val (kept, drops) = blockCap(df, cap = 50)
    assert(kept.count() === 60L) // 50 capped nulls + 10 cold rows
    val d = drops.as[(Option[String], Long, Long)].collect()
    assert(d.toSeq === Seq((None, 300L, 250L)))
  }

  test("block cap over the broadcast bound falls back to the window plan, same rows") {
    val df = blocked()
    val (kept, drops) =
      blockCap(df, cap = 100, maxHotKeysBroadcast = 0) // force: 1 hot key > bound
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan)
    val (keptB, dropsB) = blockCap(df, cap = 100)
    assert(kept.exceptAll(keptB).count() === 0L)
    assert(keptB.exceptAll(kept).count() === 0L)
    assert(drops.as[(String, Long, Long)].collect().toSeq ===
      dropsB.as[(String, Long, Long)].collect().toSeq)
    // exactly at the bound (1 hot key == bound) the keys still broadcast,
    // and the rows match the windowed twin
    val (keptE, dropsE) = blockCap(df, cap = 100, maxHotKeysBroadcast = 1)
    val planE = keptE.queryExecution.executedPlan.toString
    assert(planE.contains("BroadcastHashJoin"), planE)
    assert(kept.exceptAll(keptE).count() === 0L)
    assert(keptE.exceptAll(kept).count() === 0L)
    assert(drops.as[(String, Long, Long)].collect().toSeq ===
      dropsE.as[(String, Long, Long)].collect().toSeq)
  }

  test("block cap with no oversized block is a row-preserving no-op") {
    val df = (0 until 100).map(i => (s"k${i % 20}", i.toLong)).toDF("block_key", "id")
    val (kept, drops) = blockCap(df, cap = 50)
    assert(kept.count() === 100L)
    assert(drops.count() === 0L)
  }

  /** The old count-over-window formulation, verbatim — the reference the
    * broadcast hot-key path must reproduce row-for-row. */
  private def windowedSplit(df: org.apache.spark.sql.DataFrame,
      keyCol: String, groupCol: String, cap: Int) = {
    val w = Window.partitionBy(col(keyCol))
    df.withColumn("_bn", count(lit(1)).over(w))
      .withColumn("_k", ceil(col("_bn").cast("double") / cap).cast("long"))
      .withColumn(keyCol,
        when(col("_k") <= 1, col(keyCol))
          .otherwise(xxhash64(col(keyCol), pmod(col(groupCol), col("_k")))))
      .drop("_bn", "_k")
  }

  // splitOversizedBlocks fixture: long keys (the production shape — band
  // hashes), one very hot key, one mildly hot, a NULL key over cap, and
  // a cold tail; fp is the sub-block group column
  private def splitFixture() = (
    (0 until 900).map(i => (Some(7L), i.toLong % 13)) ++
    (0 until 120).map(i => (Some(8L), i.toLong % 5)) ++
    (0 until 80).map(i => (None: Option[Long], i.toLong % 3)) ++
    (0 until 400).map(i => (Some(1000L + i % 50), i.toLong))
  ).toDF("block_key", "fp")

  test("splitOversizedBlocks broadcast path == windowed twin (incl. null hot key)") {
    val df = splitFixture()
    val (split, stats) = Blocking.splitOversizedBlocks(df, "block_key", "fp",
      cap = 64)
    val expected = windowedSplit(df, "block_key", "fp", cap = 64)
    assert(split.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(split).count() === 0L)
    // stats: one row per over-cap key with exact sizes (7 -> 900 rows /
    // 15 sub-blocks, 8 -> 120 / 2, null -> 80 / 2)
    val st = stats.collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getLong(1), r.getLong(2))).toSet
    assert(st === Set((Some(7L), 900L, 15L), (Some(8L), 120L, 2L),
      (None, 80L, 2L)))
  }

  test("splitOversizedBlocks over the broadcast bound falls back, same rows") {
    val df = splitFixture()
    val (split, stats) = Blocking.splitOversizedBlocks(df, "block_key", "fp",
      cap = 64, maxHotKeysBroadcast = 1) // 3 hot keys > bound -> window
    val (splitB, statsB) = Blocking.splitOversizedBlocks(df, "block_key",
      "fp", cap = 64)
    assert(split.exceptAll(splitB).count() === 0L)
    assert(splitB.exceptAll(split).count() === 0L)
    assert(stats.collect().map(_.toSeq).toSet ===
      statsB.collect().map(_.toSeq).toSet)
    // exactly at the bound (3 hot keys == bound) the sizes still
    // broadcast, and the rows match the windowed twin
    val (splitE, statsE) = Blocking.splitOversizedBlocks(df, "block_key",
      "fp", cap = 64, maxHotKeysBroadcast = 3)
    val planE = splitE.queryExecution.executedPlan.toString
    assert(planE.contains("BroadcastHashJoin"), planE)
    val expected = windowedSplit(df, "block_key", "fp", cap = 64)
    assert(splitE.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(splitE).count() === 0L)
    assert(statsE.collect().map(_.toSeq).toSet ===
      stats.collect().map(_.toSeq).toSet)
  }

  test("splitOversizedBlocks with no oversized block passes rows through untouched") {
    val df = (0 until 200).map(i => (i.toLong % 40, i.toLong)).toDF("block_key", "fp")
    val (split, stats) = Blocking.splitOversizedBlocks(df, "block_key", "fp",
      cap = 50)
    assert(split.exceptAll(df).count() === 0L)
    assert(df.exceptAll(split).count() === 0L)
    assert(stats.count() === 0L)
  }
}
