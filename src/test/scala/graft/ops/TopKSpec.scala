package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSuite

class TopKSpec extends SparkSuite {
  import spark.implicits._

  // skewed corpus: host h0 has 500 rows (the mega-host), h1..h9 have 3-12
  private lazy val corpus = {
    val hot = (0L until 500L).map(i => (i, "h0", i % 97))
    val cold = (0 until 9).flatMap { h =>
      (0 until (3 + h)).map(j => (1000L + h * 100 + j, s"h${h + 1}", j.toLong))
    }
    (hot ++ cold).toDF("id", "host", "score")
  }

  test("matches the naive all-keys window bit-for-bit") {
    val got = TopK.perKey(corpus, $"host", Seq($"score".desc, $"id".asc), k = 5)
      .select("id").as[Long].collect().sorted.toSeq
    val want = corpus.withColumn("rn", row_number().over(
        Window.partitionBy($"host").orderBy($"score".desc, $"id".asc)))
      .where($"rn" <= 5).select("id").as[Long].collect().sorted.toSeq
    assert(got === want)
  }

  test("under-budget keys pass through whole; over-budget keys cap at k") {
    val out = TopK.perKey(corpus, $"host", Seq($"score".desc, $"id".asc), k = 5)
      .groupBy($"host").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(out("h0") === 5L)
    assert(out("h1") === 3L) // had 3, under budget
    assert(out("h9") === 5L) // had 11, capped
  }

  test("a hot NULL key is capped, not silently passed through") {
    // crawl rows with no parsed host: groupBy counts null as one group;
    // the join must be null-safe or every null-key row leaks uncapped
    val withNulls = corpus.union(
      (5000L until 5040L).map(i => (i, null.asInstanceOf[String], i % 7))
        .toDF("id", "host", "score"))
    val out = TopK.perKey(withNulls, $"host", Seq($"score".desc, $"id".asc), 5)
    assert(out.where($"host".isNull).count() === 5L)
    // and the drops table reports the truncation (never silent)
    val (_, drops) = TopK.perKeyWithDrops(withNulls, $"host", "host",
      Seq($"score".desc, $"id".asc), 5)
    val nullRow = drops.where($"host".isNull)
      .select("n_total", "n_dropped").as[(Long, Long)].collect()
    assert(nullRow.toSeq === Seq((40L, 35L)))
  }

  test("deterministic across input partitioning") {
    val a = TopK.perKey(corpus, $"host", Seq($"score".desc, $"id".asc), 4)
      .select("id").as[Long].collect().sorted.toSeq
    val b = TopK.perKey(corpus.repartition(13), $"host",
        Seq($"score".desc, $"id".asc), 4)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a === b)
  }

  test("broadcast branch: kept and drops re-run no size aggregate; drops is local") {
    val (kept, drops) = TopK.perKeyWithDrops(corpus, $"host", "host",
      Seq($"score".desc, $"id".asc), k = 5)
    def aggregates(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(kept.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    assert(aggregates(kept).isEmpty, kept.queryExecution.optimizedPlan)
    assert(aggregates(drops).isEmpty, drops.queryExecution.optimizedPlan)
    assert(drops.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      drops.queryExecution.optimizedPlan)
  }

  test("only the hot slice reaches the window sort") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = TopK.perKey(corpus, $"host", Seq($"score".desc), k = 5)
      val plan = out.queryExecution.executedPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.size == 1, plan.toString)
      // the window's child must sit above the hot-key semi join — cold
      // rows take the anti-join branch with no sort at all
      assert(windows.head.child.toString.contains("LeftSemi"),
        s"window not restricted to hot keys:\n${windows.head}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
