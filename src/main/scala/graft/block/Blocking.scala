package graft.block

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.ops.Skew

/**
 * Blocking-key generation: normalized-domain keys + MinHash-LSH token
 * signatures (north_rule; SURVEY.md §7.2 M4). Everything is built-in
 * codegen'd expressions — the MinHash family is `xxhash64` with a
 * per-function seed prefix, so signatures are deterministic across runs
 * and parallelism levels.
 *
 * Scale design (100 TB): key generation is a narrow map; the only shuffle
 * is the explode+self-join downstream. Skewed blocks (mega-hosts, common
 * shingle bands) are (a) salted via `saltKey`, and (b) split
 * (`splitOversizedBlocks`) or hard-capped (`TopK.perKeyWithDrops`) per
 * block with the split or cap surfaced in a metrics table — no silent
 * drops.
 */
object Blocking {

  /** Normalized host from a URL: lowercase, strip scheme/www/port/path. */
  def normalizedDomain(url: Column): Column = {
    val host = regexp_extract(lower(url), "^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)", 1)
    regexp_replace(host, "^www\\.", "")
  }

  /** splitmix64 finalizer — deterministic 64-bit mixing. */
  @inline private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** FNV-1a 64 over UTF-16 code units. */
  @inline private def hashStr(s: String): Long = {
    var h = -3750763034362895579L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 1099511628211L; i += 1 }
    h
  }

  /** MinHash band keys as ONE compact JVM function per row.
    *
    * An equivalent pure-expression formulation (k × `transform`+
    * `array_min` lambdas) plans/compiles a Catalyst tree so large that
    * driver-side optimization+codegen became the pipeline's serial
    * bottleneck (~20s per query at bands*rows=64). The UDF costs the
    * codegen boundary but keeps the plan O(1); per-row work is
    * tokens×k cheap integer mixes. Hash family: h_i(t) = mix64(fnv(t) ^
    * mix64(i)) — deterministic across JVMs/parallelism. */
  def bandKeysUdf(bands: Int, rowsPerBand: Int) = udf { (tokens: Seq[String]) =>
    if (tokens == null || tokens.isEmpty) Array.empty[Long]
    else {
      val k = bands * rowsPerBand
      val mins = Array.fill(k)(Long.MaxValue)
      tokens.foreach { t =>
        val h0 = hashStr(t)
        var i = 0
        while (i < k) {
          val h = mix64(h0 ^ mix64(i.toLong))
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      val keys = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var acc = mix64(0xB10C0000L + b)
        var r = 0
        while (r < rowsPerBand) { acc = mix64(acc ^ mins(b * rowsPerBand + r)); r += 1 }
        keys(b) = acc
        b += 1
      }
      keys
    }
  }

  /** One row per (blockKey, id...); rows with no tokens produce no keys. */
  def minhashBlocks(df: DataFrame, tokensCol: Column, bands: Int,
      rowsPerBand: Int, keyName: String = "block_key"): DataFrame =
    df.withColumn(keyName, explode(bandKeysUdf(bands, rowsPerBand)(tokensCol)))

  /** Salt a hot key into `salts` sub-keys, deterministically by row id.
    * Use for block families where one key dominates (e.g. a mega-host):
    * pairs are then generated within sub-blocks only — recall loss is
    * bounded and surfaced by the caller's metrics. */
  def saltKey(key: Column, id: Column, salts: Int): Column =
    concat_ws("#", key, pmod(xxhash64(id), lit(salts)).cast(StringType))

  /** Exact set fingerprint of a token array (order-insensitive): the
    * cheap key family that guarantees recall for records whose normalized
    * token sets are identical, independent of LSH geometry. */
  def tokenFingerprint(tokens: Column): Column =
    xxhash64(concat_ws("", array_sort(tokens)))

  /** Split blocks larger than `cap` into ceil(n/cap) sub-blocks keyed by
    * `groupCol` (e.g. the token fingerprint). Rows with equal `groupCol`
    * land in the same sub-block, so exact-duplicate recall is preserved;
    * only cross-group pairs inside an oversized block get sampled. This
    * bounds per-block pair cost at ~cap² without silent row drops —
    * returns (rekeyed, splitStats(block_key, n_total, n_subblocks)). */
  def splitOversizedBlocks(df: DataFrame, keyCol: String, groupCol: String,
      cap: Int, maxHotKeysBroadcast: Int = Skew.MaxHotKeysBroadcast)
      : (DataFrame, DataFrame) = {
    // Hot/cold plan (Skew.hotKeys): splitting only bites the over-cap
    // blocks, so their sizes are broadcast back and the blocked table
    // itself never exchanges here — its only shuffle stays the candidate
    // join downstream. Past the bound, block sizes come from a window.
    val (sizes, nHot) = Skew.hotKeys(df, keyCol, cap, maxHotKeysBroadcast)
    def subBlocks(n: Column) = ceil(n.cast("double") / cap).cast("long")
    val stats = sizes.select(col(keyCol), col("n_total"),
      subBlocks(col("n_total")).as("n_subblocks"))
    def rekey(withSize: DataFrame) = withSize
      .withColumn("_k", subBlocks(col("_bn")))
      .withColumn(keyCol,
        when(col("_k").isNull || col("_k") <= 1, col(keyCol))
          .otherwise(xxhash64(col(keyCol), pmod(col(groupCol), col("_k")))))
      .drop("_hk", "_bn", "_k")
    val rekeyed = nHot match {
      case Some(0) => df
      case Some(_) => rekey(df.join(
        broadcast(sizes.select(col(keyCol).as("_hk"), col("n_total").as("_bn"))),
        col(keyCol) <=> col("_hk"), "left"))
      case None =>
        rekey(df.withColumn("_bn", count(lit(1)).over(Window.partitionBy(col(keyCol)))))
    }
    (rekeyed, stats)
  }

  /** Candidate pairs from a blocked table: self-join within block key with
    * a strict ordering predicate, deduped across key families.
    *
    * Scale notes: the join shuffles both sides on `keyCol` (sort-merge or
    * shuffled-hash chosen by Catalyst/AQE; AQE skew-join splits oversized
    * partitions). `dropDuplicates` over (left_id, right_id) is the standard
    * LSH pair-dedup and shuffles once on the pair id — unavoidable for
    * exact dedup and linear in candidate count, not corpus size. */
  def candidatePairs(blocked: DataFrame, keyCol: String, idCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val cols = (Seq(idCol) ++ payloadCols)
    val l = blocked.select((keyCol +: cols).map(col): _*)
      .toDF((keyCol +: cols.map("l_" + _)): _*)
    val r = blocked.select((keyCol +: cols).map(col): _*)
      .toDF((keyCol +: cols.map("r_" + _)): _*)
    l.join(r, Seq(keyCol))
      .where(col("l_" + idCol) < col("r_" + idCol))
      .dropDuplicates("l_" + idCol, "r_" + idCol)
  }
}
