package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The hot/cold skew decision shared by every per-key operator that only
 * bites the over-threshold keys (per-key capping in [[TopK]], oversized-
 * block splitting in `Blocking.splitOversizedBlocks`).
 */
object Skew {

  /** Largest hot-key set collected to the driver and broadcast back. */
  val MaxHotKeysBroadcast: Int = 1000000

  /** The keys of `df` whose row count exceeds `threshold`, decided in ONE
    * eager job: a slim size aggregation (map-side partials collapse to
    * distinct keys per partition) read with `limit(bound + 1).collect()`.
    *
    * Returns `(sizes, nHot)` where `sizes` is `(keyName, n_total)`, one
    * row per hot key:
    *  - `nHot = Some(n)`, n ≤ `bound`: `sizes` is a driver-side
    *    LocalRelation of the collected rows. Callers broadcast it back and
    *    let the cold majority pass untouched (n = 0, the common case:
    *    nothing to do at all); downstream stats read it without another
    *    aggregation.
    *  - `nHot = None`: more than `bound` hot keys (a boilerplate-heavy
    *    corpus where over-threshold keys are data-dependent, not few).
    *    Collecting them would bring an unbounded key set to the driver, so
    *    `sizes` is the lazy aggregate and callers fall back to a window
    *    over every key — slower (one full shuffle + sort) but bounded.
    *
    * Callers must join on `sizes` null-SAFELY (`<=>`): groupBy counts a
    * null key as one group, so a hot null key (crawl rows with no parsed
    * host) must route to the hot side too — a plain equi-join would pass
    * every null-key row through untouched.
    *
    * `df` must be materialized (persisted, checkpointed or a file scan)
    * and deterministic: the hot-key set comes from this evaluation and
    * the caller's rekey/cap from another, so lineage with sampling or
    * `monotonically_increasing_id` could silently disagree between the
    * two and mis-route rows. */
  def hotKeys(df: DataFrame, keyName: String, threshold: Int, bound: Int)
      : (DataFrame, Option[Int]) = {
    val sizes = df.groupBy(col(keyName)).agg(count(lit(1)).as("n_total"))
      .where(col("n_total") > threshold)
    val rows = sizes.limit(bound + 1).collect()
    if (rows.length > bound) (sizes, None)
    else (df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), sizes.schema), Some(rows.length))
  }
}
