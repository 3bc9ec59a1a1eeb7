package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Skew-aware per-key top-k — the crawl-budget operator: keep at most `k`
 * rows per key (host), preferring rows by an explicit deterministic
 * ordering (quality score, recency, ...).
 *
 * A naive `row_number().over(partitionBy(key))` sorts EVERY key's rows,
 * and a single mega-host (every web crawl has one) serializes into one
 * task's sort. [[perKeyWithDrops]] takes the over-budget keys from
 * [[Skew.hotKeys]] (the one hot/cold decision, whose scaladoc holds the
 * null-safety, bound and materialized-input contract), then
 *
 *  - 0 hot keys (the common case): input passes through untouched;
 *  - collected hot keys: cold rows stream through a broadcast anti-join
 *    untouched; only hot-key rows pay the window sort;
 *  - past the bound: the window-over-everything plan.
 *
 * Ordering must be total and deterministic (break ties on a unique key)
 * or the kept set is nondeterministic under retries.
 */
object TopK {

  /** Core: returns (kept, drops) where drops is the small metrics table
    * (keyName, n_total, n_dropped), one row per truncated key — capping
    * must never be silent.
    * @param keyName  output name for the key column; `df` may already
    *                 contain it holding the same values (pass-through)
    *                 but must not hold a DIFFERENT column under that name
    * @param orderBy  deterministic total order; first = most preferred */
  def perKeyWithDrops(df: DataFrame, key: Column, keyName: String,
      orderBy: Seq[Column], k: Int,
      maxHotKeysBroadcast: Int = Skew.MaxHotKeysBroadcast)
      : (DataFrame, DataFrame) = {
    require(k > 0, "k must be positive")
    val keyed = df.withColumn(keyName, key)
    val (sizes, nHot) = Skew.hotKeys(keyed, keyName, k, maxHotKeysBroadcast)
    val drops = sizes.withColumn("n_dropped", col("n_total") - k)
    val w = Window.partitionBy(col(keyName)).orderBy(orderBy: _*)
    val kept = nHot match {
      case Some(0) => keyed
      case Some(_) =>
        val hotKeys = broadcast(sizes.select(col(keyName).as("_hk")))
        val cold = keyed.join(hotKeys, col(keyName) <=> col("_hk"), "left_anti")
        val hotCapped =
          keyed.join(hotKeys, col(keyName) <=> col("_hk"), "left_semi")
            .withColumn("_rn", row_number().over(w))
            .where(col("_rn") <= k).drop("_rn")
        cold.unionByName(hotCapped)
      case None => keyed.withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= k).drop("_rn")
    }
    (kept, drops)
  }

  /** Convenience wrapper deriving the key from an expression. */
  def perKey(df: DataFrame, key: Column, orderBy: Seq[Column], k: Int)
      : DataFrame = {
    require(!df.columns.contains("tk_key"),
      "input already has a tk_key column — rename it or use perKeyWithDrops")
    perKeyWithDrops(df, key, "tk_key", orderBy, k)._1.drop("tk_key")
  }
}
