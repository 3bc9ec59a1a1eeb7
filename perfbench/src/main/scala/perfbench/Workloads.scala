package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cluster.ConnectedComponents
import graft.gen.{LinkGen, PageGen}
import graft.graph.PageRank
import graft.pipeline.ERPipeline

/** Values one pass produced and the checks it failed. Values are exact
  * integers, so passes and runs of one seed must repeat them exactly. */
final case class PassOut(values: Map[String, Long], failures: Seq[String])

/** One benchmark workload. The harness calls `generate` (timed several
  * times; inputs come from the seed only), `warmUp` once, then `pass`
  * repeatedly inside the measured window. `pass` returns the check of its
  * outputs, which the harness runs after the timed window closes.
  * `tracedPass` does the same work with a span around every layer call. */
trait Workload {
  def generate(): Unit
  def warmUp(): Unit
  def pass(): () => PassOut
  def tracedPass(tr: Tracer): (PassOut, Map[String, Double])
  /** Fewest passes the measured window takes, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** Human-readable figures for the summary lines (not metrics). */
  def extras(out: PassOut): Map[String, Any] = Map.empty
}

object Workloads {

  /** Order-independent content hash of a DataFrame in one job: row count,
    * the exact sum of a per-row 64-bit hash over every column, then the
    * `extra` aggregates. */
  def hashAgg(df: DataFrame, extra: Column*): DataFrame =
    df.withColumn("_h", xxhash64(df.columns.map(col): _*).cast(DecimalType(38, 0)))
      .agg(count(lit(1)), (sum(col("_h")) +: extra): _*)

  /** Splits a 128-bit-safe decimal checksum into exact Long halves. */
  def checksumValues(prefix: String, n: Long, h: BigDecimal): Map[String, Long] = {
    val base = BigDecimal(2).pow(62)
    val hi = (h / base).setScale(0, BigDecimal.RoundingMode.FLOOR)
    Map(s"$prefix.rows" -> n, s"$prefix.hash_hi" -> hi.toLongExact,
      s"$prefix.hash_lo" -> (h - hi * base).toLongExact)
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

import Workloads._

/** ER pipeline on a generated page corpus with planted entities, at the
  * at-scale config (payload joins shuffle instead of broadcasting). */
final class ErBatch(spark: SparkSession, seed: Long) extends Workload {
  import ErBatch.entities
  private val cfg = ERPipeline.Config(payloadBroadcastMaxRows = 0L)
  private var truth: DataFrame = _
  private var pages: DataFrame = _

  def generate(): Unit = {
    truth = PageGen.pagesWithTruth(spark, entities, seed).localCheckpoint()
    truth.count()
    pages = truth.select("url", "warc_ts", "html", "text", "lang")
  }

  /** Three full passes over the same corpus: the pipeline's JIT profile
    * keeps improving over the first few passes at full size. A tenth-size
    * warm-up left the measured pass a fifth slower than the next; after
    * two full ones the first measured pass was still the slowest. */
  def warmUp(): Unit = (1 to 3).foreach(_ => pass())

  /** `wall_s` is the median of three passes or more, so a pass slowed by
    * a burst of load from outside the run does not move it. */
  override def minPasses: Int = 3

  /** Pairwise P/R/F1 over all page pairs from the contingency table of
    * (cluster, planted entity) counts: pairs inside one cell are true
    * positives, pairs inside one cluster are predicted, pairs inside one
    * entity are true. Linear in the number of pages. */
  private def pairCounts(assign: DataFrame): Map[String, Long] = {
    val j = assign.select("url", "component")
      .join(truth.select("url", "entity_id"), "url")
    def pairs(keys: String*): Long = j.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - 1) / 2).cast(LongType))
      .collect()(0).getLong(0)
    Map("pages" -> j.count(),
      "clusters" -> assign.select("component").distinct().count(),
      "pairs.true_positive" -> pairs("component", "entity_id"),
      "pairs.predicted" -> pairs("component"),
      "pairs.true" -> pairs("entity_id"))
  }

  private def checks(v: Map[String, Long]): Seq[String] = {
    val f = Seq.newBuilder[String]
    if (v("pages") <= 0) f += "no pages"
    if (v("pairs.true_positive") != v("pairs.true"))
      f += s"recall below 1: ${v("pairs.true_positive")} of ${v("pairs.true")} true pairs"
    if (ErBatch.f1(v) < 0.9) f += f"f1 ${ErBatch.f1(v)}%.4f below 0.9"
    f.result()
  }

  def pass(): () => PassOut = {
    val (assign, _) = ERPipeline.run(spark, pages, cfg)
    () => { val v = pairCounts(assign); PassOut(v, checks(v)) }
  }

  def tracedPass(tr: Tracer): (PassOut, Map[String, Double]) = {
    // The calls and persists of ERPipeline.run inside one "pass" span, one
    // span per layer. The slim banded table is materialized in the block
    // span (run() does it at the start of scorePairs). The score span
    // persists the edges ERPipeline.cluster would build, the (l_id, r_id)
    // of the pairs at or above the threshold, and the cluster span makes
    // the ConnectedComponents.run call that cluster makes on them; that
    // one small extra persist is what separates the two layers. Either
    // other split changes the plan: persisting every scored pair made the
    // pass a fifth faster than run(), keeping the score column after the
    // filter made it a sixth slower.
    val persist: DataFrame => DataFrame = _.localCheckpoint()
    val (ex, n, slim, scored, matched, drops, assign) = tr.span("pass") {
      val (ex, n) = tr.span("extract") {
        val ex = persist(ERPipeline.extract(pages))
        val r = ex.agg(count(lit(1)), countDistinct(col("url")),
          countDistinct(col("id"))).collect()(0)
        require(r.getLong(1) == r.getLong(2), "xxhash64(url) id collision")
        (ex, r.getLong(0))
      }
      val slim = tr.span("block") {
        persist(ERPipeline.block(ex, cfg, Some(n))
          .select(col("block_key"), col("id"), col("token_fp")))
      }
      val (scored, matched, drops) = tr.span("score") {
        val (s, d) = ERPipeline.scorePairs(ex, slim, cfg, Some(n), identity)
        (s, persist(s.where(col("score") >= cfg.scoreThreshold)
          .select(col("l_id").as("src"), col("r_id").as("dst"))), d)
      }
      val assign = tr.span("cluster") {
        val comps = ConnectedComponents.run(spark, matched,
          cfg.maxCcIterations, persist)
        persist(ex.select(col("url"), col("id"))
          .join(comps, Seq("id"), "left")
          .select(col("url"), col("id"),
            coalesce(col("component"), col("id")).as("component")))
      }
      (ex, n, slim, scored, matched, drops, assign)
    }
    // after the pass: the evaluation and the layer counts
    val v = tr.span("pairs") { pairCounts(assign) }
    val stop = ERPipeline.tokenStoplist(ex, cfg, Some(n)).size
    val candidates = scored.count()
    val edges = matched.count()
    val split = drops.agg(count(lit(1)),
      coalesce(sum(col("n_total") * (col("n_total") - 1) / 2), lit(0))
        .cast(LongType)).collect()(0)
    val all = v ++ Map("score.candidate_pairs" -> candidates,
      "score.edges" -> edges)
    def wall(s: String) = tr.named(s).head.wallS
    def jobs(s: String) = tr.named(s).head.counts.jobs.toDouble
    val layers = Map(
      "extract.wall_s" -> wall("extract"),
      "extract.rows_out" -> n.toDouble,
      "block.wall_s" -> wall("block"),
      "block.stoplist_size" -> stop.toDouble,
      "block.key_rows" -> slim.count().toDouble,
      "block.split_blocks" -> split.getLong(0).toDouble,
      "block.pairs_capped" -> split.getLong(1).toDouble,
      "score.wall_s" -> wall("score"),
      "score.candidate_pairs" -> candidates.toDouble,
      "score.edges" -> edges.toDouble,
      "score.edge_ratio" -> edges.toDouble / math.max(1L, candidates),
      "score.pairs_per_s" -> candidates / wall("score"),
      "cluster.wall_s" -> wall("cluster"),
      "cluster.jobs" -> jobs("cluster"),
      "cluster.components" -> v("clusters").toDouble,
      "pairs.f1" -> ErBatch.f1(v),
      "pairs.precision" -> ErBatch.precision(v),
      "pairs.recall" -> ErBatch.recall(v))
    (PassOut(all, checks(v)), layers)
  }

  override def extras(out: PassOut): Map[String, Any] = Map(
    "entities" -> entities, "f1" -> ErBatch.f1(out.values),
    "precision" -> ErBatch.precision(out.values),
    "recall" -> ErBatch.recall(out.values))
}

object ErBatch {
  /** Planted entities: ~45 000 pages, ~51 000 edges (driver union-find). */
  val entities = 15000L

  def precision(v: Map[String, Long]): Double =
    v("pairs.true_positive").toDouble / math.max(1L, v("pairs.predicted"))
  def recall(v: Map[String, Long]): Double =
    v("pairs.true_positive").toDouble / math.max(1L, v("pairs.true"))
  def f1(v: Map[String, Long]): Double = {
    val (p, r) = (precision(v), recall(v))
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }
}

/** Connected components, then PageRank, on a generated host link graph
  * large enough that components take the distributed star-round path. */
final class CcGraph(spark: SparkSession, seed: Long) extends Workload {
  import CcGraph.hosts
  private var links: DataFrame = _

  def generate(): Unit = {
    links = LinkGen.links(spark, hosts, seed).localCheckpoint()
    links.count()
  }

  def warmUp(): Unit = {
    // a small graph with the union-find cutoff at 0, so the star-round
    // plans the measured graph takes are compiled before timing starts
    val small = LinkGen.links(spark, math.max(100, hosts / 30), seed + 1)
      .localCheckpoint()
    ConnectedComponents.run(spark, small, driverUnionFindMaxEdges = 0L).count()
    PageRank.run(spark, small, iters = 10).count()
  }

  private def ccOut(cc: DataFrame): Map[String, Long] = {
    val r = hashAgg(cc.select("id", "component"),
      countDistinct(col("component"))).collect()(0)
    checksumValues("cc", r.getLong(0), BigDecimal(r.getDecimal(1))) +
      ("cc.components" -> r.getLong(2))
  }

  private def prOut(pr: DataFrame): Map[String, Long] = {
    val r = hashAgg(pr.select("id", "rank_fp"), sum(col("rank_fp")))
      .collect()(0)
    checksumValues("pagerank", r.getLong(0), BigDecimal(r.getDecimal(1))) +
      ("pagerank.mass" -> r.getLong(2))
  }

  /** Both results against the benchmark's own driver-side references:
    * union-find with min-id labels, and the fixed-point recurrence that
    * PageRank.run documents, over the collected link table. */
  private def checks(cc: DataFrame, pr: DataFrame): Seq[String] = {
    val edges = links.distinct().collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
      .filter { case (a, b) => a != b }
    def compare(what: String, got: DataFrame, want: Array[Long]) = {
      val rows = got.collect()
      val wrong = rows.count(r => want(r.getLong(0).toInt) != r.getLong(1))
      if (rows.length != hosts || wrong > 0)
        Seq(s"$what: ${rows.length} of $hosts nodes, $wrong differ from the reference")
      else Nil
    }
    compare("components", cc, CcGraph.components(hosts, edges)) ++
      compare("pagerank", pr, CcGraph.pageRank(hosts, edges, 10))
  }

  def pass(): () => PassOut = {
    // both results are materialized here: components by the checkpoint,
    // ranks by PageRank's own persist of its last round
    val cc = ConnectedComponents.run(spark, links).localCheckpoint()
    val pr = PageRank.run(spark, links, iters = 10)
    () => PassOut(ccOut(cc) ++ prOut(pr), checks(cc, pr))
  }

  def tracedPass(tr: Tracer): (PassOut, Map[String, Double]) = {
    val (cc, pr) = tr.span("pass") {
      val cc = tr.span("cluster") {
        ConnectedComponents.run(spark, links).localCheckpoint()
      }
      (cc, tr.span("graph") { PageRank.run(spark, links, iters = 10) })
    }
    val v = ccOut(cc) ++ prOut(pr)
    val failures = checks(cc, pr)
    val dedup = links.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
      .distinct().count()
    def span(s: String) = tr.named(s).head
    val layers = Map(
      "cluster.wall_s" -> span("cluster").wallS,
      "cluster.jobs" -> span("cluster").counts.jobs.toDouble,
      "cluster.edges_dedup" -> dedup.toDouble,
      "cluster.components" -> v("cc.components").toDouble,
      "graph.wall_s" -> span("graph").wallS,
      "graph.jobs" -> span("graph").counts.jobs.toDouble)
    (PassOut(v, failures), layers)
  }

  override def extras(out: PassOut): Map[String, Any] = Map("hosts" -> hosts)
}

/** Driver-side references for the cc_graph outputs, over link tables whose
  * node ids are 0 until n and where every node has an edge (LinkGen's). */
object CcGraph {
  /** 525 000 links, ~515 500 deduped undirected edges: over the 500 000
    * edge driver union-find cutoff. */
  val hosts = 150000

  /** Min-id component label of every node. */
  def components(n: Int, edges: Array[(Int, Int)]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Array.tabulate(n)(find(_).toLong)
  }

  /** PageRank.run's fixed-point recurrence over deduped directed edges:
    * rank0 = UNIT / n; each round every node sends (85 r) / (100 outdeg)
    * to each out-neighbour, and the new rank is (15 UNIT / 100) / n plus
    * what the node received (integer division throughout). */
  def pageRank(n: Int, edges: Array[(Int, Int)], iters: Int): Array[Long] = {
    val outdeg = new Array[Long](n)
    edges.foreach { case (s, _) => outdeg(s) += 1 }
    val teleport = (15L * PageRank.UNIT / 100L) / n
    var rank = Array.fill(n)(PageRank.UNIT / n)
    (1 to iters).foreach { _ =>
      val next = Array.fill(n)(teleport)
      edges.foreach { case (s, d) => next(d) += (85L * rank(s)) / (100L * outdeg(s)) }
      rank = next
    }
    rank
  }
}
