package graft.ann

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** RHP-LSH near-dup recall, cross-checked against brute force on a fixture
  * with PLANTED near-duplicates (the driver's embeddings.parquet fixture
  * contains none — max pairwise cosine ≈ 0.51 — so the query-level 0-row
  * result is a true negative; this spec proves the operator finds pairs
  * when they exist). */
class AnnSpec extends SparkSuite {
  import spark.implicits._

  private def fixture(n: Int, dim: Int) = {
    val rnd = new scala.util.Random(42)
    val base = (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }
    // one near-duplicate per base vector: tiny relative perturbation
    val dups = base.map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  test("LSH near-dup pairs: recall >= 0.9 vs brute-force truth, precision 1.0") {
    val emb = fixture(50, 32)
    val floor = 0.95
    // brute-force truth (small n): all pairs above the cosine floor
    val l = emb.select($"vec_id".as("l_id"), $"embedding".as("l_emb"))
    val r = emb.select($"vec_id".as("r_id"), $"embedding".as("r_emb"))
    val truth = l.join(r, $"l_id" < $"r_id")
      .withColumn("cos", Ann.cosine($"l_emb", $"r_emb"))
      .where($"cos" >= floor)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(truth.size >= 40, s"fixture must plant near-dups, got ${truth.size}")

    val found = Ann.cosineNearDupLsh(emb, bits = 8, cosFloor = floor)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    // precision 1.0 by construction (exact-cosine verify step)
    assert(found.subsetOf(truth), s"false positives: ${found.diff(truth)}")
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${found.size}/${truth.size})")
  }

  test("EmbGen fixture: LSH at driver-query parameters = exact truth, nonzero") {
    // the emb_neardup_lsh oracle depends on this exhaustively: at
    // (bits=12, floor=0.9, multi-probe hamming-1) LSH candidate pruning
    // must lose NOTHING on the planted fixture — pairs == brute force
    val emb = graft.gen.EmbGen.embeddings(spark)
    val l = emb.select($"vec_id".as("l_id"), $"embedding".as("l_emb"))
    val r = emb.select($"vec_id".as("r_id"), $"embedding".as("r_emb"))
    val truth = l.join(r, $"l_id" < $"r_id")
      .withColumn("cos", Ann.cosine($"l_emb", $"r_emb"))
      .where($"cos" >= 0.9)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    // every planted near-dup (and nothing else) is above the floor:
    // (base i = 1000000+i, near twin = 1100000+i)
    assert(truth === (0 until 32).map(i =>
      (1000000L + i, 1100000L + i)).toSet)
    val found = Ann.cosineNearDupLsh(emb, bits = 12, cosFloor = 0.9)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(found === truth)
    // far-perturbed rows sit well below the floor — sub-floor reject path
    val farMax = l.join(r, $"l_id" + 200000L === $"r_id")
      .withColumn("cos", Ann.cosine($"l_emb", $"r_emb"))
      .agg(max($"cos")).head().getDouble(0)
    assert(farMax < 0.8, s"epsFar population too similar: $farMax")
  }

  test("IVF top-k: high recall vs brute force; full-probe equals exact") {
    val emb = fixture(40, 32)
    val truth = Ann.bruteForceTopK(emb, nQueries = 6, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // probing every list must reproduce brute force exactly
    val full = Ann.ivfTopK(emb, nQueries = 6, k = 3, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full === truth)
    // partial probes: approximate but high-recall on this fixture
    val part = Ann.ivfTopK(emb, nQueries = 6, k = 3, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (part intersect truth).size.toDouble / truth.size
    assert(recall >= 0.7, s"ivf recall $recall")
  }

  test("near-dup bucket join shuffles slim id rows, never embeddings") {
    // AQE off so the compiled plan's exchanges are directly inspectable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = fixture(50, 32)
      val out = Ann.cosineNearDupLsh(emb, bits = 8, cosFloor = 0.95,
        dimOpt = Some(32))
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val shuffles = out.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s.output.map(_.name)
      }
      assert(shuffles.nonEmpty)
      shuffles.foreach { cols =>
        val carriesEmb = cols.exists(_.toLowerCase.contains("emb"))
        // the bucket join + pair dedup must be embedding-free; the only
        // exchanges allowed to carry an embedding are the two slim
        // (id, embedding) payload re-attach sides
        assert(!carriesEmb || cols.size <= 2,
          s"embedding array in a wide shuffle: $cols")
        assert(!(cols.contains("bucket") && carriesEmb),
          s"embedding shuffled through the bucket join: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("IVF quantizer survives content-correlated id order") {
    // 4 well-separated content clusters with ids assigned CLUSTER-MAJOR:
    // the lowest vec_ids all live in cluster 0 — exactly the corpus shape
    // (timestamp/shard-sorted ids) where lowest-vec_id seeding degenerates.
    // Hash-spread seeding must keep partial-probe recall high anyway.
    val rnd = new scala.util.Random(3)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat * 5f))
    val rows = for (c <- 0 until 4; i <- 0 until 12) yield
      ((c * 12 + i).toLong,
        centers(c).map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    val emb = rows.toDF("vec_id", "embedding")
    val truth = Ann.bruteForceTopK(emb, nQueries = 8, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val part = Ann.ivfTopK(emb, nQueries = 8, k = 3, nlist = 4, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (part intersect truth).size.toDouble / truth.size
    assert(recall >= 0.7, s"ivf recall $recall under content-correlated ids")
  }

  test("IVF probe stats expose per-query candidate counts") {
    val emb = fixture(30, 16)   // 60 vectors incl. planted dups
    val queryIds = emb.orderBy($"vec_id").limit(5)
      .select($"vec_id".as("query_id"))
    val stats = Ann.ivfProbeStats(
      Ann.ivfCandidates(emb, nQueries = 5, nlist = 8, nprobe = 8), queryIds)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_candidates"))
      .toMap
    assert(stats.size === 5)
    // full probe ⇒ every query sees the whole corpus minus itself
    stats.foreach { case (q, n) => assert(n === 59L, s"query $q saw $n") }
    // the fully-degenerate case must SURFACE as an explicit zero row, not
    // vanish: a query id with no candidates at all
    val ghost = Seq(-1L).toDF("query_id")
    val z = Ann.ivfProbeStats(
      Ann.ivfCandidates(emb, nQueries = 5, nlist = 8, nprobe = 8),
      queryIds.union(ghost))
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_candidates"))
      .toMap
    assert(z(-1L) === 0L)
  }

  test("kmeansAssign: declarative twin matches nearestList; zero shuffle") {
    val train = fixture(60, 32)
    val cents = Ann.trainIvfCentroids(train, nlist = 6, lloydIters = 2)
    // non-finite vectors: NaN makes every dot NaN; ±Inf in one dimension
    // makes the dots ±Inf — Spark's round passes both through
    val v0 = train.where($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()
    val emb = train.union(Seq(
      (-1L, v0.updated(3, Float.NaN)),
      (-2L, v0.updated(0, Float.PositiveInfinity)),
      (-3L, v0.updated(0, Float.NegativeInfinity))).toDF("vec_id", "embedding"))
    // dots compared as bits: NaN == NaN, Inf and the 6-place grid exact
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val a = Ann.kmeansAssign(emb, cents)
      .select($"vec_id", $"topic", $"dot").as[(Long, Long, Double)].collect()
      .map { case (id, t, d) => id -> (t, bits(d)) }.toMap
    val b = emb.select($"vec_id",
        Ann.nearestList($"embedding", cents).cast("long").as("topic"))
      .as[(Long, Long)].collect().toMap
    assert(a.map { case (id, (t, _)) => id -> t } === b)
    // the declarative formulation: per-centroid left-fold dot rounded to
    // 6 places, first max under Spark's double ordering (NaN highest)
    val dots = transform(typedLit(cents.map(_.toSeq).toSeq), c =>
      round(aggregate(zip_with($"embedding", c, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x), 6))
    val want = emb.select($"vec_id",
        (array_position(dots, array_max(dots)) - 1).as("topic"),
        array_max(dots).as("dot"))
      .as[(Long, Long, Double)].collect()
      .map { case (id, t, d) => id -> (t, bits(d)) }.toMap
    assert(a === want)
    assert(a(-1L)._2 === bits(Double.NaN))
    assert(Set(a(-2L)._2, a(-3L)._2).subsetOf(
      Set(bits(Double.PositiveInfinity), bits(Double.NegativeInfinity))))
    assert(a.size === 123) // every vector assigned exactly once
    assert(a.values.map(_._1).toSet.size > 1, "degenerate single-topic clustering")
    val plan = Ann.kmeansAssign(emb, cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("signature is deterministic across partitionings") {
    val emb = fixture(20, 16)
    def sigs(parts: Int) = Ann.rhpSignature($"embedding", 10, 16)
    val a = emb.repartition(1).select($"vec_id", sigs(1).as("s"))
      .as[(Long, Long)].collect().toMap
    val b = emb.repartition(7).select($"vec_id", sigs(7).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }
}
