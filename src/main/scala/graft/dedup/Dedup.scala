package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.block.Blocking
import graft.functions.GraftFunctions
import graft.score.Similarity

/**
 * Deduplication operators for a web-scale training-data pipeline:
 * exact (hash groupBy), MinHash-LSH near-dup, SimHash, n-gram Jaccard,
 * embedding-cosine near-dup (see graft.ann.Ann for the LSH-bucketed
 * variant). All shuffle on hashes/ids, never on document bodies.
 */
object Dedup {

  /** Exact dedup groups: md5(text) → copies + canonical keeper (min id).
    * One shuffle on the 128-bit content hash; map-side partial agg. */
  def exactGroups(docs: DataFrame, textCol: Column, idCol: Column): DataFrame =
    docs.groupBy(md5(textCol.cast(BinaryType)).as("h")).agg(
      count(lit(1)).as("n_copies"),
      min(idCol).as("keeper"))

  /** Rows to KEEP after exact dedup (the min-id representative per hash). */
  def exactKeepers(docs: DataFrame, textCol: Column, idCol: Column): DataFrame =
    docs.withColumn("_h", md5(textCol.cast(BinaryType)))
      .withColumn("_keep",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("_h")).orderBy(idCol)) === 1)
      .where(col("_keep")).drop("_h", "_keep")

  /** 3-gram character shingles of the normalized text (short strings —
    * titles, names). For document bodies prefer `wordShingles`: char
    * n-grams of natural text are shared by nearly all documents, which
    * collapses LSH into a handful of giant blocks (quadratic pair blowup
    * — measured 700s vs 8s at sf0.01). */
  def shingles(textCol: Column, n: Int = 3): Column =
    GraftFunctions.charShingles(textCol, n)

  /** Broder-style w-shingling: distinct word n-grams of the lowercased
    * text, as ONE compact JVM function per row.
    *
    * PERF (guide §1.2 step 2): the previous pure-expression formulation
    * (transform/sequence/element_at/concat_ws lambdas) is evaluated
    * INTERPRETED by Catalyst (higher-order functions are CodegenFallback),
    * allocating per shingle element — it dominated the per-row cost of
    * every minhash scan. This UDF replays the identical chain in one JVM
    * loop: the tokenizer twin (GraftFunctions.tokensJvm — each step the
    * same library call Spark's native expressions make; parity-spec'd),
    * then sliding w-grams joined by " ", first-
    * occurrence dedup (array_distinct semantics). Output arrays are
    * element-identical on every input the old chain could evaluate
    * (shingle-parity spec); inputs with fewer than w tokens made the old
    * chain throw under ANSI (sequence(1,0) descends into element_at(·,0))
    * — they now yield the natural truncated shingle. */
  def wordShingles(textCol: Column, w: Int = 3): Column = {
    val f = udf { (s: String) =>
      val toks = GraftFunctions.tokensJvm(s)
      if (toks == null || toks.length == 0) Array.empty[String]
      else {
        val nTok = toks.length
        val out = new java.util.LinkedHashSet[String]()
        val last = math.max(nTok - w, 0)
        var start = 0
        while (start <= last) {
          val sb = new java.lang.StringBuilder()
          var j = start
          val end = math.min(start + w, nTok)
          while (j < end) {
            if (j > start) sb.append(' ')
            sb.append(toks(j))
            j += 1
          }
          out.add(sb.toString)
          start += 1
        }
        out.toArray(new Array[String](out.size))
      }
    }
    f(textCol)
  }

  /** MinHash-LSH near-duplicate pairs + block-split stats, verified by
    * exact w-shingle Jaccard >= `jaccardFloor`.
    *
    * Shuffle discipline (same as ERPipeline.scorePairs): the band self-
    * join and pair dedup run on SLIM rows (block_key, id — 16 bytes);
    * shingle arrays are re-attached by two id-joins only for the verify
    * step, so document bodies never ride through the block shuffle.
    * Oversized bands are SPLIT (grouped by exact shingle fingerprint, so
    * exact-duplicate recall is preserved), never row-capped — no silent
    * drops; the split stats table is returned alongside the pairs.
    *
    * @param persist materializer for the two frames more than one
    *   downstream arm consumes: the shingled base (verify joins on both
    *   pair sides) and the slim banded table (size aggregation + both
    *   candidate-join sides). Without it, the tokenize/shingle chain and
    *   the band-key UDF are re-evaluated once per consumer (measured 3×
    *   on the bench corpus). Default `localCheckpoint` is the fast
    *   memory-pinned variant for tests/benchmarks; production corpora
    *   pass a reliable materializer (`_.checkpoint()` / Snapshots) —
    *   same contract as ERPipeline.run(persist). */
  def minhashPairsWithStats(docs: DataFrame, idCol: Column, textCol: Column,
      bands: Int, rowsPerBand: Int, jaccardFloor: Double,
      blockCap: Int = 500,
      persist: DataFrame => DataFrame = _.localCheckpoint())
      : (DataFrame, DataFrame) = {
    val base = persist(docs.select(idCol.as("id"), wordShingles(textCol).as("sh"))
      .withColumn("fp", Blocking.tokenFingerprint(col("sh"))))
    val blocked = persist(Blocking.minhashBlocks(
      base.select(col("id"), col("fp"), col("sh").as("tokens")), col("tokens"),
      bands, rowsPerBand).select("block_key", "id", "fp"))
    val (split, stats) =
      Blocking.splitOversizedBlocks(blocked, "block_key", "fp", blockCap)
    val idPairs = Blocking.candidatePairs(split, "block_key", "id", Nil)
      .select(col("l_id"), col("r_id"))
    val shingleSide = base.select(col("id"), col("sh"))
    val pairs = idPairs
      .join(shingleSide.toDF("l_id", "l_sh"), Seq("l_id"))
      .join(shingleSide.toDF("r_id", "r_sh"), Seq("r_id"))
    val verified = pairs.select(col("l_id"), col("r_id"),
        Similarity.jaccard(col("l_sh"), col("r_sh")).as("jaccard"))
      .where(col("jaccard") >= jaccardFloor)
    (verified, stats)
  }

  /** Pairs-only view of `minhashPairsWithStats` (splitting drops no rows,
    * so discarding the stats table loses information, not data). */
  def minhashPairs(docs: DataFrame, idCol: Column, textCol: Column,
      bands: Int, rowsPerBand: Int, jaccardFloor: Double,
      blockCap: Int = 500,
      persist: DataFrame => DataFrame = _.localCheckpoint()): DataFrame =
    minhashPairsWithStats(docs, idCol, textCol, bands, rowsPerBand,
      jaccardFloor, blockCap, persist)._1

  /** Corpus-side MinHash band index: one slim (block_key, id) row per
    * band per document. This is the artifact an INCREMENTAL pipeline
    * persists next to the corpus (bucketed by block_key via
    * Snapshots.commitBucketed) so that deduplicating a new crawl batch
    * never recomputes — or reshuffles — corpus signatures. */
  def minhashBandIndex(docs: DataFrame, idCol: Column, textCol: Column,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val base = docs.select(idCol.as("id"), wordShingles(textCol).as("sh"))
    Blocking.minhashBlocks(base.select(col("id"), col("sh").as("tokens")),
      col("tokens"), bands, rowsPerBand).select("block_key", "id")
  }

  /** Near-dup pairs of a NEW increment against an EXISTING corpus via its
    * band index: (inc_id, corpus_id, jaccard with jaccard >= floor).
    *
    * Scale shape (the 100 TB daily-batch pattern): the increment is tiny
    * relative to the corpus, so its band keys BROADCAST — the corpus
    * index is only scanned, never shuffled (and with a block_key-bucketed
    * index table, not even sorted). Corpus TEXT is touched exactly once,
    * by an id-equi-join that attaches shingles to verified candidates
    * only. A degenerate hot band (boilerplate) fans the whole corpus to
    * one increment row: `blockCap` bounds index rows per block
    * (`TopK.perKeyWithDrops`) with the drop count SURFACED via the
    * returned stats table, mirroring the stream-static discipline
    * (Streaming.capCorpusBlocks).
    *
    * Set `broadcastIncrement = false` when the "increment" is a backfill
    * comparable in size to the corpus — the join then degrades to the
    * ordinary shuffled band join of the batch path. */
  def incrementalMinhashPairsWithStats(
      increment: DataFrame, incId: Column, incText: Column,
      corpusIndex: DataFrame, corpus: DataFrame, corpusId: Column,
      corpusText: Column, bands: Int, rowsPerBand: Int,
      jaccardFloor: Double, blockCap: Int = 10000,
      broadcastIncrement: Boolean = true): (DataFrame, DataFrame) = {
    val incBase = increment
      .select(incId.as("inc_id"), wordShingles(incText).as("inc_sh"))
    val incBlocks0 = Blocking.minhashBlocks(
      incBase.select(col("inc_id"), col("inc_sh").as("tokens")),
      col("tokens"), bands, rowsPerBand).select("block_key", "inc_id")
    val incBlocks =
      if (broadcastIncrement) broadcast(incBlocks0) else incBlocks0
    val (cappedIndex, drops) = graft.ops.TopK.perKeyWithDrops(
      corpusIndex.select(col("block_key"), col("id").as("corpus_id")),
      col("block_key"), "block_key", Seq(col("corpus_id")), blockCap)
    val candidates = cappedIndex.join(incBlocks, Seq("block_key"))
      .select(col("inc_id"), col("corpus_id"))
      .dropDuplicates("inc_id", "corpus_id")
    val corpusSh = corpus.select(corpusId.as("corpus_id"),
      wordShingles(corpusText).as("c_sh"))
    val verified = candidates
      .join(incBase, Seq("inc_id"))
      .join(corpusSh, Seq("corpus_id"))
      .select(col("inc_id"), col("corpus_id"),
        Similarity.jaccard(col("inc_sh"), col("c_sh")).as("jaccard"))
      .where(col("jaccard") >= jaccardFloor)
    (verified, drops)
  }

  /** Pairs-only view of `incrementalMinhashPairsWithStats`. */
  def incrementalMinhashPairs(
      increment: DataFrame, incId: Column, incText: Column,
      corpusIndex: DataFrame, corpus: DataFrame, corpusId: Column,
      corpusText: Column, bands: Int, rowsPerBand: Int,
      jaccardFloor: Double): DataFrame =
    incrementalMinhashPairsWithStats(increment, incId, incText, corpusIndex,
      corpus, corpusId, corpusText, bands, rowsPerBand, jaccardFloor)._1

  /** 64-bit SimHash over word tokens (JVM function; still a narrow map). */
  val simhashUdf = udf { (toks: Seq[String]) =>
    if (toks == null || toks.isEmpty) 0L
    else {
      val acc = new Array[Int](64)
      toks.foreach { t =>
        // xxhash-free deterministic 64-bit string hash (FNV-1a 64)
        var h = -3750763034362895579L // FNV offset basis
        var i = 0
        while (i < t.length) { h ^= t.charAt(i); h *= 1099511628211L; i += 1 }
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
      out
    }
  }

  def simhash64(textCol: Column): Column =
    simhashUdf(GraftFunctions.tokens(textCol))

  /** Near-dup pairs by SimHash hamming distance <= maxHamming, blocked on
    * 4 x 16-bit bands (any near pair within hamming<=3 shares >=1 band). */
  def simhashPairs(docs: DataFrame, idCol: Column, textCol: Column,
      maxHamming: Int = 3): DataFrame = {
    val base = docs.select(idCol.as("id"), simhash64(textCol).as("sh"))
    val banded = base.withColumn("band", explode(array((0 until 4).map { b =>
      struct(lit(b).as("b"),
        shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }: _*)))
    val l = banded.select(col("band"), col("id").as("l_id"), col("sh").as("l_sh"))
    val r = banded.select(col("band"), col("id").as("r_id"), col("sh").as("r_sh"))
    l.join(r, Seq("band")).where(col("l_id") < col("r_id"))
      .dropDuplicates("l_id", "r_id")
      .withColumn("hamming", bit_count(col("l_sh").bitwiseXOR(col("r_sh"))))
      .where(col("hamming") <= maxHamming)
      .select(col("l_id"), col("r_id"), col("hamming"))
  }

  /** n-gram Jaccard all-pairs above floor within LSH blocks (convenience
    * wrapper with tighter LSH so recall targets high-sim pairs only). */
  def ngramJaccardPairs(docs: DataFrame, idCol: Column, textCol: Column,
      floor: Double = 0.8): DataFrame =
    minhashPairs(docs, idCol, textCol, bands = 8, rowsPerBand = 4, floor)

  /** Near-dup CANONICALIZATION: transitive closure over similarity pairs
    * → one keeper (min id) per near-dup cluster, one row per document.
    * This is the keep-one step a training-data pipeline runs after any
    * pair generator above (minhash / simhash / winnowing / embedding
    * LSH): exact dedup canonicalizes by content hash; near-dup dedup
    * must canonicalize by CONNECTED COMPONENT, because near-duplication
    * is not transitive row-by-row (A~B, B~C, A≁C still collapse to one
    * cluster — dropping pairwise losers double-keeps A and C).
    *
    * Scale shape: ConnectedComponents on 64-bit id edges (O(log n)
    * rounds), then one left join back to the doc ids — document bodies
    * are never touched.
    *
    * @param pairs any (l_id, r_id) pair table from the generators above.
    * @return (doc_id, keeper) for EVERY document (singletons keep
    *   themselves). */
  def nearDupKeepers(docs: DataFrame, idCol: Column, pairs: DataFrame)
      : DataFrame = {
    val comps = graft.cluster.ConnectedComponents.run(docs.sparkSession,
      pairs.select(col("l_id").as("src"), col("r_id").as("dst")))
    docs.select(idCol.as("doc_id"))
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("keeper"))
  }
}
