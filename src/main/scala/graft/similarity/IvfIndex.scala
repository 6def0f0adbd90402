package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.expressions.NearestCentroids
import graft.operators.RelationalOps.round6
import graft.util.{FileLease, Fs, SwapDir, Tombstones}

/** IVF (inverted-file) approximate nearest-neighbor index — the coarse-
  * quantizer alternative to hyperplane LSH:
  *
  *  1. train: spherical k-means (Lloyd, cosine assignment) on a bounded
  *     corpus sample. The sample is driver-sized by construction
  *     (`sampleSize ≈ 50·k` rows), which is the standard IVF recipe — the
  *     quantizer needs only a sketch of the distribution, never the corpus.
  *  2. assign: every corpus vector to its nearest centroid (one cell);
  *     every query to its `nProbe` nearest cells (recall dial).
  *  3. search: equi-join on cell id → fused-cosine verify → per-query
  *     top-k (bounded-heap aggregate). Work is |corpus|/k · nProbe per
  *     query instead of |corpus| — the scale path when the corpus clusters.
  */
object IvfIndex {

  /** Defaults are the measured operating point on the weakly-clustered
    * synthetic corpus (sf0.1 sweep, recall@10 on 64 probes):
    * nProbe/nCentroids 4/16 → 0.54, 8/16 → 0.79, 8/32 → 0.58, 8/64 → 0.49
    * — recall tracks the scanned fraction almost linearly, i.e. the DATA
    * (not quantizer quality) is the recall limiter, so the default probes
    * half the cells. This also keeps the retrain-on-drift loop coherent:
    * `retrainIfDrifted`'s 0.7 threshold sits between the healthy default
    * (~0.79) and a genuinely degraded index — under the old 4/16 default
    * (~0.54) it would retrain forever without ever helping. On a corpus
    * that actually clusters, tune nProbe down (and nCentroids up: at equal
    * scan fraction, finer cells measured strictly better — 8/64's 0.49 at
    * 12.5 % vs 4/32's 0.36). */
  final case class Config(
      nCentroids: Int = 16,
      iters: Int = 10,
      nProbe: Int = 8,
      sampleSize: Int = 800,
      seed: Long = 42L)

  /** Production sizing: `nCentroids ≈ √n` (the FAISS-family rule — cells
    * shrink as the corpus grows, so the probed fraction falls with scale).
    * At this sizing a FIXED nProbe is NOT a recall policy: the measured
    * curve on the jittered synthetic corpora (SCALING.md round-12) reads
    * recall@10 ≈ 0.55 at nProbe 8 across sf0.1–sf10, reaching 0.8 only at
    * nProbe ≈ 24–32 (scan fraction 0.2–0.5 — the data clusters weakly, so
    * recall buys scan). The shipped operating point is therefore MEASURED,
    * not assumed: [[calibrateNProbe]] walks the dial on the standing index
    * until the recall estimate clears the target (default 0.8) and returns
    * the point — run it once after build/retrain, persist the choice with
    * the serving config. */
  def prodConfig(n: Long): Config = {
    val cells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    Config(nCentroids = cells, sampleSize = math.max(800, 8 * cells))
  }

  /** Spherical k-means on a driver-side sample. Deterministic: hash-thinned
    * bounded sample, seeded init, fixed iteration count.
    *
    * The sample is taken WITHOUT a `count()` (an extra full-table action at
    * 100 TB just to size a fraction): hash-thin the stream 1-in-16, then
    * `limit(sampleSize)` — CollectLimit scans partitions incrementally until
    * the limit fills, so only a corpus prefix is read. Training on a leading
    * sample is the standard IVF recipe (FAISS trains on the first N vectors);
    * the hash thinning decorrelates the sample from storage order within
    * that prefix. A small corpus that can't fill the thinned sample falls
    * back to taking the head directly (one cheap re-collect). */
  def trainCentroids(corpus: DataFrame, vecCol: String, cfg: Config): Seq[Seq[Double]] = {
    def collectSample(thin: Int): Array[Array[Double]] = {
      val base = corpus.select(col(vecCol))
      val thinned =
        if (thin > 1) base.filter(pmod(xxhash64(col(vecCol)), lit(thin)) === 0)
        else base
      thinned.limit(cfg.sampleSize).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    }
    var sample = collectSample(16)
    if (sample.length < math.max(cfg.nCentroids, cfg.sampleSize / 2))
      sample = collectSample(1)
    require(sample.nonEmpty, "empty corpus sample")

    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val normed = sample.map(normalize)
    val rnd = new scala.util.Random(cfg.seed)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }

    // k-means++ seeding (D² weighting, cosine distance d = 1 − cos): spreads
    // the initial centroids over the sample instead of clumping them where a
    // uniform draw happens to land — the single biggest quantizer-quality
    // (hence recall) lever on weakly-clustered corpora.
    val k = math.min(cfg.nCentroids, normed.length)
    val chosen = scala.collection.mutable.ArrayBuffer(normed(rnd.nextInt(normed.length)))
    val d2 = normed.map(v => { val d = 1.0 - dot(v, chosen.head); d * d })
    while (chosen.length < k) {
      val total = d2.sum
      val next =
        if (total <= 0) normed(rnd.nextInt(normed.length))
        else {
          var r = rnd.nextDouble() * total
          var i = 0
          while (i < d2.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
          normed(i)
        }
      chosen += next
      var i = 0
      while (i < normed.length) {
        val d = 1.0 - dot(normed(i), next)
        if (d * d < d2(i)) d2(i) = d * d
        i += 1
      }
    }
    var centroids = chosen.toArray

    for (_ <- 1 to cfg.iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](normed.head.length))
      val counts = new Array[Int](centroids.length)
      // track each cluster's worst-assigned member: the reseed candidate
      // for any cluster that empties out
      val worst = new Array[Int](centroids.length)
      val worstDot = Array.fill(centroids.length)(Double.MaxValue)
      normed.zipWithIndex.foreach { case (v, vi) =>
        var best = 0; var bestDot = Double.MinValue
        for (c <- centroids.indices) {
          val d = dot(v, centroids(c))
          if (d > bestDot) { bestDot = d; best = c }
        }
        counts(best) += 1
        if (bestDot < worstDot(best)) { worstDot(best) = bestDot; worst(best) = vi }
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      // an empty cluster is a wasted probe cell forever: reseed it on the
      // worst-fitting member of the fullest cluster
      val fullest = counts.indices.maxBy(counts)
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) normed(worst(fullest))
        else normalize(sums(c))
      }.toArray
    }
    centroids.map(_.toSeq).toSeq
  }

  /** Approximate k-NN join through the IVF cells; per-query top-k via the
    * bounded-heap aggregate (partial aggregation — see
    * [[SimilaritySearch.topKPerKey]]). Transient form: trains the quantizer
    * on every call — right for one-shot queries and the registry entry. A
    * standing corpus should [[build]] once and [[searchIndex]] repeatedly. */
  def knnJoinIVF(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, cfg: Config = Config()): DataFrame = {
    val centroids = trainCentroids(corpus, vecCol, cfg)
    probe(queries, assignCells(corpus, idCol, vecCol, centroids),
      idCol, vecCol, centroids, k, cfg.nProbe)
  }

  /** PORTABLE-oracle twin of [[knnJoinIVF]] — the same search semantics
    * (one cell per corpus vector, nProbe cells per query, exact-cosine
    * top-k within the probed cells) with the k-means quantizer replaced by
    * [[SemDedup]]'s deterministic hash-chosen seed cells, so every stage is
    * SQL-replayable and the registry entry carries a full DuckDB oracle
    * (the ANN-family analog of the Rademacher LSH twins; the production
    * entry keeps the trained quantizer and its recall spec). Cell
    * assignment and probe ranking both use the 6-dp-rounded cosine with
    * seed-id tiebreaks — no float divergence can flip a cell or a probe.
    *
    * Scale shape is the production path's: the seed set is O(nCells·dim)
    * broadcast, assignment a per-row map, the probe an equi-join on cell
    * id, top-k the bounded-heap aggregate. The probe ranking window runs
    * over nCells rows per query (tiny by construction). */
  def knnJoinIVFPortable(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val asg = SemDedup.assignCells(corpus, idCol, vecCol, nCells)
      .select(col("cell_id"), col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val seeds = SemDedup.seeds(corpus, idCol, vecCol, nCells)
    probeTopK(seedProbe(queries, idCol, vecCol, seeds, nProbe, "cell_id"),
      asg, "cell_id", k)
  }

  /** The portable quantizer's probe: each query's `nProbe` highest
    * rounded-cosine seed cells (seed-id tiebreak), as (query_id, qv,
    * `cellCol`) rows. */
  private def seedProbe(queries: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, nProbe: Int, cellCol: String): DataFrame = {
    val qs = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
    val probed = qs.crossJoin(broadcast(seeds))
      .withColumn("ps", round6(SimilaritySearch.cosine(col("qv"), col("sv"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("ps").desc, col("seed_id"))
    probed
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("seed_id").as(cellCol))
  }

  /** Every corpus vector assigned to its single nearest cell — the inverted
    * file. */
  private def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      explode(NearestCentroids(col(vecCol), centroids, 1)).as("cell"))

  /** The trained quantizer's search: each query probes its `nProbe`
    * nearest centroids. Both the transient and the persisted path end
    * here, so they agree by construction. */
  private def probe(queries: DataFrame, corpusCells: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Seq[Double]],
      k: Int, nProbe: Int): DataFrame = {
    val queryCells = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(NearestCentroids(col(vecCol), centroids, nProbe)).as("cell"))
    probeTopK(queryCells, corpusCells, "cell", k)
  }

  /** The shared search tail of every quantizer: probe-cell join →
    * fused-cosine verify → bounded-heap top-k. No (query, cand) duplicates
    * are possible: a corpus vector lives in exactly one cell, so it meets
    * each query through at most one probe. */
  private def probeTopK(queryCells: DataFrame, corpusCells: DataFrame,
      cellCol: String, k: Int): DataFrame = {
    val scored = queryCells.join(corpusCells, Seq(cellCol))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", round6(SimilaritySearch.cosine(col("qv"), col("cv"))))
      .select(col("query_id"), col("cand_id"), col("score"))
    SimilaritySearch.topKPerKey(scored, "query_id", "score", "cand_id", k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rnk"))
  }

  /** The inverted file's write layout: hash-clustered and sorted by cell,
    * so row-group min/max stats skip non-probed cells. */
  private def clusterByCell(cells: DataFrame): DataFrame =
    cells.repartition(cells.sparkSession.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions(col("cell"))

  // ---- persisted lifecycle -------------------------------------------------
  //
  // A 100 TB corpus trains its quantizer ONCE and reuses it: `build` writes
  // the index as two parquet tables under `dir` —
  //   centroids/  (cell: int, centroid: array<double>)   — tiny, driver-read
  //   cells/      (cand_id, cv, cell)                    — the inverted file,
  //               hash-clustered and sorted by cell so row-group min/max
  //               stats skip non-probed cells on selective reads
  // — and `searchIndex` probes it without touching the training path.
  // `appendVectors` assigns NEW vectors with the STORED centroids (cheap,
  // no retrain) and appends them to the inverted file: the standard IVF
  // maintenance model (retrain only when drift degrades recall, measured —
  // not on every ingest).

  // Mutating entry points hold the index's [[FileLease]] (the fact
  // table's cross-process writer coordination): a second maintainer
  // process queues instead of interleaving appends and compactions.
  // Readers never take it.

  /** Tombstoned vector ids ([[deleteVectors]]). */
  private def tombs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    new Tombstones(spark, dir, "cand_id")

  /** The inverted file as of its last complete swap, minus tombstones.
    * Every reader resolves cells through here, so the tombstone anti-join
    * covers search, recall estimation, and the curation replay guard
    * uniformly — a deleted id reads as "not indexed", which is exactly
    * what a re-crawl of forgotten content should see. */
  private def readCells(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    tombs(spark, dir).minus(SwapDir.read(spark, s"$dir/cells"))

  /** Train on `corpus` and persist the index under `dir` (overwrites). */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      cfg: Config = Config()): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      // a rebuild REPLACES the index: the old generation's tombstones
      // must not touch the new one
      tombs(spark, dir).clear()
      val centroids = trainCentroids(corpus, vecCol, cfg)
      centroids.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      clusterByCell(assignCells(corpus, idCol, vecCol, centroids))
        .write.mode("overwrite").parquet(s"$dir/cells")
    }
  }

  /** The stored quantizer, cell-ordered. */
  def readCentroids(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$dir/centroids").orderBy(col("cell"))
      .select(col("centroid")).collect()
      .map(_.getSeq[Double](0)).toSeq

  /** Assign new vectors with the stored centroids and append them to the
    * inverted file — no retrain, no touch of existing cells. Holds the
    * writer lease; when the inverted file passes the compaction threshold
    * (continuous append accretes `defaultParallelism` splinter files per
    * batch), it is re-clustered and swapped in the same hold. */
  def appendVectors(newDocs: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    new FileLease(dir).withLease(Fs.of(newDocs.sparkSession, dir)) {
      appendVectorsUnlocked(newDocs, idCol, vecCol, dir)
    }
  }

  /** The append body, for callers that already hold the lease
    * ([[curateBatch]] — the lease is not reentrant). */
  private def appendVectorsUnlocked(newDocs: DataFrame, idCol: String,
      vecCol: String, dir: String): Unit = {
    val spark = newDocs.sparkSession
    val centroids = readCentroids(spark, dir)
    clusterByCell(assignCells(newDocs, idCol, vecCol, centroids))
      .write.mode("append").parquet(s"$dir/cells")
    compactUnlocked(spark, dir, SwapDir.maxFiles(spark))
  }

  /** Compact `cells/` when its data-file count exceeds `maxFiles` (0 → the
    * default threshold): stage-then-swap re-clustering (sorted by cell so
    * row-group min/max skipping survives) — search results unchanged, same
    * rows re-laid-out. Crash between the renames is repaired from the
    * backup by the next leased writer; readers resolve through the backup
    * meanwhile. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      maxFiles: Int = 0): Unit =
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      compactUnlocked(spark, dir, SwapDir.maxFiles(spark, maxFiles))
    }

  private def compactUnlocked(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxFiles: Int): Unit = {
    val tb = tombs(spark, dir)
    // pending deletes force the rewrite regardless of file count —
    // compaction is where tombstones become physical removal
    val hasTombs = tb.pending
    SwapDir.compact(spark, s"$dir/cells", maxFiles, force = hasTombs)(df =>
      clusterByCell(tb.minus(df)))
    if (hasTombs) tb.clear()
  }

  /** Tombstone-delete indexed vectors — right-to-be-forgotten for the
    * standing ANN index, completing the pattern across all three persisted
    * indexes (RetrievalIndex / TextDedupIndex / here). O(delete batch)
    * under the writer lease; searches and the curation anti-join stop
    * returning (or matching against) the ids immediately, and [[compact]]
    * physically removes their inverted-file rows. Idempotent. The trained
    * centroids are statistics over the historical corpus (k means, not
    * content) and persist until the next [[build]]/retrain — the
    * recall-drift monitor already covers a corpus that drifts from its
    * quantizer. */
  def deleteVectors(ids: DataFrame, dir: String, idCol: String): Unit = {
    val spark = ids.sparkSession
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      // a delete wave past the broadcast cap compacts NOW (physical
      // removal + tomb clear) instead of taxing every later read
      if (tombs(spark, dir).append(ids, idCol))
        compactUnlocked(spark, dir, SwapDir.maxFiles(spark))
    }
  }

  // ---- portable persisted lifecycle ---------------------------------------
  //
  // [[knnJoinIVFPortable]]'s SemDedup-seed quantizer given the same
  // build/append/delete/compact lifecycle as the trained index, so the
  // DELETION end-state can carry a full DuckDB oracle: hash-chosen seeds,
  // rounded argmax-cosine assignment, probe ranking, and the exact
  // shortlist rerank are all SQL-replayable. Because [[appendVectorsPortable]]
  // assigns with the STORED seeds, `buildPortable(survivors)` +
  // `append(victims)` + `deleteVectors(victims)` + `compact` ends
  // byte-identical to a fresh build on the survivors — the
  // search-after-delete ≡ fresh-build-on-survivors property the TRAINED
  // quantizer deliberately does not offer (its centroids are statistics of
  // the historical corpus, untouched by deletes until a retrain). Storage
  // shares `cells/` + `tomb/`, so [[deleteVectors]], [[compact]] and the
  // tombstone read path work unchanged; the quantizer lives under `seeds/`
  // instead of `centroids/`, which also makes a mismatched search fail
  // loudly (missing subtable) instead of probing a foreign quantizer.

  /** Persist a portable-quantizer index under `dir` (overwrites): seeds =
    * the `nCells` corpus rows with the smallest portable id-hash
    * ([[SemDedup.seeds]]), cells = rounded argmax-cosine assignment. */
  def buildPortable(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nCells: Int = 16): Unit = {
    val spark = corpus.sparkSession
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      tombs(spark, dir).clear() // same rebuild contract as [[build]]
      val seeds = SemDedup.seeds(corpus, idCol, vecCol, nCells).localCheckpoint()
      seeds.coalesce(1).write.mode("overwrite").parquet(s"$dir/seeds")
      writePortableCells(corpus, idCol, vecCol, dir, seeds, "overwrite")
    }
  }

  private def writePortableCells(docs: DataFrame, idCol: String, vecCol: String,
      dir: String, seeds: DataFrame, mode: String): Unit =
    clusterByCell(SemDedup.assignCellsTo(docs, idCol, vecCol, seeds)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        col("cell_id").as("cell")))
      .write.mode(mode).parquet(s"$dir/cells")

  /** Assign new vectors with the STORED seeds and append — the portable
    * twin of [[appendVectors]] (no reseed: the quantizer is fixed until the
    * next [[buildPortable]], so append-then-forget converges to the
    * fresh-on-survivors image). */
  def appendVectorsPortable(newDocs: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = newDocs.sparkSession
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      val seeds = spark.read.parquet(s"$dir/seeds").localCheckpoint()
      writePortableCells(newDocs, idCol, vecCol, dir, seeds, "append")
      compactUnlocked(spark, dir, SwapDir.maxFiles(spark))
    }
  }

  /** Search a portable persisted index — identical math to
    * [[knnJoinIVFPortable]] over the stored seed set and inverted file
    * (6-dp-rounded cosines, seed-id tiebreaks, bounded-heap top-k), with
    * tombstoned ids anti-joined like every cells reader. */
  def searchIndexPortable(queries: DataFrame, dir: String, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val seeds = spark.read.parquet(s"$dir/seeds")
    probeTopK(seedProbe(queries, idCol, vecCol, seeds, nProbe, "cell"),
      readCells(spark, dir), "cell", k)
  }

  /** Search a persisted index: read centroids (driver-side, tiny), scan the
    * inverted file, probe. Identical math to [[knnJoinIVF]] — results match
    * the transient path exactly when built from the same corpus/config. */
  def searchIndex(queries: DataFrame, dir: String, idCol: String, vecCol: String,
      k: Int, nProbe: Int = Config().nProbe): DataFrame = {
    val spark = queries.sparkSession
    val centroids = readCentroids(spark, dir)
    probe(queries, readCells(spark, dir), idCol, vecCol, centroids, k, nProbe)
  }

  // ---- continuous vector curation -----------------------------------------
  //
  // The embedding-side twin of TextDedupIndex.curateBatch/curateStream:
  // arriving vectors are collapsed within the batch (banded LSH + exact
  // cosine + connected components, min-id survivor), deduped against the
  // STANDING index (stored-centroid probe + exact cosine), and the
  // survivors land in the curated output and the inverted file — one
  // read-decide-append cycle per batch under the writer lease.
  //
  // Unlike the text path, NO crash ledger is needed: the inverted file
  // itself is the processed-id record. Every batch opens with an EXACT id
  // anti-join against `cells/` (an id-only, column-pruned scan), so a
  // replayed batch — foreachBatch redelivery, re-crawl, a second feed of
  // the same ids — drops its already-appended survivors before any sketch
  // work. Ordering inside the batch is output-append THEN index-append
  // (the never-drop bias): a crash between the two replays the batch and
  // re-appends the same survivor rows to the output — duplicate-output
  // residue with exactly-once INDEX state, the same documented trade as
  // the text ledger's degraded path. Downstream consumers dedup the
  // curated output by id (exact, cheap) when exactly-once output matters.

  /** One vector-curation step. Returns the survivor ids (batch-bounded).
    * `lsh` drives the intra-batch banding (`dim` must match the vectors);
    * `simThreshold` is the rounded-cosine near-dup cut for BOTH the
    * intra-batch pairs and the standing-index match. */
  def curateBatch(batch: DataFrame, dir: String, outDir: String,
      idCol: String, vecCol: String, lsh: SimilaritySearch.LshConfig,
      simThreshold: Double = 0.95, nProbe: Int = Config().nProbe): Array[Long] = {
    val spark = batch.sparkSession
    import spark.implicits._
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      val indexedIds = readCells(spark, dir).select(col("cand_id").as(idCol)).distinct()
      // Replay/re-crawl guard: exact id membership in the inverted file.
      // dropDuplicates FIRST: the same id arriving twice IN one batch (a
      // double-read feed file, an item crawled twice before the batch
      // boundary) would otherwise slip all three guards — equal ids form
      // no a_id < b_id pair and a novel vector matches nothing — and land
      // twice in the index, breaking the exactly-once invariant.
      val fresh = batch.select(col(idCol), col(vecCol))
        .dropDuplicates(idCol)
        .join(indexedIds, Seq(idCol), "left_anti")
        .localCheckpoint() // one consistent view for pairs + probe + append
      // intra-batch collapse: near-dup components keep their min id
      val pairs = SimilaritySearch.embeddingDupPairs(
        fresh, idCol, vecCol, simThreshold, lsh)
      val cc = graft.dedup.ConnectedComponents.components(pairs, "a_id", "b_id")
      val intra = fresh.join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
        .filter(coalesce(col("component"), col(idCol)) === col(idCol))
        .select(col(idCol), col(vecCol))
      // standing-corpus near-dup drop (stored centroids, exact cosine)
      val matched = searchIndex(intra, dir, idCol, vecCol, 1, nProbe)
        .filter(col("score") >= simThreshold)
        .select(col("query_id").as(idCol)).distinct()
      val survivors = intra.join(matched, Seq(idCol), "left_anti").localCheckpoint()
      survivors.write.mode("append").parquet(outDir) // output first: never drop
      appendVectorsUnlocked(survivors, idCol, vecCol, dir)
      survivors.select(col(idCol).cast("long")).as[Long].collect()
    }
  }

  /** Continuous curation: [[curateBatch]] per micro-batch. Idempotency
    * rides the inverted file's id set (see the section comment), so the
    * checkpoint carries only source offsets. */
  def curateStream(input: DataFrame, dir: String, outDir: String,
      checkpointDir: String, idCol: String, vecCol: String,
      lsh: SimilaritySearch.LshConfig, simThreshold: Double = 0.95,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        curateBatch(batch, dir, outDir, idCol, vecCol, lsh, simThreshold): Unit
      }
      .start()

  // ---- recall drift --------------------------------------------------------
  //
  // `appendVectors` assigns with the STORED centroids indefinitely; if the
  // corpus distribution drifts (a new embedding domain, a new data source),
  // the quantizer partitions the new region badly and nProbe cells stop
  // covering the true neighbors — recall decays SILENTLY. The standard
  // maintenance rule is "retrain when measured recall degrades", so the
  // measurement must exist: `recallEstimate` compares the index's top-k
  // against the exact brute-force top-k on a bounded probe sample drawn
  // from the indexed corpus itself (which includes every appended batch —
  // a drifted append pulls probes from the drifted region in proportion).

  /** Estimated recall@k of the persisted index vs exact brute-force cosine,
    * on a deterministic hash-thinned sample of `sampleN` indexed vectors.
    * Cost: sampleN brute-force scans of the corpus (broadcast probe side) +
    * one index search — bounded, driver state O(sampleN·k). */
  def recallEstimate(spark: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 10, sampleN: Int = 64, nProbe: Int = Config().nProbe): Double = {
    val (probes, exact) = probeTruth(spark, dir, k, sampleN)
    meanRecall(exact, candSets(searchIndex(probes, dir, "vid", "vec", k, nProbe)))
  }

  /** Bounded probe sample of the indexed corpus plus its exact brute-force
    * top-k — the shared instrument of [[recallEstimate]] and
    * [[calibrateNProbe]]: the exact pass is the expensive half (sampleN
    * brute-force corpus scans), so a calibration sweep computes it ONCE
    * and varies only the cheap index searches against it. */
  private def probeTruth(spark: org.apache.spark.sql.SparkSession, dir: String,
      k: Int, sampleN: Int): (DataFrame, Map[String, Set[String]]) = {
    val cells = readCells(spark, dir)
    val corpus = cells.select(col("cand_id").as("vid"), col("cv").as("vec"))
    // deterministic bounded probe sample; fall back to the head when the
    // thinned stream can't fill it (tiny corpus)
    val thinned = corpus.filter(pmod(xxhash64(col("vid").cast("string")), lit(7)) === 0)
      .limit(sampleN)
    val probes0 = thinned.localCheckpoint()
    val probes = if (probes0.count() >= math.min(sampleN, 8).toLong) probes0
      else corpus.limit(sampleN).localCheckpoint()
    (probes, candSets(SimilaritySearch.knnJoinBrute(probes, corpus, "vid", "vec", k)))
  }

  /** (query_id, cand_id) rows collected as query → candidate set; ids
    * surface as strings so the estimate stays id-type agnostic. */
  private def candSets(pairs: DataFrame): Map[String, Set[String]] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col("query_id").cast("string"), col("cand_id").cast("string"))
      .as[(String, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  /** Mean per-query recall of `approx` against `exact` (an empty truth set
    * counts as fully recalled). */
  private def meanRecall(exact: Map[String, Set[String]],
      approx: Map[String, Set[String]]): Double = {
    val recalls = exact.toSeq.map { case (q, truth) =>
      if (truth.isEmpty) 1.0
      else (truth & approx.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }
    if (recalls.isEmpty) 1.0 else recalls.sum / recalls.size
  }

  /** The measured recall dial (VERDICT r11 #1): walk nProbe up by doubling
    * until the recall estimate on the standing index clears `target`,
    * returning (nProbe, measured recall). This IS the production operating
    * point chooser — at √n sizing no fixed nProbe is a recall policy (the
    * probed fraction shrinks with scale and the recall/scan trade is a
    * property of the DATA), so the shipped default is measure-then-pin:
    * run once after build/retrain (cost: one brute-force truth pass + ≤
    * log₂(cells) bounded index searches), persist the chosen width with
    * the serving config, re-run with the drift monitor. Converges to
    * nProbe = nCells (exact search, recall 1.0 by construction) when the
    * target is unreachable any cheaper. */
  def calibrateNProbe(spark: org.apache.spark.sql.SparkSession, dir: String,
      target: Double = 0.8, k: Int = 10, sampleN: Int = 64): (Int, Double) = {
    val centroids = readCentroids(spark, dir)
    val nCells = centroids.size
    val (probes, exact) = probeTruth(spark, dir, k, sampleN)
    // The doubling ladder the sweep walks: 1, 2, 4, …, capped at nCells.
    val ladder = {
      val b = Seq.newBuilder[Int]
      var np = 1
      b += np
      while (np < nCells) { np = math.min(np * 2, nCells); b += np }
      b.result()
    }
    // ONE index search at full probe width instead of one per ladder step
    // (r13): NearestCentroids ranks cells by a stable total order
    // (-score, index), so the top-np cells are exactly the first np of the
    // full-width list — every smaller setting's candidate set is a PREFIX.
    // Tag each candidate with its cell's probe rank, explode it into the
    // ladder settings whose prefix contains it, and take the per-(setting,
    // query) top-k with the SAME bounded-heap aggregate searchIndex uses
    // (score desc, id asc) — byte-identical shortlists to running
    // searchIndex at each setting, for one corpus-scored pass and one
    // bounded collect (≤ sampleN · |ladder| · k rows).
    val ladderArr = array(ladder.map(lit(_)): _*)
    val qc = probes.select(col("vid").as("query_id"), col("vec").as("qv"),
      posexplode(NearestCentroids(col("vec"), centroids, nCells))
        .as(Seq("cr", "cell")))
    val scored = qc.join(readCells(spark, dir), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", round6(SimilaritySearch.cosine(col("qv"), col("cv"))))
      .withColumn("np", explode(filter(ladderArr, p => p > col("cr"))))
    import spark.implicits._
    val shortlists = scored
      .groupBy(col("np"), col("query_id"))
      .agg(graft.expressions.TopKByScore(col("score"), col("cand_id"), k).as("tk"))
      .select(col("np"), col("query_id").cast("string"),
        col("tk.id").cast("array<string>"))
      .as[(Int, String, Seq[String])].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => r._2 -> r._3.toSet).toMap).toMap
    def recallFor(np: Int): Double =
      meanRecall(exact, shortlists.getOrElse(np, Map.empty))
    var np = ladder.head
    var r = recallFor(np)
    val rest = ladder.iterator.drop(1)
    while (r < target && rest.hasNext) {
      np = rest.next()
      r = recallFor(np)
    }
    (np, r)
  }

  /** The documented maintenance trigger: measure recall, retrain (full
    * [[build]] from the indexed vectors themselves — `cells/` holds every
    * vector, so no external corpus handle is needed) only when it has
    * dropped below `threshold`. Returns the pre-retrain estimate and
    * whether a retrain ran. Idempotent and safe to run after every append
    * wave or on a schedule; the retrain holds the writer lease via
    * [[build]]. */
  def retrainIfDrifted(spark: org.apache.spark.sql.SparkSession, dir: String,
      threshold: Double = 0.7, k: Int = 10, sampleN: Int = 64,
      cfg: Config = Config()): (Double, Boolean) = {
    val recall = recallEstimate(spark, dir, k, sampleN, cfg.nProbe)
    if (recall >= threshold) (recall, false)
    else {
      val corpus = readCells(spark, dir)
        .select(col("cand_id"), col("cv")).localCheckpoint()
      build(corpus, "cand_id", "cv", dir, cfg)
      (recall, true)
    }
  }
}
