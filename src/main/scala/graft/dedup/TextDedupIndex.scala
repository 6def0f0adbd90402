package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.fingerprint
import graft.util.{BatchLedger, FileLease, Fs, SwapDir, Tombstones}

/** Persisted MinHash-LSH dedup index — the operator LIFECYCLE for
  * incremental corpus curation, mirroring [[graft.similarity.IvfIndex]]'s
  * build/search/append shape. A standing 100 TB corpus does not re-shingle
  * itself for every new crawl; it keeps the banded signature table on disk
  * and dedupes ARRIVING documents against it:
  *
  *   - [[build]]: shingle + sign the corpus ONCE (one text scan: the
  *     signature frame is written first and the band table derives from the
  *     written columns, never from a second derivation of the text), then
  *     persist the index under `dir` —
  *       `sets/`    (doc_id, sh, sig) — shingle-hash sets for exact-jaccard
  *         verification plus the signature (id-keyed; searches prune to
  *         doc_id+sh, so the sig column costs nothing at probe time);
  *       `bands/`   (band_key, doc_id) — the LSH bucket table, repartitioned
  *         and sorted by band_key so parquet row-group min/max stats skip
  *         non-probed buckets;
  *       `counts/`  (band_key, n)      — the per-bucket census, stored as
  *         DELTAS: each append contributes its batch's per-bucket counts
  *         (O(batch)), readers sum deltas per key after restricting to the
  *         probed key set, and compaction collapses the table back to one
  *         row per bucket. Search joins the summed census with the
  *         arriving batch's own band counts so the `maxBucket` skew cap
  *         applies to the COMBINED bucket size, exactly like the transient
  *         pipeline's census over the union corpus. The delta write LEADS
  *         the bands append, so a lock-free reader between the two sees
  *         census ≥ bands and the cap can only over-trigger (safe);
  *         compaction rewrites go through [[graft.util.SwapDir]] (stage +
  *         rename), so an overlapping reader always sees a complete
  *         census (ADVICE r5);
  *       `shortfp/` (fp)               — exact md5 fingerprints of indexed
  *         docs with NO shingle evidence (shorter than `shingleK` tokens).
  *         Shingle-less docs cannot participate in MinHash matching, so the
  *         curation path dedupes them EXACTLY by normalized fingerprint —
  *         without this they would be re-emitted on every arrival.
  *   - [[searchNew]]: candidate-join NEW docs' bands against the stored
  *     bucket table (id-only shuffle), verify with exact jaccard over the
  *     stored sets — emits (new_id, corpus_id, inter, jaccard) pairs. The
  *     standing corpus is touched only through the index tables; nothing is
  *     re-shingled. An id present on BOTH sides reports itself as a match
  *     (identical content → jaccard 1.0): that is what makes a replayed or
  *     re-crawled batch drop out instead of duplicating.
  *   - [[appendDocs]]: after the keep/drop decision, append the survivors'
  *     sets + bands (+ short fingerprints, anti-joined against the already-
  *     indexed set so direct callers don't grow `shortfp/` without bound)
  *     and append the batch's census delta — every maintenance write is
  *     O(batch); NOTHING per-append touches the corpus-sized tables (no
  *     global rebuild; same model as IVF's assign-with-stored-centroids).
  *     When any subtable's file count passes the compaction threshold,
  *     [[compact]] runs in the same lease hold — continuous 250 ms-trigger
  *     curation would otherwise accrete `defaultParallelism` splinter
  *     files per batch forever, the small-file pathology the fact table's
  *     `filesPerDay` layout exists to prevent.
  *   - [[curateBatch]] / [[curateStream]]: the deployed shape — see below.
  *
  * Family-agnostic: `cfg.portable` selects the same hash family on both the
  * indexed corpus and the probes, so the index works for the production
  * xxhash64 family and the oracle-portable family alike (the two must never
  * be mixed within one index — `build` stamps the family and the other
  * entry points require a matching config).
  *
  * Writer coordination: every mutating entry point — [[build]],
  * [[appendDocs]], [[curateBatch]], [[compact]], and each [[curateStream]]
  * micro-batch — holds a cross-process [[graft.util.FileLease]] under `dir`
  * (the fact table's own mechanism, extracted), so a second curator process
  * QUEUES instead of interleaving appends and census refreshes. Concurrent
  * READERS are safe on any completed state and resolve through backup dirs
  * mid-swap ([[SwapDir.readPath]]); they never repair or take the lease.
  */
object TextDedupIndex {

  import TextDedup.MinHashConfig

  /** Shingle-less predicate by TOKEN COUNT (< shingleK tokens ⟺ empty
    * shingle set) — no hashing, so the short-doc passes stay cheap scans.
    * Null text coalesces to "" so null-text docs take the exact-fingerprint
    * path instead of being invisible to both dedup mechanisms. */
  private def noShingles(textCol: String, cfg: MinHashConfig) =
    size(graft.functions.TextFunctions.tokens(
      graft.functions.TextFunctions.normalized(
        coalesce(col(textCol), lit(""))))) < cfg.shingleK

  /** Normalized exact fingerprint with the same null policy. */
  private def shortFp(textCol: String) =
    fingerprint(coalesce(col(textCol), lit(""))).as("fp")

  /** Tombstoned doc ids ([[deleteDocs]]). Every search and curation path
    * anti-joins them out of the indexed side. */
  private def tombs(spark: SparkSession, dir: String) =
    new Tombstones(spark, dir, "doc_id")

  /** Tombstone-delete indexed documents — right-to-be-forgotten for the
    * standing dedup index, the [[graft.retrieval.RetrievalIndex.deleteDocs]]
    * pattern applied to the MinHash tables. O(delete batch) under the
    * writer lease: the ids append to `tomb/`, and every search/curation
    * path anti-joins the indexed side immediately, so deleted documents
    * stop matching (or suppressing) arrivals at once; [[compact]]
    * physically removes their signature/band rows and rebuilds the bucket
    * census. Idempotent — re-deleting or deleting unknown ids is a no-op.
    * Disclosed residual: `shortfp` stores only DISTINCT md5 fingerprints
    * of shingle-less docs (no ids), so a deleted SHORT doc's fingerprint
    * persists until a full rebuild — it can suppress only a byte-identical
    * short re-crawl, never surface content. */
  def deleteDocs(ids: DataFrame, dir: String, idCol: String): Unit = {
    val spark = ids.sparkSession
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      // a delete wave past the broadcast cap applies physically NOW (and
      // clears the set) instead of taxing every later search
      if (tombs(spark, dir).append(ids, idCol))
        compactUnlocked(spark, dir, SwapDir.maxFiles(spark))
    }
  }

  /** The indexed short-doc fingerprints; an index persisted before the
    * shortfp table existed reads as empty instead of failing. */
  private def readShortFp(spark: SparkSession, dir: String): DataFrame =
    SwapDir.read(spark, s"$dir/shortfp", Some("fp STRING"))

  /** Band rows of `sigs`, hash-partitioned by band_key and materialized
    * ONCE (executor block storage, truncated lineage): the bands write and
    * the census aggregation both read this single derivation, and because
    * the frame is already hash-partitioned by the census's grouping key,
    * the `groupBy(band_key)` rides the existing partitioning with NO
    * further exchange — one banding pass and one exchange total where the
    * r12 shape paid two of each (bands write + a parquet re-read and
    * re-exchange for the census). */
  private def bandedOnce(sigs: DataFrame, cfg: MinHashConfig): DataFrame = {
    val spark = sigs.sparkSession
    TextDedup.bandRows(sigs.select(col("doc_id"), col("sig")), cfg)
      .repartition(spark.sparkContext.defaultParallelism, col("band_key"))
      .localCheckpoint(true)
  }

  /** Index `corpus` under `dir` (overwrites any previous index). Text is
    * shingled exactly once per document: the signature frame is written
    * first and the band table derives from the WRITTEN columns (columnar
    * id+sig read-back) — corpus-scale inputs must not rely on cache
    * residency. (The shingle-less fingerprint pass is a second scan, but a
    * token-COUNT scan — no shingling, no hashing, except the md5 of the few
    * short docs.) */
  def build(corpus: DataFrame, idCol: String, textCol: String, dir: String,
      cfg: MinHashConfig = MinHashConfig()): Unit = {
    val spark = corpus.sparkSession
    val f = Fs.of(spark, dir)
    new FileLease(dir).withLease(f) {
      // a rebuild replaces the index: the previous generation's
      // tombstones must not touch the new one
      tombs(spark, dir).clear()
      TextDedup.signatures(corpus, idCol, textCol, cfg)
        .filter(size(col("sh")) > 0)
        .write.mode("overwrite").parquet(s"$dir/sets")
      val banded = bandedOnce(
        spark.read.parquet(s"$dir/sets").select(col("doc_id"), col("sig")), cfg)
      banded.sortWithinPartitions(col("band_key"))
        .write.mode("overwrite").parquet(s"$dir/bands")
      // census from the SAME partitioned frame — no bands re-read, no
      // second exchange (build-time equivalent of refreshCounts)
      val (cf, clive) = Fs(spark, s"$dir/counts")
      SwapDir.swapIn(cf, clive) { tmp =>
        banded.groupBy(col("band_key")).agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(tmp)
      }
      corpus.filter(noShingles(textCol, cfg))
        .select(shortFp(textCol)).distinct()
        .write.mode("overwrite").parquet(s"$dir/shortfp")
      // stamp the hash family so a mismatched search fails loudly instead of
      // silently joining foreign bucket keys (the delete also clears the
      // `meta/` parquet dir an older version wrote there)
      f.delete(metaPath(dir), true)
      Fs.writeText(f, metaPath(dir), stamp(cfg))
    }
  }

  /** Recompute the per-bucket census from the id-only bands table, staged
    * and swapped in ([[SwapDir]]) so overlapping readers always observe a
    * complete census (callers hold the writer lease). BUILD-time only:
    * appends maintain the census as O(batch) deltas instead (see
    * appendDocsUnlocked) — this full aggregation is O(corpus) and must
    * never sit on the per-micro-batch path. Band keys are long for the
    * xxhash64 family, string for the portable one — the census preserves
    * whichever type the index uses. */
  private def refreshCounts(spark: SparkSession, dir: String): Unit = {
    val (f, live) = Fs(spark, s"$dir/counts")
    SwapDir.swapIn(f, live) { tmp =>
      SwapDir.read(spark, s"$dir/bands")
        .groupBy(col("band_key")).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** The one-line hash-family stamp at `$dir/meta`. */
  private def metaPath(dir: String) = new org.apache.hadoop.fs.Path(dir, "meta")

  private def stamp(cfg: MinHashConfig): String =
    s"minhash shingle_k=${cfg.shingleK} num_perm=${cfg.numPerm} bands=${cfg.bands} " +
      s"seed=${cfg.seed} max_bucket=${cfg.maxBucket} portable=${cfg.portable}"

  /** A driver-side file read, no Spark job. A missing stamp, or the
    * parquet `meta/` dir of an older version, fails as a mismatch. */
  private def requireMatching(spark: SparkSession, dir: String,
      cfg: MinHashConfig): Unit =
    require(Fs.readText(Fs.of(spark, dir), metaPath(dir)).map(_.trim).contains(stamp(cfg)),
      s"index at $dir was built with a different MinHash family than $cfg")

  /** Near-duplicate pairs of NEW docs against the INDEXED corpus:
    * (new_id, corpus_id, inter, jaccard), jaccard ≥ cfg.jaccardThreshold,
    * one row per distinct pair. An id indexed AND searched pairs with
    * itself (jaccard 1.0) — "already indexed" is a match, by design.
    *
    * The `maxBucket` cap applies to the COMBINED bucket population (stored
    * census + the arriving batch's own band counts), so a skewed batch —
    * 500 boilerplate docs landing in one bucket — degrades to dropped
    * buckets exactly like [[TextDedup.candidatePairs]]'s census over the
    * union corpus, never to a join blowup; search ≡ transient cross-pairs
    * holds under skew too (TextDedupIndexSpec). The over-cap key set is
    * output-sized (only buckets the batch touches), hence broadcastable. */
  def searchNew(newDocs: DataFrame, dir: String, idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val spark = newDocs.sparkSession
    // validate the family FIRST: a config-mismatched call must fail before
    // paying the batch's shingle+MinHash signing job, not after (ADVICE
    // r12; searchNewFromSigs re-checks for its direct callers)
    requireMatching(spark, dir, cfg)
    // one derivation of the arriving batch: localCheckpoint (not cache)
    // materializes it so bands and sets are consistent views even over a
    // non-deterministic input, without leaking a CacheManager entry per
    // call in a long-running stream
    val newSigs = TextDedup.signatures(newDocs, idCol, textCol, cfg)
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    searchNewFromSigs(spark, newSigs, dir, cfg)
  }

  /** [[searchNew]] over an already-materialized signature frame (doc_id,
    * sh, sig) — the reuse seam of the curation lifecycle: the batch is
    * signed ONCE (stageSurvivors) and the same frame drives intra-dedup,
    * this search, and the survivor append. */
  private[dedup] def searchNewFromSigs(spark: SparkSession, newSigs: DataFrame,
      dir: String, cfg: MinHashConfig): DataFrame = {
    requireMatching(spark, dir, cfg)
    val newBands = TextDedup.bandRows(newSigs.select(col("doc_id"), col("sig")), cfg)
    val newSets = newSigs.select(col("doc_id"), col("sh"))
    val newCounts = newBands.groupBy(col("band_key")).agg(count(lit(1)).as("n_new"))
    // counts/ is a delta table (appendDocs appends per-batch bucket counts;
    // compaction collapses them): restrict to the batch's keys FIRST
    // (broadcast semi-join — the batch key set is batch-bounded), then sum
    // the surviving deltas, so the census read stays O(touched buckets)
    // regardless of how many appends have accumulated since compaction.
    val corpusCounts = SwapDir.read(spark, s"$dir/counts")
      .join(broadcast(newCounts.select(col("band_key"))), Seq("band_key"), "left_semi")
      .groupBy(col("band_key")).agg(sum(col("n")).as("n"))
    val hot = newCounts
      .join(corpusCounts, Seq("band_key"), "left")
      .filter(col("n_new") + coalesce(col("n"), lit(0L)) > cfg.maxBucket)
      .select(col("band_key"))
    // tombstoned docs drop at the band side (cheapest: pre-join); the sets
    // join is inner on corpus_id, so their signature rows can never rejoin
    val corpusBands = tombs(spark, dir).minus(SwapDir.read(spark, s"$dir/bands"))
      .join(broadcast(hot), Seq("band_key"), "left_anti")
    val cand = newBands.join(broadcast(hot), Seq("band_key"), "left_anti")
      .withColumnRenamed("doc_id", "new_id")
      .join(corpusBands.withColumnRenamed("doc_id", "corpus_id"), Seq("band_key"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    val corpusSets = SwapDir.read(spark, s"$dir/sets").select(col("doc_id"), col("sh"))
    cand
      .join(newSets.withColumnRenamed("doc_id", "new_id")
        .withColumnRenamed("sh", "sh_new"), "new_id")
      .join(corpusSets.withColumnRenamed("doc_id", "corpus_id")
        .withColumnRenamed("sh", "sh_corpus"), "corpus_id")
      .withColumn("inter",
        size(array_intersect(col("sh_new"), col("sh_corpus"))).cast("long"))
      .withColumn("jaccard", graft.operators.RelationalOps.round6(
        col("inter").cast("double") /
          (size(col("sh_new")) + size(col("sh_corpus")) - col("inter")).cast("double")))
      .filter(!isnan(col("jaccard")) && col("jaccard") >= cfg.jaccardThreshold)
      .select(col("new_id"), col("corpus_id"), col("inter"), col("jaccard"))
      // a crash mid-append can leave duplicate index entries for a doc
      // (benign by design); dedupe the output so they never surface
      .dropDuplicates("new_id", "corpus_id")
  }

  /** Append (already-deduped) docs to the index and refresh the bucket
    * census, under the writer lease. See [[appendDocsUnlocked]] for the
    * write-order analysis. */
  def appendDocs(newDocs: DataFrame, dir: String, idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig()): Unit = {
    new FileLease(dir).withLease(Fs.of(newDocs.sparkSession, dir)) {
      appendDocsUnlocked(newDocs, dir, idCol, textCol, cfg)
    }
  }

  /** Incremental ingest-and-label — the dedup-ANALYSIS shape (keep every
    * doc, know its cluster), complementing [[curateBatch]]'s curation
    * shape (drop near-dups): index the batch WITHOUT dropping and maintain
    * the [[IncrementalClusters]] ledger at `clustersDir` in the same
    * lease hold. Edges are the batch's exact-verified near-dup pairs —
    * within the batch and against the standing corpus via [[searchNew]] —
    * so the ledger's labels track the same near-dup relation the
    * transient cluster queries compute, with per-batch cost O(batch +
    * matches) and never a corpus rescan.
    *
    * Two honest caveats, both inherent to the lifecycle: the `maxBucket`
    * skew cap applies to the census AS OF each batch's arrival, so a
    * bucket that only later turns hot can contribute pairs an after-the-
    * fact one-shot run would suppress (the batched run finds a SUPERSET —
    * the cap is conservative-at-arrival); and shingle-less docs label as
    * singletons, exactly like the transient cluster queries (they carry
    * no shingle evidence; `shortfp/` stores fingerprints without ids, so
    * exact-duplicate linkage for them would need a different table
    * contract). */
  def ingestAndLabel(batch: DataFrame, dir: String, clustersDir: String,
      idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig()): Unit = {
    val spark = batch.sparkSession
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      val b = batch.localCheckpoint()
      // one signing per batch (r12) — intra pairs, the index search and
      // the append all read the same materialized frame
      val sigs = TextDedup.signatures(b, idCol, textCol, cfg)
        .filter(size(col("sh")) > 0)
        .localCheckpoint()
      val intra = TextDedup.nearDuplicatePairsFromSigs(sigs, cfg)
        .select(col("a_id"), col("b_id"))
      val cross = searchNewFromSigs(spark, sigs, dir, cfg)
        .filter(col("new_id") =!= col("corpus_id"))
        .select(col("new_id").as("a_id"), col("corpus_id").as("b_id"))
      // The edge frame's lineage READS the index tables; materialize it
      // BEFORE appendDocs mutates them, or the ledger's later evaluation
      // would re-run the search against the post-append index (the batch
      // would match its own fresh entries — semantically benign after the
      // self-edge filter, but a wasteful second search).
      val edges = intra.union(cross).localCheckpoint(true)
      appendFromSigsUnlocked(b, sigs, dir, idCol, textCol, cfg)
      // IncrementalClusters takes its own lease on clustersDir — a
      // DIFFERENT path, so no self-deadlock with the index lease held here.
      IncrementalClusters.addBatch(spark, clustersDir,
        b.select(col(idCol)), idCol, edges, "a_id", "b_id")
    }
  }

  /** Streaming [[ingestAndLabel]]: every micro-batch is indexed and its
    * cluster labels folded into the [[IncrementalClusters]] ledger — the
    * continuously-running dedup-analysis deployment (know every arriving
    * doc's cluster while keeping all of them).
    *
    * Unlike [[curateStream]], NO marker ledger is needed for the
    * crash-after-foreachBatch replay window, because every effect here is
    * idempotent-converging: the index side tolerates a re-append by the
    * same retry contract appendDocs documents (duplicate band/set rows
    * are benign, census only grows conservative, shortfp is anti-joined),
    * and the cluster ledger's addBatch is a no-op on exact replay
    * (labels anti-join on already-present ids; a contracted graph of
    * already-merged components yields an empty remap delta) and converges
    * on a partial one. curateStream's ledger exists for its OUTPUT
    * append, the one non-idempotent effect; this lifecycle has no output
    * sink — labels are read from the ledger. */
  def labelStream(input: DataFrame, dir: String, clustersDir: String,
      checkpointDir: String, idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig(),
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          ingestAndLabel(batch, dir, clustersDir, idCol, textCol, cfg)
        ()
      }
      .start()

  /** The append body, run by callers that already hold the lease
    * ([[curateBatch]], [[curateStream]] — the lease is not reentrant).
    *
    * The batch's signature frame is locally checkpointed (batch-sized,
    * unlike the corpus) so sets and bands are consistent views of ONE
    * derivation even over a non-deterministic input.
    *
    * Write ORDER is retry-safety-bearing: bands before sets. A crash after
    * bands alone leaves entries that generate candidates but join no set —
    * a retry re-appends both (duplicate band rows are benign; searchNew
    * dedupes output and the census only grows conservative). The reverse
    * order would be worse: sets-without-bands makes the docs SELF-MATCH on
    * retry, so they would never receive band rows and future near-dups of
    * them could never be found.
    *
    * Short-doc fingerprints are anti-joined against the indexed set first:
    * a direct caller appending the same short docs across batches would
    * otherwise grow `shortfp/` without bound (correctness held via the
    * left_semi probe, but the table didn't — ADVICE r5).
    *
    * Ends with a threshold-gated [[compact]] pass in the same lease hold:
    * continuous appends otherwise accrete `defaultParallelism` files per
    * batch forever. */
  private def appendDocsUnlocked(newDocs: DataFrame, dir: String, idCol: String,
      textCol: String, cfg: MinHashConfig): Unit =
    appendFromSigsUnlocked(newDocs,
      TextDedup.signatures(newDocs, idCol, textCol, cfg)
        .filter(size(col("sh")) > 0)
        .localCheckpoint(),
      dir, idCol, textCol, cfg)

  /** [[appendDocsUnlocked]] with the signature frame supplied by the
    * caller (already filtered to non-empty shingle sets and materialized)
    * — the curation lifecycle's reuse seam. `newDocs` still supplies the
    * raw text for the shingle-less fingerprint path. */
  private def appendFromSigsUnlocked(newDocs: DataFrame, sigs: DataFrame,
      dir: String, idCol: String, textCol: String, cfg: MinHashConfig): Unit = {
    val spark = newDocs.sparkSession
    requireMatching(spark, dir, cfg)
    // Census is a DELTA table: append this batch's per-bucket counts
    // (O(batch)) instead of re-aggregating the whole bands table per
    // append (O(corpus) — the old refreshCounts swap, which a
    // 250 ms-trigger curation stream would pay on every micro-batch).
    // Readers sum deltas per key; compaction below collapses them. The
    // delta leads the bands append ON PURPOSE: a lock-free reader between
    // the two writes sees census ≥ bands, so the bucket cap can only
    // over-trigger (safe) — the old order (bands first, census swapped
    // last) exposed an under-cap window where a just-appended hot bucket
    // was not yet in the census.
    // One banding pass per batch (r13): the census delta and the bands
    // append read the same partitioned materialization (bandedOnce), and
    // the delta's groupBy rides its partitioning exchange-free. The delta
    // still LEADS the bands append (the lock-free-reader ordering above).
    val banded = bandedOnce(sigs, cfg)
    val (cf, clive) = Fs(spark, s"$dir/counts")
    SwapDir.recover(cf, clive) // crash mid-compaction must not orphan history
    banded.groupBy(col("band_key")).agg(count(lit(1)).as("n"))
      .write.mode("append").parquet(clive.toString)
    banded.sortWithinPartitions(col("band_key"))
      .write.mode("append").parquet(s"$dir/bands")
    sigs.write.mode("append").parquet(s"$dir/sets")
    newDocs.filter(noShingles(textCol, cfg))
      .select(shortFp(textCol)).distinct()
      .join(readShortFp(spark, dir), Seq("fp"), "left_anti")
      .write.mode("append").parquet(s"$dir/shortfp")
    compactUnlocked(spark, dir, SwapDir.maxFiles(spark))
  }

  /** Compact any index subtable whose data-file count exceeds `maxFiles`
    * (0 → the default threshold): read, re-cluster, stage, swap — the
    * crash discipline of the fact table's day swap ([[SwapDir]]: a crash
    * between the renames is repaired from the backup on the next writer
    * entry; a reader that lists during the millisecond rename window
    * retries, exactly like any plain-parquet compaction). Search results
    * are unchanged by construction — compaction rewrites the same rows
    * re-clustered (bands re-sorted by band_key so row-group skipping
    * survives; shortfp re-distinct'ed, which also collapses any
    * historically duplicated fingerprints). */
  def compact(spark: SparkSession, dir: String, maxFiles: Int = 0): Unit =
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      compactUnlocked(spark, dir, SwapDir.maxFiles(spark, maxFiles))
    }

  private def compactUnlocked(spark: SparkSession, dir: String, maxFiles: Int): Unit = {
    val par = spark.sparkContext.defaultParallelism
    val tb = tombs(spark, dir)
    // pending deletes force the doc-keyed rewrites regardless of file
    // count — compaction is where tombstones become physical removal
    val hasTombs = tb.pending
    SwapDir.compact(spark, s"$dir/bands", maxFiles, force = hasTombs)(df =>
      tb.minus(df).repartition(par, col("band_key"))
        .sortWithinPartitions(col("band_key")))
    SwapDir.compact(spark, s"$dir/sets", maxFiles, force = hasTombs)(df =>
      tb.minus(df).repartition(par, col("doc_id")))
    SwapDir.compact(spark, s"$dir/shortfp", maxFiles)(
      _.distinct().repartition(math.max(1, par / 4)))
    if (hasTombs) {
      // the census must forget the removed rows too — full rebuild from
      // the now-filtered bands (O(corpus), but compaction already is)
      refreshCounts(spark, dir)
      tb.clear()
    } else {
      // collapse census deltas back to one row per bucket
      SwapDir.compact(spark, s"$dir/counts", maxFiles)(
        _.groupBy(col("band_key")).agg(sum(col("n")).as("n"))
          .repartition(math.max(1, par / 4), col("band_key")))
    }
  }

  // ---- continuous curation -------------------------------------------------
  //
  // The deployed shape of the index: documents arrive as a stream, each
  // micro-batch is collapsed to its intra-batch near-dup survivors
  // (cluster-keep-min, the t_minhash_dedup rule; shingle-less docs dedupe
  // EXACTLY by fingerprint), deduped against the STANDING corpus through
  // the index, and the remainder is emitted to the curated output and
  // appended to the index — so later batches dedupe against everything
  // kept so far.

  /** Compute a batch's curation survivors and MATERIALIZE them to a staging
    * dir before anything mutates the index: the survivors plan reads the
    * index tables (through [[searchNew]]), and correctness must not depend
    * on cache residency. The drop set (near-dup matches + short-doc exact
    * matches + intra-batch short dups) is collected to the driver — it is
    * batch-bounded by construction. Returns the staging path; the caller
    * owns its lifecycle (deleted after the rows are persisted elsewhere;
    * orphans from crashed attempts are inert and swept on stream start). */
  private def stageSurvivors(batch: DataFrame, dir: String, idCol: String,
      textCol: String, cfg: MinHashConfig): (String, DataFrame) = {
    val spark = batch.sparkSession
    // The batch is SIGNED EXACTLY ONCE (r12): shingling + the numPerm-hash
    // MinHash fold is the lifecycle's per-row CPU, and the pre-r12 shape
    // paid it three times per batch (intra-dedup, index search, survivor
    // append). One materialized signature frame now drives all three —
    // id-subset views of it are cheap joins against executor-local blocks.
    val sigsAll = TextDedup.signatures(batch, idCol, textCol, cfg)
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    // ONE evaluation of the intra-batch dedup pipeline, into executor
    // block storage (truncated lineage; freed by the ContextCleaner)
    val intra = TextDedup.minHashDedupFromSigs(batch, idCol, sigsAll, cfg)
      .localCheckpoint()
    val intraSigs = sigsAll.join(
      intra.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")
    val nearMatched = searchNewFromSigs(spark, intraSigs, dir, cfg)
      .select(col("new_id").as(idCol))
    // shingle-less docs: exact dedupe by normalized fingerprint — within
    // the batch (keep min id) and against the indexed short-doc set
    val short = intra.filter(noShingles(textCol, cfg))
      .select(col(idCol), shortFp(textCol))
    val shortLosers = short
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("fp")).orderBy(col(idCol))))
      .filter(col("rn") > 1).select(col(idCol))
    val shortIndexed = short.join(readShortFp(spark, dir), Seq("fp"), "left_semi")
      .select(col(idCol))
    // one distributed anti-join over the unioned drop set — id-type
    // agnostic, nothing collected to the driver
    val drop = nearMatched.union(shortLosers).union(shortIndexed).distinct()
    val stage = s"$dir/staging/${java.util.UUID.randomUUID()}"
    intra.join(drop, Seq(idCol), "left_anti")
      .write.mode("overwrite").parquet(stage)
    // survivors' signatures: an id-subset view of the one signed frame,
    // keyed by the ids that actually landed in the stage — MATERIALIZED
    // (batch-bounded) so the append path's consumers read blocks instead of
    // re-running the semi-join per write, honoring the
    // appendFromSigsUnlocked contract ("already materialized") by
    // construction rather than by lineage-stability luck (ADVICE r12).
    val stagedSigs = sigsAll.join(
      spark.read.parquet(stage).select(col(idCol).as("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    (stage, stagedSigs)
  }

  /** One curation step in batch form: intra-batch collapse, drop docs
    * matching the standing index, append survivors to `outDir` AND to the
    * index — the whole read-decide-append cycle under ONE lease hold, so
    * two curator processes cannot both decide "keep" for near-dup docs in
    * concurrent batches. Returns the survivor ids (batch-bounded). Retries
    * are the caller's concern — [[curateStream]] adds the ledger that makes
    * replayed batches safe. */
  def curateBatch(batch: DataFrame, dir: String, outDir: String, idCol: String,
      textCol: String, cfg: MinHashConfig = MinHashConfig()): Array[Long] = {
    val spark = batch.sparkSession
    import spark.implicits._
    new FileLease(dir).withLease(Fs.of(spark, dir)) {
      val (stage, stagedSigs) = stageSurvivors(batch, dir, idCol, textCol, cfg)
      val staged = spark.read.parquet(stage)
      staged.write.mode("append").parquet(outDir)
      appendFromSigsUnlocked(staged, stagedSigs, dir, idCol, textCol, cfg)
      // the curation API reports survivor ids as longs (the engine's doc-id
      // type); build/searchNew/appendDocs themselves stay id-type agnostic
      val ids = staged.select(col(idCol).cast("long")).as[Long].collect()
      val (sfs, p) = Fs(spark, stage)
      sfs.delete(p, true)
      ids
    }
  }

  /** Sweep `staging/` dirs not referenced by any out-mark in THIS stream's
    * ledger — orphans of attempts that crashed before their out-mark landed
    * (a replay recomputes those batches from scratch, so the dirs are
    * inert). Runs under the lease so a live curator's in-flight stage is
    * never swept mid-batch. One curation stream (one checkpoint) per index
    * is the deployment shape; [[curateBatch]] callers delete their stages
    * synchronously and are unaffected. */
  private def sweepStaging(spark: SparkSession, dir: String,
      checkpointDir: String): Unit = {
    val (ifs, stagingRoot) = Fs(spark, s"$dir/staging")
    if (!ifs.exists(stagingRoot)) return
    val (cfs, ledger) = Fs(spark, s"$checkpointDir/graft-curate-ledger")
    val referenced: Set[String] =
      if (!cfs.exists(ledger)) Set.empty
      else cfs.listStatus(ledger).toSeq
        .filter(_.getPath.getName.startsWith("out-"))
        .flatMap { s =>
          try Fs.readText(cfs, s.getPath).map(_.trim).filter(_.nonEmpty)
            .map(new org.apache.hadoop.fs.Path(_).getName)
          catch { case _: java.io.IOException => None }
        }.toSet
    new FileLease(dir).withLease(ifs) {
      ifs.listStatus(stagingRoot).map(_.getPath)
        .filterNot(p => referenced.contains(p.getName))
        .foreach(p => try { ifs.delete(p, true): Unit }
          catch { case _: java.io.IOException => () })
    }
  }

  /** Continuous curation: run the [[curateBatch]] body per micro-batch of
    * `input` (any streaming DataFrame with `idCol`/`textCol`), emitting
    * survivors to `outDir`. Each micro-batch holds the index writer lease
    * for its whole read-decide-append cycle.
    *
    * Delivery model, enforced by a TWO-MARK ledger (`out-` after the
    * curated-output write — its content records the staging path — and
    * `idx-` after the index append):
    *
    *  - crash before the out-write: full replay, nothing was persisted;
    *  - crash between the out-write and its mark: the replay redoes the
    *    batch and the curated output gets the same rows twice — the ONE
    *    at-least-once residue (exact duplicates by id, trivially dropped
    *    downstream; same class as the ingest ledger's residual window);
    *  - crash between the out-mark and the index append (or mid-append):
    *    the replay reads the staged survivors back from the path recorded
    *    in the out-mark and redoes ONLY the append — the curated output is
    *    not re-written. A partial first append can leave duplicate index
    *    entries for the batch; those are benign ([[searchNew]] dedupes its
    *    output, and the census only becomes more conservative);
    *  - crash after the idx-mark: the batch is skipped entirely.
    *
    * Ledger hygiene (ADVICE r5): the idx-mark supersedes the out-mark, so
    * [[curateStream]] deletes the out-mark when the idx-mark lands, and
    * each batch prunes marks of batches older than itself — foreachBatch
    * delivery is sequential, so batch `id` arriving proves every batch
    * below it committed and can never replay. The ledger therefore holds
    * O(1) files, not one pair per batch forever. Staging orphans from
    * crashed attempts are swept once on stream start ([[sweepStaging]]).
    *
    * Additionally, content-level self-matching ([[searchNew]]'s identical
    * docs → jaccard 1.0; `shortfp/` for shingle-less docs) makes a
    * re-CRAWLED document (same content arriving again in a later batch)
    * drop out instead of duplicating. */
  def curateStream(input: DataFrame, dir: String, outDir: String,
      checkpointDir: String, idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig(),
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    sweepStaging(input.sparkSession, dir, checkpointDir)
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val (fs, ledger) = Fs(spark, s"$checkpointDir/graft-curate-ledger")
        val idxMark = new org.apache.hadoop.fs.Path(ledger, BatchLedger.mark("idx-", id))
        val outMark = new org.apache.hadoop.fs.Path(ledger, BatchLedger.mark("out-", id))
        // the staging dir lives under the INDEX dir, which may be a
        // different filesystem than the checkpoint — always derive the FS
        // from the path being touched
        def markIdx(stage: String): Unit = {
          fs.create(idxMark, true).close()
          // the idx-mark alone short-circuits a replay; the out-mark is now
          // redundant — drop it so the ledger stays bounded
          fs.delete(outMark, false)
          val (sfs, sp) = Fs(spark, stage)
          sfs.delete(sp, true)
        }
        // Finish the index side from the stage recorded in the out-mark.
        // Returns false — degrading to a full recompute, whose only cost is
        // the documented duplicate-output residue — when the mark is
        // unreadable (crash mid-write before it was atomically renamed in)
        // or the staged dir is gone (an operator swept `staging/`).
        def replayFromOutMark(): Boolean = {
          val stage =
            try Fs.readText(fs, outMark).fold("")(_.trim)
            catch { case _: java.io.IOException => "" }
          if (stage.isEmpty) return false
          val (sfs, sp) = Fs(spark, stage)
          if (!sfs.exists(sp)) return false
          appendDocsUnlocked(spark.read.parquet(stage), dir, idCol, textCol, cfg)
          markIdx(stage)
          true
        }
        new FileLease(dir).withLease(Fs.of(spark, dir)) {
          BatchLedger.pruneBelow(fs, ledger, id, "idx-", "out-")
          if (!fs.exists(idxMark) && !replayFromOutMark()) {
            val (stage, stagedSigs) = stageSurvivors(batch, dir, idCol, textCol, cfg)
            spark.read.parquet(stage).write.mode("append").parquet(outDir)
            // atomic mark: write to a temp name, then rename — a half-written
            // mark must never exist under the real name
            fs.mkdirs(ledger)
            val tmp = new org.apache.hadoop.fs.Path(ledger, outMark.getName + ".tmp")
            Fs.writeText(fs, tmp, stage)
            fs.delete(outMark, false)
            fs.rename(tmp, outMark)
            appendFromSigsUnlocked(spark.read.parquet(stage), stagedSigs,
              dir, idCol, textCol, cfg)
            markIdx(stage)
          }
        }
        ()
      }
      .start()
  }
}
