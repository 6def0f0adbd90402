package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.{MinHashSignature, SimHash64}
import graft.functions.TextFunctions._

/** Document deduplication family for large-scale corpus curation:
  *
  *  - exact: md5/xxhash64 fingerprint of normalized text → hash group-by.
  *  - MinHash + LSH: shingle → signature → banded buckets → candidate join →
  *    exact-jaccard verification. The only shuffles are the band-bucket join
  *    and the final pair aggregation; no O(n²) stage anywhere.
  *  - SimHash: 64-bit sign fingerprint, banded on 16-bit chunks; Hamming
  *    verification with the codegen'd `bit_count(a ^ b)`.
  *  - n-gram Jaccard: exact shingle-overlap join for candidate pairs (the
  *    verification kernel of the MinHash path, usable standalone on bounded
  *    inputs).
  *
  * All stages are DataFrame-composable so Catalyst/AQE handle distribution;
  * skewed buckets (boilerplate shingles, empty docs) are dropped via
  * `maxBucket`, the standard LSH skew guard.
  */
object TextDedup {

  // ---- exact --------------------------------------------------------------

  /** Exact duplicate groups keyed by normalized-text fingerprint:
    * (fp, keep_doc_id = min id, n_dups). */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_dups"))

  /** Corpus with exact duplicates removed (keep lowest id per fingerprint). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(fingerprint(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ---- MinHash + LSH ------------------------------------------------------

  /** `portable = true` swaps both hash families — shingle hashes to the
    * md5-derived [[graft.functions.TextFunctions.portableHash60]] and the
    * signature permutations to the mod-(2^31−1) affine family — so the whole
    * pipeline (signature → banding → candidate pairs → jaccard verify) is
    * reproducible in any SQL engine with md5 + BIGINT arithmetic. That is
    * what backs the full DuckDB oracles on t_minhash_pairs/t_minhash_dedup;
    * the default xxhash64 family stays the production choice (faster) and is
    * spec-verified (NoOracleEquivalenceSpec). */
  final case class MinHashConfig(
      shingleK: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      maxBucket: Int = 64,
      jaccardThreshold: Double = 0.5,
      portable: Boolean = false) {
    require(numPerm % bands == 0, "bands must divide numPerm")
    def rowsPerBand: Int = numPerm / bands
  }

  /** Distinct 64-bit shingle hashes per doc (the MinHash input set).
    * Shingles come from the *normalized* text (lowercase, collapsed
    * whitespace) so near-dup detection is case/format-insensitive, matching
    * the exact-dedup fingerprint semantics. */
  def shingleHashes(text: Column, k: Int, portable: Boolean = false): Column =
    transform(array_distinct(shingles(normalized(text), k)),
      s => if (portable) portableHash60(s) else xxhash64(s))

  /** doc → (id, shingle-hash set, MinHash signature). The shingle-hash
    * array is bound as an attribute first so the signature consumes it
    * instead of re-shingling the text (CollapseProject keeps non-cheap
    * twice-referenced expressions un-inlined). */
  def signatures(docs: DataFrame, idCol: String, textCol: String, cfg: MinHashConfig): DataFrame =
    docs.select(
        col(idCol).as("doc_id"),
        shingleHashes(col(textCol), cfg.shingleK, cfg.portable).as("sh"))
      .select(col("doc_id"), col("sh"),
        MinHashSignature(col("sh"), cfg.numPerm, cfg.seed, cfg.portable).as("sig"))

  /** Exploded (band_key, doc) rows: one per band, key = hash of the band's
    * signature slice tagged with the band index (portable family: the
    * band index + the slice values spelled out as a string — equality is
    * all a bucket key needs, and a string key is what a SQL oracle can
    * rebuild verbatim). */
  private[dedup] def bandRows(sigs: DataFrame, cfg: MinHashConfig): DataFrame = {
    val r = cfg.rowsPerBand
    val bandKeys = transform(
      sequence(lit(0), lit(cfg.bands - 1)),
      b =>
        if (cfg.portable)
          concat(b.cast("string"), lit(":"),
            concat_ws(",", transform(slice(col("sig"), b * r + 1, lit(r)), v => v.cast("string"))))
        else xxhash64(b, slice(col("sig"), b * r + 1, lit(r))))
    sigs.select(col("doc_id"), explode(bandKeys).as("band_key"))
  }

  /** Candidate near-duplicate pairs (a_id < b_id) from LSH banding, before
    * verification. Bucket-size cap bounds join fan-out under skew (empty/
    * boilerplate shingle sets); the bucket census is tiny → broadcast join,
    * so capping adds no extra shuffle of the band rows. */
  def candidatePairs(sigs: DataFrame, cfg: MinHashConfig): DataFrame = {
    val rows = bandRows(sigs, cfg)
    val ok = rows.groupBy(col("band_key")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= cfg.maxBucket).select(col("band_key"))
    val bounded = rows.join(broadcast(ok), Seq("band_key"))
    bounded.as("x").join(bounded.as("y"),
        col("x.band_key") === col("y.band_key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** Drop accounting for the `maxBucket` skew guard: one row with the total
    * band-bucket count, the buckets over the cap (which [[candidatePairs]]
    * silently skips), and the band rows lost with them. A capped run on
    * hostile data (a giant near-dup clique collapses most bands into one
    * bucket) degrades to FEWER pairs, never to a blowup — this census is
    * how a pipeline observes that degradation instead of guessing. */
  def lshBucketStats(sigs: DataFrame, cfg: MinHashConfig): DataFrame =
    bandRows(sigs, cfg).groupBy(col("band_key")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("total_buckets"),
        coalesce(sum(when(col("n") > cfg.maxBucket, 1L)), lit(0L)).as("dropped_buckets"),
        coalesce(sum(when(col("n") > cfg.maxBucket, col("n"))), lit(0L)).as("dropped_rows"))

  /** Candidate pairs verified with exact jaccard over the shingle-hash sets;
    * keeps pairs at or above the configured threshold.
    *
    * Docs shorter than `shingleK` tokens have EMPTY shingle sets: their
    * all-sentinel MinHash signatures collide in every band, and their
    * jaccard is 0/0 — without a guard, NaN compares greater than any
    * threshold (Spark NaN ordering) and unrelated short docs would be
    * reported as near-duplicates. They are excluded before banding (they
    * carry no shingle evidence either way). */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    nearDuplicatePairsFromSigs(materializedSigs(docs, idCol, textCol, cfg), cfg)

  /** Non-empty signatures, materialized once with an eager
    * `localCheckpoint` — the one-shot callers' materialization, the same
    * as the per-micro-batch callers': the blocks go with the frame
    * (ContextCleaner), where a `cache()` would pin them in the
    * CacheManager for the session. */
  private def materializedSigs(docs: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig): DataFrame =
    signatures(docs, idCol, textCol, cfg).filter(size(col("sh")) > 0).localCheckpoint()

  /** Exact-jaccard verification of joined candidate pairs over their
    * shingle-hash set columns `shA`/`shB`: adds `inter` and the rounded
    * `jaccard`, keeps pairs at or above `threshold`. A 0/0 NaN (possible
    * only if empty sets reached here) must never pass the >= threshold via
    * NaN-max ordering. */
  private def jaccardVerified(pairs: DataFrame, shA: String, shB: String,
      threshold: Double): DataFrame =
    pairs
      .withColumn("inter", size(array_intersect(col(shA), col(shB))).cast("long"))
      .withColumn("jaccard", graft.operators.RelationalOps.round6(col("inter").cast("double") /
        (size(col(shA)) + size(col(shB)) - col("inter")).cast("double")))
      .filter(!isnan(col("jaccard")) && col("jaccard") >= threshold)

  /** [[nearDuplicatePairs]] body over an already-materialized signature
    * frame (doc_id, sh, sig) — the reuse seam for callers that sign a
    * batch ONCE and thread the frame through intra-dedup, index search and
    * index append (the curation lifecycle signed every batch three times
    * before r12). */
  private[dedup] def nearDuplicatePairsFromSigs(sigs: DataFrame,
      cfg: MinHashConfig): DataFrame = {
    val sets = sigs.select(col("doc_id"), col("sh"))
    jaccardVerified(candidatePairs(sigs, cfg)
      .join(sets.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sh", "sh_a"), "a_id")
      .join(sets.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sh", "sh_b"), "b_id"),
      "sh_a", "sh_b", cfg.jaccardThreshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("jaccard"))
  }

  /** Cross-corpus near-duplicate pairs — FUZZY decontamination: where
    * t_decontaminate catches exact n-gram overlap, this catches a
    * training doc that is a paraphrase-level near-dup of an eval doc
    * (reworded benchmarks are the leak exact matching misses). Each
    * output row is a verified pair (l_id from `left`, r_id from `right`,
    * inter, jaccard ≥ threshold). Same LSH shape as
    * [[nearDuplicatePairs]], with the band join CROSS-SIDED: band rows
    * are computed per side, the bucket census (and `maxBucket` cap) runs
    * over the UNION — a bucket's fan-out is |L∩bucket|·|R∩bucket|, so the
    * cap must see both sides — and only left×right bucket-mates become
    * candidates (same-side pairs never form, so a 10⁹-doc corpus checked
    * against a 10⁵-doc eval suite prices candidates by the eval side).
    * Empty-shingle docs are excluded before banding on both sides (the
    * nearDuplicatePairs NaN guard). */
  def crossNearDupPairs(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val ls = materializedSigs(left, idCol, textCol, cfg)
    val rs = materializedSigs(right, idCol, textCol, cfg)
    val lb = bandRows(ls, cfg).withColumnRenamed("doc_id", "l_id")
    val rb = bandRows(rs, cfg).withColumnRenamed("doc_id", "r_id")
    val ok = lb.select(col("band_key")).unionAll(rb.select(col("band_key")))
      .groupBy(col("band_key")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= cfg.maxBucket).select(col("band_key"))
    val cand = lb.join(broadcast(ok), Seq("band_key"))
      .join(rb, Seq("band_key"))
      .select(col("l_id"), col("r_id")).distinct()
    jaccardVerified(cand
      .join(ls.select(col("doc_id").as("l_id"), col("sh").as("sh_l")), "l_id")
      .join(rs.select(col("doc_id").as("r_id"), col("sh").as("sh_r")), "r_id"),
      "sh_l", "sh_r", cfg.jaccardThreshold)
      .select(col("l_id"), col("r_id"), col("inter"), col("jaccard"))
  }

  /** Near-dup pairs collapsed to a survivor set: ONE representative (the
    * min id) per connected component of the near-dup graph
    * ([[ConnectedComponents]]), so chained relations (A~B~C with A!~C)
    * keep exactly one doc — the cluster-then-keep-one semantics a curation
    * pipeline needs. A greedy per-pair drop either over-deletes (both B and
    * C) or under-deletes (keeps a non-representative middle node that never
    * appears on the drop side of a pair). */
  def minHashDedup(docs: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    minHashDedupFromSigs(docs, idCol, materializedSigs(docs, idCol, textCol, cfg), cfg)

  /** [[minHashDedup]] over a pre-materialized signature frame (see
    * [[nearDuplicatePairsFromSigs]]). */
  private[dedup] def minHashDedupFromSigs(docs: DataFrame, idCol: String,
      sigs: DataFrame, cfg: MinHashConfig): DataFrame = {
    val pairs = nearDuplicatePairsFromSigs(sigs, cfg)
      .select(col("a_id"), col("b_id"))
    val losers = ConnectedComponents.components(pairs, "a_id", "b_id")
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ---- winnowing (rolling-hash fingerprints) ------------------------------

  /** Winnowed rolling-hash fingerprint set per doc (MOSS scheme — see
    * [[graft.expressions.WinnowFingerprint]]): robust to shared *passages*
    * rather than shared shingle bags. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 16): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.expressions.WinnowFingerprint(normalized(col(textCol)), k, window).as("fps"))

  /** Pairs sharing at least `minShared` winnow fingerprints — shared-passage
    * candidates. Same shuffle shape as the shingle join: explode ids+hash
    * only, pair-count aggregate, no quadratic stage. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      minShared: Int = 3, k: Int = 8, window: Int = 16): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, window)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // ---- SimHash ------------------------------------------------------------

  /** doc → SimHash fingerprint of its token stream (64-bit xxhash64 family
    * by default; `portable = true` selects the 60-bit md5-prefix family the
    * DuckDB oracle reproduces — see [[graft.expressions.SimHash64]]). */
  def simHashes(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      SimHash64(tokens(normalized(col(textCol))), portable).as("simhash"))

  /** Near-dup pairs by SimHash: band on the four 16-bit chunks (any chunk
    * equal → candidate; Hamming ≤ `maxHamming` → pair). Exact for pairs
    * within Hamming 3 of each other by pigeonhole over 4 bands — see
    * [[Fingerprints.hammingPairs64]] (shared with the image-hash path).
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame =
    Fingerprints.hammingPairs64(simHashes(docs, idCol, textCol),
      "doc_id", "simhash", maxHamming, maxBucket)
}
