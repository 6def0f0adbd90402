package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.{CosineSimilarity, HyperplaneBands, RademacherBands, TopKByScore}
import graft.functions.VectorFunctions

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * - `topK`: brute-force cosine top-k against one query vector. The sort is
  *   a global top-k (TakeOrderedAndProject): each partition keeps k rows,
  *   the driver merges — no full shuffle-sort even at 10⁹ rows.
  * - `knnJoinLSH`: all-pairs k-NN join via random-hyperplane banding
  *   (HyperplaneBands): candidates = band-key equi-join, verify = fused
  *   cosine, per-query top-k = bounded-heap aggregate (TopKByScore).
  *   Scales as O(candidates), not O(|Q|·|C|).
  * - `knnJoinBrute`: exact baseline for recall measurement on samples.
  */
object SimilaritySearch {

  /** Fused-codegen cosine column (see [[CosineSimilarity]]). */
  def cosine(a: Column, b: Column): Column = CosineSimilarity(a, b)

  /** Brute-force top-k rows most cosine-similar to `queryVec`. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Float], k: Int): DataFrame = {
    val q = lit(queryVec).cast("array<float>")
    corpus.select(col(idCol), graft.operators.RelationalOps.round6(cosine(col(vecCol), q)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Exact k-NN join: every query row against every corpus row. Quadratic —
    * recall-measurement baseline only; broadcast the (small) query side. */
  def knnJoinBrute(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.operators.RelationalOps.round6(cosine(col("qv"), col("cv"))).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Matryoshka two-stage k-NN: a cheap PREFIX-dimension cosine pass picks a
    * per-query shortlist, then the exact full-dimension cosine reranks it —
    * the adaptive-retrieval pattern for matryoshka-trained embeddings
    * (Kusupati et al. 2022: MRL fronts the information mass in the leading
    * dims, so a 16-of-768 prefix scan recovers most of the true top-k; on
    * non-MRL embeddings recall degrades gracefully — measured in
    * MatryoshkaSpec, both cases deterministic).
    *
    * Scale shape: stage 1 folds `prefixDim` components instead of `dim` —
    * a dim/prefixDim FLOP and memory-bandwidth cut on the corpus-sized
    * scan (in production, store the prefix as its own column so the scan
    * also READS 4·prefixDim bytes/row); its exchange is the bounded-heap
    * top-shortlist, O(queries·shortlist). Stage 2 touches full vectors for
    * shortlist ids only (one id equi-join). Every stage is deterministic —
    * `e_matryoshka_topk` carries a full DuckDB oracle, unlike the
    * LSH/IVF families whose candidate sets need portable twins. */
  def knnPrefixRerank(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, prefixDim: Int, shortlist: Int,
      k: Int): DataFrame = {
    require(prefixDim >= 1 && shortlist >= k && k >= 1)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val stage1 = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.operators.RelationalOps.round6(cosine(
          slice(col("cv"), 1, prefixDim), slice(col("qv"), 1, prefixDim)))
          .as("pscore"))
    val sl = topKPerKey(stage1, "query_id", "pscore", "cand_id", shortlist)
      .select(col("query_id"), col("cand_id"))
    val scored = sl.join(c, Seq("cand_id")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        graft.operators.RelationalOps.round6(cosine(col("cv"), col("qv")))
          .as("score"))
    topKPerKey(scored, "query_id", "score", "cand_id", k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rnk"))
  }

  /** Band geometry default (32 bands × 6 bits): for neighbors at cosine
    * ~0.4 (hard, near-random case) the per-band collision rate is ~6%, so 32
    * bands give ~0.87 recall; clustered real-world embeddings (neighbor
    * cosine ≥0.7) are found with near-certainty. More `bands` → recall;
    * more `bitsPerBand` → tighter candidate sets. */
  final case class LshConfig(
      dim: Int,
      bands: Int = 32,
      bitsPerBand: Int = 6,
      seed: Long = 42L,
      maxBucket: Int = 2048)

  /** (band_key, id) rows — ids only: the banding/join/dedup stages never
    * carry the vectors, so the heavy bytes cross the shuffle exactly once
    * (the final vector attach). At 10⁹×768-dim scale that is the difference
    * between shuffling kilobytes and shuffling the corpus. */
  private def bandRows(df: DataFrame, idCol: String, vecCol: String,
      outId: String, cfg: LshConfig): DataFrame =
    df.select(col(idCol).as(outId),
      explode(HyperplaneBands(col(vecCol), cfg.dim, cfg.bands, cfg.bitsPerBand, cfg.seed))
        .as("band_key"))

  /** Drop rows in over-full buckets (degenerate hyperplane regions — the
    * LSH skew guard). Bucket census ≤ bands·2^bits rows → broadcast join. */
  private def capBuckets(rows: DataFrame, maxBucket: Int): DataFrame = {
    val ok = rows.groupBy(col("band_key")).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band_key"))
    rows.join(broadcast(ok), Seq("band_key"))
  }

  /** Per-key top-k of a scored frame via the [[TopKByScore]] aggregate —
    * (key, id, score, rnk) rows, score descending (NaN greatest, Spark's
    * window ordering), ties to the smaller id: the window `row_number`
    * contract on non-null rows, but with partial aggregation (each map task
    * reduces to ≤ k entries per key BEFORE the shuffle, so the exchange
    * carries the answer, not the candidate set — the window form shuffles
    * and sorts every candidate row). Unlike the window form, null scores
    * or ids are DROPPED (a null similarity is a non-result), and a key with
    * only null rows disappears rather than ranking nulls last. */
  def topKPerKey(scored: DataFrame, keyCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame =
    scored.groupBy(col(keyCol))
      .agg(TopKByScore(col(scoreCol), col(idCol), k).as("__topk"))
      .select(col(keyCol), posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(keyCol), col("__e.id").as(idCol), col("__e.score").as(scoreCol),
        (col("__pos") + 1).cast("long").as("rnk"))

  /** Approximate k-NN join: band-key candidates → fused-cosine verify →
    * per-query top-k (bounded-heap aggregate, not a per-key sort). Recall
    * rises with `bands`, precision (candidate-set tightness) with
    * `bitsPerBand`. */
  def knnJoinLSH(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, cfg: LshConfig): DataFrame =
    knnJoinBanded(queries, corpus, idCol, vecCol, k, cfg.maxBucket,
      bandRows(_, idCol, vecCol, _, cfg))

  /** Embedding near-duplicate pairs: cosine ≥ threshold via LSH candidates —
    * the embedding-space member of the dedup family. */
  def embeddingDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, cfg: LshConfig): DataFrame =
    bandedDupPairs(corpus, idCol, vecCol, threshold, cfg.maxBucket,
      bandRows(_, idCol, vecCol, _, cfg))

  /** The k-NN join pipeline over a band-row function `bands(df, outId)`
    * yielding (outId, band_key) rows. */
  private def knnJoinBanded(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, maxBucket: Int,
      bands: (DataFrame, String) => DataFrame): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val cands = bands(queries, "query_id")
      .join(capBuckets(bands(corpus, "cand_id"), maxBucket), Seq("band_key"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"))
      .dropDuplicates("query_id", "cand_id")

    val scored = cands.join(c, Seq("cand_id")).join(q, Seq("query_id"))
      .withColumn("score", graft.operators.RelationalOps.round6(cosine(col("qv"), col("cv"))))
      .select(col("query_id"), col("cand_id"), col("score"))
    topKPerKey(scored, "query_id", "score", "cand_id", k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rnk"))
  }

  /** The near-duplicate pair pipeline over a band-row function. */
  private def bandedDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxBucket: Int,
      bands: (DataFrame, String) => DataFrame): DataFrame = {
    val va = corpus.select(col(idCol).as("a_id"), col(vecCol).as("va"))
    val vb = corpus.select(col(idCol).as("b_id"), col(vecCol).as("vb"))
    val banded = capBuckets(bands(corpus, "a_id"), maxBucket)
    banded.join(banded.withColumnRenamed("a_id", "b_id"), Seq("band_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .join(va, Seq("a_id")).join(vb, Seq("b_id"))
      .withColumn("score", graft.operators.RelationalOps.round6(cosine(col("va"), col("vb"))))
      .filter(col("score") >= threshold)
      .select(col("a_id"), col("b_id"), col("score"))
  }

  // ---- portable (oracle-carrying) twins -----------------------------------
  //
  // The same private pipelines over a different band function:
  // HyperplaneBands → RademacherBands (md5-derived ±1 planes over the integer-quantized
  // vector — exact in any engine, see RademacherBands' scaladoc). The
  // production entries keep the tuned Gaussian planes and stay rows-only;
  // these twins give the banding pipeline a full byte-for-byte DuckDB
  // oracle, exactly as t_simhash_portable does for the simhash family.

  /** Geometry of the portable twin. Defaults chosen so the sf-scale DuckDB
    * replay (n_vec · bands · bits · dim rows) stays cheap while the band
    * join still produces a non-vacuous candidate set. */
  final case class PortableLshConfig(
      dim: Int,
      bands: Int = 16,
      bitsPerBand: Int = 8,
      maxBucket: Int = 2048)

  private def portableBandRows(df: DataFrame, idCol: String, vecCol: String,
      outId: String, cfg: PortableLshConfig): DataFrame =
    df.select(col(idCol).as(outId),
      explode(RademacherBands(col(vecCol), cfg.dim, cfg.bands, cfg.bitsPerBand))
        .as("band_key"))

  /** [[embeddingDupPairs]] on portable bands — full-oracle twin. */
  def embeddingDupPairsPortable(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, cfg: PortableLshConfig): DataFrame =
    bandedDupPairs(corpus, idCol, vecCol, threshold, cfg.maxBucket,
      portableBandRows(_, idCol, vecCol, _, cfg))

  /** [[knnJoinLSH]] on portable bands — full-oracle twin. */
  def knnJoinLSHPortable(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, cfg: PortableLshConfig): DataFrame =
    knnJoinBanded(queries, corpus, idCol, vecCol, k, cfg.maxBucket,
      portableBandRows(_, idCol, vecCol, _, cfg))
}
