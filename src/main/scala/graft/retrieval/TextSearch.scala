package graft.retrieval

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.shingles
import graft.operators.RelationalOps.{MaxBroadcastRows, exceedsCap, guardedBroadcast}

/** Query-time text similarity search — "find the corpus documents most
  * like each of THESE" (near-dup triage, attribution, retrieval-ish
  * grouping), parameterized on a caller-provided query frame. Extracted
  * from the t_text_knn registry slice (which pins `doc_id < 10` for its
  * oracle and now wraps this) so users can run their own query sets —
  * the same operator-vs-registry-entry relationship every other family
  * has.
  *
  * Semantics: per query document, the top-k corpus documents by exact
  * word-`shingleK`-gram jaccard, no threshold (a knn always answers).
  * The shingle universe is df-capped over the CORPUS (a shingle in more
  * than `maxDf` corpus docs is boilerplate and contributes O(df²) join
  * rows — the shared skew guard of the jaccard family); query shingles
  * are filtered against the same hot set, so jaccard denominators on
  * both sides live in the same universe and a query that IS a corpus doc
  * scores identically to the in-corpus pair computation.
  *
  * Scale shape: the corpus is shingled once and shuffled once on the
  * shingle key; candidate intersections partial-aggregate per
  * (query, cand); the per-query top-k rides the TopKByScore bounded-heap
  * aggregate — the final exchange carries O(queries·k), never the
  * candidate set. The query side (shingle rows AND per-query counts) is
  * broadcast only under the contaminationCounts guard discipline: a
  * bounded `limit(cap+1).count()` probe of the exploded query-shingle
  * frame — "queries are few" is an assumption, not an invariant, and an
  * unconditional broadcast of a huge query frame would OOM executors.
  * Past the cap both joins fall back to shuffle-hash with the query side
  * still the build side, AQE absorbing any hot shingle. Results are
  * identical on both paths (TextSearchSpec).
  */
object TextSearch {

  /** Top-`k` corpus docs per query doc by exact shingle jaccard.
    *
    * @param queries      (queryIdCol, queryTextCol) — any id space
    * @param corpus       (corpusIdCol, corpusTextCol)
    * @param excludeSelf  drop candidates whose corpus id EQUALS the query
    *                     id — for the "queries are corpus docs" use (the
    *                     registry slice); leave false when the id spaces
    *                     are unrelated
    * @return (query_id, cand_id, jaccard, rnk), rnk 1..k by jaccard desc
    *         with cand-id tiebreak; jaccard rounded to 6 dp */
  def knn(queries: DataFrame, corpus: DataFrame, k: Int,
      queryIdCol: String = "query_id", queryTextCol: String = "text",
      corpusIdCol: String = "doc_id", corpusTextCol: String = "text",
      shingleK: Int = 3, maxDf: Int = 100,
      excludeSelf: Boolean = false,
      maxBroadcastShingles: Long = MaxBroadcastRows): DataFrame = {
    require(k > 0, "k must be positive")
    val sh = corpus.select(col(corpusIdCol).as("cand_id"),
      explode(array_distinct(shingles(col(corpusTextCol), shingleK))).as("s"))
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("s"))
    val shc = sh.join(broadcast(hot), Seq("s"), "left_anti")
    val nc = shc.groupBy(col("cand_id")).agg(count(lit(1)).as("nc"))
    // query shingles, filtered against the SAME corpus-derived hot set
    val shq = queries.select(col(queryIdCol).as("query_id"),
        explode(array_distinct(shingles(col(queryTextCol), shingleK))).as("s"))
      .join(broadcast(hot), Seq("s"), "left_anti")
    // bounded guard probe (see class doc); the scan stops at cap + 1 rows
    val oversized = exceedsCap(shq, maxBroadcastShingles)
    def guarded(df: DataFrame): DataFrame = guardedBroadcast(df, oversized)
    val nq = shq.groupBy(col("query_id")).agg(count(lit(1)).as("nq"))
    val self =
      if (excludeSelf) col("query_id") =!= col("cand_id") else lit(true)
    val inter = shc.join(guarded(shq), Seq("s"))
      .filter(self)
      .groupBy(col("query_id"), col("cand_id")).agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(guarded(nq), Seq("query_id"))
      .join(nc, Seq("cand_id"))
      .withColumn("jaccard", graft.operators.RelationalOps.round6(
        col("inter").cast("double") /
          (col("nq") + col("nc") - col("inter")).cast("double")))
      .select(col("query_id"), col("cand_id"), col("jaccard"))
    graft.similarity.SimilaritySearch
      .topKPerKey(scored, "query_id", "jaccard", "cand_id", k)
      .select(col("query_id"), col("cand_id"), col("jaccard"), col("rnk"))
  }
}
