package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.TextDedup
import graft.expressions.MultiPatternHits
import graft.functions.TextFunctions._
import graft.operators.RelationalOps

/** Text-analysis / corpus-dedup operators over the `documents` table — the
  * training-data-pipeline extension family. SQL-expressible members carry a
  * DuckDB oracle that mirrors the Spark expression tree operation-for-
  * operation (same fold order, same rounding) so results match exactly.
  * That includes the sketch members: MinHash and SimHash run the registry
  * queries under the PORTABLE hash family (md5-prefix hashes +
  * SQL-expressible permutations — see TextFunctions.portableHash60), and
  * winnowing's native polynomial hash is replayed with HUGEINT-emulated
  * wrapping arithmetic, so the full sketch pipelines are oracle-checked
  * byte-for-byte. Only genuinely approximate/engine-external results (HLL
  * registers, random-hyperplane LSH, image codecs) stay rows-only.
  */
object TextQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  /** The docs scan with the layout-adaptive spread (Tables.loadSpread) —
    * for explode→aggregate pipelines (n-gram/token counting), where the
    * corpus-sized tokenize+explode+partial-agg work pipelined into a
    * degenerate single-row-group scan runs single-threaded. Pure per-row
    * maps keep the plain scan: measured r12, the exchange costs more than
    * it wins there (OPTIMIZATION_r12.md A/B table). */
  private def docsSpread(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.loadSpread(s, dir, "documents")

  // DuckDB fragments mirrored by several oracles.
  private val WS = "string_split_regex(trim(text), '\\s+')"
  private val WSL = "string_split_regex(trim(lower(text)), '\\s+')"
  private val Shingles2 =
    "list_transform(generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1])"
  private val Shingles3 =
    "list_transform(generate_series(1, len(ws) - 2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])"
  private val Shingles4 =
    "list_transform(generate_series(1, len(ws) - 3), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])"

  /** Per-(doc, term) counts `tf`, doc lengths `dlen` and document
    * frequencies `dft` over the lowered whitespace tokens — the term
    * statistics under the TF-IDF and BM25 oracles. */
  private val TermStatsCtes =
    s"""tok AS (SELECT doc_id, unnest($WSL) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_d FROM tf GROUP BY 1),
       |dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)""".stripMargin

  /** [[TermStatsCtes]] plus the BM25 corpus constants `st` and the
    * default query `qt` (the 3 highest-mass terms). */
  private val Bm25BaseCtes =
    s"""$TermStatsCtes,
       |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
       |              (SELECT CAST(sum(n_d) AS BIGINT) FROM dlen) AS tot_tokens),
       |qt AS (SELECT term FROM (
       |         SELECT term, sum(tf) AS ttf FROM tf GROUP BY term
       |         ORDER BY ttf DESC, term ASC LIMIT 3))""".stripMargin

  /** The per-(doc, query-term) BM25 contribution (k1 = 1.2, b = 0.75) as
    * CTE `name` over the query-term CTE `q`. */
  private def bm25ContribCte(name: String, q: String): String =
    s"""$name AS (
       |  SELECT tf.doc_id,
       |    ln((CAST(st.n_docs AS DOUBLE) - CAST(dft.df AS DOUBLE) + 0.5) /
       |       (CAST(dft.df AS DOUBLE) + 0.5) + 1.0) *
       |    (CAST(tf.tf AS DOUBLE) * 2.2) /
       |    (CAST(tf.tf AS DOUBLE) +
       |     1.2 * (0.25 + 0.75 * CAST(dlen.n_d AS DOUBLE) /
       |            (CAST(st.tot_tokens AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))) AS contrib
       |  FROM tf JOIN $q USING (term) JOIN dlen USING (doc_id)
       |       JOIN dft USING (term), st)""".stripMargin

  /** A doc's BM25 score: the contributions summed on the 1e-9 fixed-point
    * grid (order-insensitive), then rounded to 6 dp. */
  private val Bm25RoundSql =
    "floor((CAST(sum(CAST(floor(contrib * 1e9) AS BIGINT)) AS DOUBLE) / 1e9) * 1000000 + 0.5) / 1000000"

  /** A RetrievalIndex in the entry's work dir, built from the even doc ids
    * and grown by appending the odd ones — the incremental path that the
    * indexed twins check against the one-shot oracles. */
  private def halvesIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      tag: String): String = {
    val idx = Q.workDir(s, tag, dir)
    val d = docs(s, dir)
    graft.retrieval.RetrievalIndex.build(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    graft.retrieval.RetrievalIndex.appendDocs(
      d.filter(col("doc_id") % 2 =!= 0), idx, "doc_id", "text")
    idx
  }

  /** The TF-IDF oracle — shared verbatim by t_tfidf (transient recompute)
    * and t_tfidf_indexed (incrementally built RetrievalIndex): one SQL
    * image, two engine paths that must both match it byte-for-byte. */
  private val TfidfSql =
    s"""WITH $TermStatsCtes,
       |n AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT tf.doc_id, tf.term, tf.tf, dft.df,
       |  floor(((CAST(tf.tf AS DOUBLE) / CAST(dlen.n_d AS DOUBLE)) *
       |         (ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(dft.df AS DOUBLE) + 1.0)) + 1.0)) * 1000000 + 0.5) / 1000000 AS tfidf
       |FROM tf JOIN dlen USING (doc_id) JOIN dft USING (term), n""".stripMargin

  /** Duplicated-span CTE chain ending in `spans(doc_id, span_start,
    * span_len)` — the oracle counterpart of [[graft.dedup.SpanDedup
    * .duplicatedSpans]] under the portable family, shared by t_dup_spans,
    * t_dup_spans_anchored and t_substring_dedup. `stride = 1` keeps every
    * positioned gram; `stride > 1` keeps content-defined anchors
    * (`h % stride == 0`), mirroring `anchorStride`. */
  private def SpanCtes(k: Int, stride: Int): String = {
    val anchor = if (stride == 1) "" else s" WHERE h % $stride = 0"
    s"""g AS (
       |  SELECT doc_id, unnest(generate_series(1, length(text) - ${k - 1})) AS p, text
       |  FROM documents WHERE length(text) >= $k),
       |gh AS (
       |  SELECT doc_id, p,
       |    ('0x' || substr(md5('span:' || substr(text, p, $k)), 1, 15))::BIGINT AS h
       |  FROM g),
       |ga AS (SELECT doc_id, p, h FROM gh$anchor),
       |dup AS (SELECT h FROM ga GROUP BY h HAVING count(*) >= 2),
       |m AS (SELECT ga.doc_id, ga.p FROM ga JOIN dup USING (h)),
       |isl AS (
       |  SELECT doc_id, p,
       |    CASE WHEN p > coalesce(max(p + $k) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS nw
       |  FROM m),
       |isl2 AS (
       |  SELECT doc_id, p,
       |    sum(nw) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
       |    CAST(max(p + $k) - min(p) AS BIGINT) AS span_len
       |  FROM isl2 GROUP BY doc_id, island)""".stripMargin
  }

  /** Positional postings `(doc_id, p, term)` over the lowered tokens,
    * positions 1-based — shared by t_phrase_search and t_proximity_search. */
  private def postings(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    docs(s, dir).select(col("doc_id"),
        posexplode(tokens(lower(col("text")))).as(Seq("p0", "term")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("term"))

  /** The DuckDB image of [[postings]]: CTE `post(doc_id, p, term)`, plus
    * the token lists `hd(doc_id, ws)` it unnests. */
  private val PostingsCtes =
    s"""hd AS (SELECT doc_id, $WSL AS ws FROM documents),
       |pos AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS p, ws FROM hd),
       |post AS (SELECT doc_id, p, ws[p] AS term FROM pos)""".stripMargin

  /** Candidate edges of the rare-shingle co-occurrence graph — shared by
    * t_triangle_count and t_graph_degree_assort: distinct doc pairs sharing
    * a trigram with df ∈ [2,4] (the blocking cap: each gram fans out at
    * most C(4,2) pairs, never all-pairs). Edges are oriented u < v and
    * materialized once (eager localCheckpoint) because every consumer
    * joins them repeatedly. */
  private def rareGramEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val dg = docs(s, dir)
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("g"))
      .distinct()
    val rare = dg.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 4).select(col("g"))
    val cand = dg.join(rare, "g")
    cand.select(col("g"), col("doc_id").as("u"))
      .join(cand.select(col("g"), col("doc_id").as("v")), "g")
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
      .localCheckpoint(true)
  }

  /** The DuckDB image of [[rareGramEdges]] — CTE chain ending in
    * `e(u, v)`, shared by the same two oracles. */
  private val RareEdgeCtes =
    s"""hd AS (SELECT doc_id, $WS AS ws FROM documents),
       |dg AS (SELECT DISTINCT doc_id, g FROM
       |        (SELECT doc_id, unnest($Shingles3) AS g FROM hd)),
       |rare AS (SELECT g FROM dg GROUP BY g HAVING count(*) BETWEEN 2 AND 4),
       |e AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |      FROM dg a JOIN dg b USING (g) JOIN rare USING (g)
       |      WHERE a.doc_id < b.doc_id)""".stripMargin

  /** The BM25 oracle — shared verbatim by t_bm25, t_bm25_indexed and
    * t_hybrid_rrf's lexical leg (same one-image/N-paths discipline as
    * TfidfSql). */
  private[queries] val Bm25Sql =
    s"""WITH $Bm25BaseCtes,
       |${bm25ContribCte("c", "qt")}
       |SELECT doc_id, count(*) AS n_query_terms,
       |  $Bm25RoundSql AS bm25
       |FROM c GROUP BY doc_id""".stripMargin

  /** The [[graft.functions.TextFunctions.qualityScore]] formula's 6-dp
    * DuckDB image over a bound token list `ws` — shared by t_quality and
    * t_best_of_cluster (which ORDERS by it, so survivor choice rides the
    * oracle-exact rounded value, never a last-bit double). */
  private val QualitySql =
    """floor((0.4 * least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0)
      |      + 0.3 * (CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE))
      |      + 0.3 * least((CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
      |                     / CAST(len(ws) AS DOUBLE)) / 8.0, 1.0)) * 1000000 + 0.5) / 1000000""".stripMargin

  /** The planted md5-pattern image hashes as `sig(doc_id, phash)` — the
    * pattern DEFINITION behind Multimodal.toPatternImageTable, shared by
    * m_phash_pairs_portable and m_decode_features_portable. */
  private val PatternSigCtes =
    """cb AS (
       |  SELECT g, c,
       |    CASE WHEN c = 0 THEN 1
       |         WHEN ('0x' || substr(md5('img:' || CAST(g AS VARCHAR) || ':' ||
       |                CAST(c AS VARCHAR)), 1, 15))::BIGINT % 2 = 0 THEN 1
       |         ELSE 0 END AS bit
       |  FROM (SELECT unnest(generate_series(0, 15)) AS g),
       |       (SELECT unnest(generate_series(0, 62)) AS c)),
       |pat AS (
       |  SELECT g, CAST(sum(CASE WHEN bit = 1 THEN (1::BIGINT << c) ELSE 0 END)
       |    AS BIGINT) AS ph
       |  FROM cb GROUP BY g),
       |sig AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id % 3 = 0 THEN p.ph
       |         WHEN d.doc_id % 3 = 1 THEN xor(p.ph,
       |           (1::BIGINT << CAST(1 + d.doc_id % 62 AS INT)))
       |         ELSE xor(p.ph,
       |           (15::BIGINT << CAST(1 + d.doc_id % 59 AS INT)))
       |    END AS phash
       |  FROM documents d JOIN pat p ON p.g = d.doc_id % 16)""".stripMargin

  /** The planted sawtooth PCM as `smp(doc_id, [i,] v, frame_idx)` —
    * shared by m_audio_features (`extra` = "i, ") and m_audio_fingerprint. */
  private def audioSampleCtes(extra: String): String =
    s"""d AS (
       |  SELECT doc_id, 256 + (doc_id % 5) * 64 AS n,
       |         13 + (doc_id % 7) AS a, (doc_id * 31) % 65536 AS b
       |  FROM documents),
       |smp AS (
       |  SELECT doc_id, $extra((a * i + b) % 65536) - 32768 AS v, i // 64 AS frame_idx
       |  FROM d, unnest(generate_series(0, n - 1)) AS u(i))""".stripMargin

  /** The decontamination split: `(trainG(doc_id, g), evalG(g))`, the
    * distinct 4-grams of the training docs and of the held-out eval slice
    * (doc_id % 20 = 0) — shared by t_decontaminate and its Bloom twin. */
  private def decontamGrams(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val d = docs(s, dir)
    val evalG = d.filter(col("doc_id") % 20 === 0)
      .select(explode(array_distinct(shingles(col("text"), 4))).as("g")).distinct()
    val trainG = d.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), explode(array_distinct(shingles(col("text"), 4))).as("g"))
    (trainG, evalG)
  }

  /** The one oracle of t_decontaminate and t_decontaminate_bloom: the
    * prefilter changes the plan, never the result. */
  private val DecontaminateSql =
    s"""WITH ev AS (
       |  SELECT DISTINCT unnest(list_distinct($Shingles4)) AS g
       |  FROM (SELECT doc_id, $WS AS ws FROM documents) WHERE doc_id % 20 = 0),
       |tr AS (
       |  SELECT doc_id, unnest(list_distinct($Shingles4)) AS g
       |  FROM (SELECT doc_id, $WS AS ws FROM documents) WHERE doc_id % 20 <> 0)
       |SELECT doc_id, count(*) AS n_contaminated
       |FROM tr JOIN ev USING (g) GROUP BY doc_id""".stripMargin

  /** Guarded eval-side join for decontamination: broadcast the eval n-gram
    * dictionary only while it is PROVABLY small. "Eval ≪ train" is an
    * assumption, not an invariant — nothing stops a caller pointing the
    * operator at a huge eval suite, and an unconditional broadcast would
    * then OOM every executor. The guard probe is BOUNDED: `limit(cap + 1)
    * .count()` scans the eval side only until the cap overflows (an
    * oversized dictionary short-circuits; a small one pays one cheap extra
    * derivation — never O(train) either way). Past the cap it switches to
    * a shuffled hash join — eval still the per-partition build side, AQE
    * absorbing any hot n-gram. Results are identical on both paths
    * (DecontaminationGuardSpec). */
  private[queries] def contaminationCounts(trainG: org.apache.spark.sql.DataFrame,
      evalG: org.apache.spark.sql.DataFrame,
      maxBroadcastRows: Long = RelationalOps.MaxBroadcastRows)
      : org.apache.spark.sql.DataFrame =
    trainG.join(RelationalOps.guardedBroadcast(evalG,
        RelationalOps.exceedsCap(evalG, maxBroadcastRows)), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))

  /** Guarded trigram-LM scoring engine (t_trigram_lm's body, extracted so
    * the spec can force the fallback). Input: (doc_id, t) with t lowered
    * and length ≥ 3. The "model ≤ |Σ|³ rows" bound is real for ASCII but
    * NOT an invariant — a multilingual/CJK corpus reaches 10⁸⁺ distinct
    * char-trigrams and an unconditional broadcast OOMs the driver. Guard
    * discipline: the model is MATERIALIZED once (eager localCheckpoint —
    * it is the data the scoring join ships anyway, and the blocks are
    * ContextCleaner-collected when the frame goes out of scope, unlike a
    * CacheManager entry), so the size probe is a near-free count over
    * materialized blocks instead of a second model build (the naive
    * `limit(cap+1).count()` probe re-ran the whole explode+aggregate —
    * measured 2× the query). Broadcast while provably small,
    * `shuffle_hash` past the cap — the model still the per-partition build
    * side, AQE absorbing hot trigrams. Results identical on both paths
    * (TrigramLmGuardSpec).
    *
    * Two consequences of the eager materialization, accepted knowingly:
    * CALLING this function runs the model-build job (plan inspection of
    * the returned frame is not free), and the checkpoint truncates
    * lineage, so losing an executor holding model blocks fails the
    * scoring query rather than recomputing — the caller retries the whole
    * call (one model rebuild), the same recovery class as any localCheck-
    * pointed iterative state here (cf. ConnectedComponents' default mode;
    * use its reliable-checkpoint pattern if this ever runs on spot
    * executors in practice).
    *
    * Why no LAZY variant (adjudicated, r9): restoring `Q.build`'s lazy
    * contract would mean deciding broadcast-vs-shuffle AFTER plan
    * construction, and the only engine mechanism for that is AQE's
    * runtime join re-planning — which can only upgrade a shuffle join to
    * broadcast after BOTH sides' map stages have written their shuffle
    * output. The big side here is the re-exploded per-document trigram
    * stream: corpus-sized by construction, and the whole point of the
    * broadcast path is that this stream is NEVER shuffled. A lazy/AQE
    * guard would sink that corpus-sized shuffle write on every run just
    * to learn the model was small; the eager probe pays one
    * alphabet-bounded job instead. Pre-planning size discovery requires
    * an action — the non-lazy build is the price of the zero-corpus-
    * shuffle plan, not an oversight. */
  /** Shared LM MODEL table builders for the LM-extraction class
    * (t_trigram_lm, t_ccnet_buckets, t_kneser_ney): ONE definition of each
    * vocabulary-bounded count table, eagerly localCheckpointed so every
    * consumer inside one query invocation reads the same materialized
    * frame (the scan-count-pin discipline). Deliberately NOT memoized
    * across invocations: every bench/oracle invocation must compute from
    * the parquet inputs (the r12 optimization-round contract — a
    * cross-invocation memo keyed on the corpus dir would make timed runs
    * measure a warm-model scoring pass, not the query). */
  private def lmModel(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    build.localCheckpoint(true)

  /** The spread docs' lowered text `t` (at least one trigram long) next
    * to the `keep` columns — the input of every char-trigram scorer. */
  private def lowerTexts(s: org.apache.spark.sql.SparkSession, dir: String,
      keep: String*): org.apache.spark.sql.DataFrame =
    docsSpread(s, dir).select(keep.map(col) :+ lower(col("text")).as("t"): _*)
      .filter(length(col("t")) >= 3)

  /** The DuckDB image of the char-trigram model: `tri(doc_id, g)` and its
    * count table `c(g, c)` — shared by t_trigram_lm and t_ccnet_buckets. */
  private val CharTrigramCtes =
    """tri AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, length(t) - 2), i -> substr(t, i, 3))) AS g
       |  FROM (SELECT doc_id, lower(text) AS t FROM documents)
       |  WHERE length(t) >= 3),
       |c AS (SELECT g, count(*) AS c FROM tri GROUP BY g)""".stripMargin

  /** The corpus char-trigram count table (g, c) — byte-identical to the
    * frame trigramFamiliarity derives internally. */
  private def charTrigramModel(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    lmModel {
      lowerTexts(s, dir, "doc_id")
        .select(explode(expr(
          "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
    }

  /** The corpus word-bigram count table (w1, w2, c12) — t_kneser_ney's cb
    * frame, shared across calls. */
  private def wordBigramModel(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    lmModel {
      docsSpread(s, dir)
        .select(explode(shingles(lower(col("text")), 2)).as("g"))
        .select(split(col("g"), " ").as("p"))
        .select(element_at(col("p"), 1).as("w1"), element_at(col("p"), 2).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    }

  private[queries] def trigramFamiliarity(d: org.apache.spark.sql.DataFrame,
      maxBroadcastRows: Long = RelationalOps.MaxBroadcastRows,
      sharedModel: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    // Deliberately TWO explode passes and ZERO corpus-sized shuffles: the
    // model build partial-aggregates the exploded stream straight to the
    // distinct-trigram set per partition (the g-keyed shuffle is
    // alphabet-bounded, not corpus-bounded), and the scoring pass
    // re-explodes, map-joins the model, and partial-aggs per doc before
    // its (small) final shuffle. Re-exploding is pure embarrassingly-
    // parallel CPU; materializing one (doc_id, g) frame instead would
    // carry the whole corpus through the network — the wrong trade at
    // 100 TB.
    val tri = d.select(col("doc_id"),
      explode(expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")).as("g"))
    val counts = sharedModel.getOrElse(
      tri.groupBy(col("g")).agg(count(lit(1)).as("c")).localCheckpoint())
    // counts is materialized: a full count is near-free, and the bounded
    // probe's limit would only add jobs
    val model = RelationalOps.guardedBroadcast(counts, counts.count() > maxBroadcastRows)
    tri.join(model, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("c")).as("familiarity"))
  }

  /** t_bm25's engine body, extracted so t_hybrid_rrf can reuse the exact
    * same lexical leg (one image, N paths — the Bm25Sql discipline on the
    * Spark side). Query = the 3 globally-most-frequent terms; per-doc
    * score via the fixed-point 1e-9-grid cross-row sum (the e_centroids
    * discipline: each per-row contrib — deterministic in both engines —
    * quantizes to an exact long, so the per-doc sum is order-independent
    * under any partial-aggregation merge order; a raw double sum(contrib)
    * would differ by last-ulp with the merge schedule and flake the
    * byte-exact oracle). Returns (doc_id, n_query_terms, bm25). */
  /** The per-(doc, term) frequency table — the ROOT of every lexical
    * statistic the retrieval family needs: document lengths (Σtf per doc),
    * document frequencies (row count per term — tf holds exactly one row
    * per distinct (doc, term), so counting rows per term ≡ counting
    * distinct docs per term), total term frequencies, and the BM25 scoring
    * join itself. Callers materialize it ONCE per invocation
    * (localCheckpoint, the lmModel discipline) and thread it through every
    * pass: the r12 shape re-tokenized and re-exploded the corpus per
    * derived statistic — up to six corpus passes in t_prf_rm3 (VERDICT r12
    * #8). */
  private[queries] def tfFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    docs(s, dir).select(col("doc_id"),
        explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** The canonical query for the lexical-retrieval entries: the corpus's
    * top-n terms by total frequency (ttf DESC, term ASC — deterministic).
    * Shared by bm25Scores (n=3, the Bm25Sql `qt` image) and t_prf_rm3's
    * first pass, so the query-term definition cannot drift between them. */
  private[queries] def topQueryTermsFromTf(tf: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame =
    tf.groupBy(col("term")).agg(sum(col("tf")).as("ttf"))
      .orderBy(col("ttf").desc, col("term").asc).limit(n)
      .select(col("term"))

  private[queries] def bm25Scores(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tf = tfFrame(s, dir).localCheckpoint(true)
    bm25ScoresFor(s, dir, topQueryTermsFromTf(tf, 3), tf)
  }

  /** BM25 scoring against an arbitrary query-term frame (k1=1.2, b=0.75,
    * the Bm25Sql constants) — the parameterized body behind [[bm25Scores]]
    * (whose query is the corpus top-3) and t_prf_rm3's second pass (whose
    * query is top-3 ∪ expansion). Scores are fixed-point-summed then
    * 6-dp-rounded, so ranking on them is oracle-exact. `tf` is the
    * caller-materialized [[tfFrame]]. */
  private[queries] def bm25ScoresFor(s: org.apache.spark.sql.SparkSession,
      dir: String,
      qterms: org.apache.spark.sql.DataFrame,
      tf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val dlen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_d"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(dlen.agg(sum(col("n_d")).as("tot_tokens")))
    tf.join(broadcast(qterms), Seq("term"))
      .join(dlen, "doc_id").join(dft, "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0))
      .withColumn("avgdl",
        col("tot_tokens").cast("double") / col("n_docs").cast("double"))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("n_d").cast("double") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_query_terms"),
        graft.operators.RelationalOps.round6(
          sum(floor(col("contrib") * 1e9).cast("long")).cast("double") / 1e9)
          .as("bm25"))
  }

  /** Single-hash Bloom prefilter for the contamination join (see
    * t_decontaminate_bloom): drop train grams whose 16-bit xxhash64 bucket
    * holds no eval gram. The bucket set is a broadcast left-semi join —
    * bounded at 2^16 rows regardless of eval size, so it broadcasts even
    * when the eval dictionary itself cannot. Exact-preserving by
    * construction: equal grams share a bucket (no false negatives); bucket
    * collisions survive only until the exact gram join downstream. */
  private[queries] def bloomPrefilter(trainG: org.apache.spark.sql.DataFrame,
      evalG: org.apache.spark.sql.DataFrame,
      bits: Int = 16): org.apache.spark.sql.DataFrame = {
    val m = 1L << bits
    val buckets = evalG.select(pmod(xxhash64(col("g")), lit(m)).as("gb")).distinct()
    trainG.withColumn("gb", pmod(xxhash64(col("g")), lit(m)))
      .join(broadcast(buckets), Seq("gb"), "left_semi")
      .drop("gb")
  }

  /** The train/val/test bucket (≈ 80/10/10) of `key`: a pure function of
    * its md5 hex prefix, so any engine and any partitioning reproduce it —
    * shared by t_split (per doc) and t_split_leakfree (per cluster). */
  private def splitOf(key: String): org.apache.spark.sql.Column = {
    val h = substring(md5(col(key).cast("string")), 1, 4)
    when(h < "cccc", "train").when(h < "e666", "val").otherwise("test").as("split")
  }

  /** The DuckDB image of [[splitOf]]. */
  private def splitSql(key: String): String =
    s"""CASE WHEN substring(md5(CAST($key AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
       |       WHEN substring(md5(CAST($key AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
       |       ELSE 'test' END AS split""".stripMargin

  /** The DuckDB image of mixSample's per-doc base row `b(doc_id, source,
    * n_tokens, h)` and its per-source running token offset — shared by
    * t_mix_sample and t_mix_temperature. */
  private val MixBaseCte =
    s"""b AS (
       |  SELECT doc_id, source,
       |    CAST(len($WS) AS BIGINT) AS n_tokens,
       |    ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents)""".stripMargin
  private val MixStartOffSql =
    """CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_off""".stripMargin

  /** The `k` docs of highest `score` per `lang`, ranked 1..k (ties to the
    * lower doc_id), through the bounded-heap TopKByScore aggregate. */
  private def langTopK(d: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.DataFrame =
    d.groupBy(col("lang"))
      .agg(graft.expressions.TopKByScore(score, col("doc_id"), k).as("picks"))
      .select(col("lang"), posexplode(col("picks")).as(Seq("pos", "e")))
      .select(col("lang"), col("e.id").as("doc_id"), (col("pos") + 1L).as("rnk"))

  /** The oracle image of [[langTopK]]: the top `k` of `src` per lang by
    * ascending `key`. */
  private def langRankSql(src: String, key: String, k: Int): String =
    s"""SELECT lang, doc_id, rnk FROM (
       |  SELECT lang, doc_id,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY $key, doc_id) AS BIGINT) AS rnk
       |  FROM $src)
       |WHERE rnk <= $k""".stripMargin

  /** KMV sketch state per source over distinct hashes `h(source, hv)`: the
    * 64th-smallest hash `hk` and the count `k` up to it (k < 64 when the
    * source holds fewer distinct hashes). */
  private def kmvKth(h: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("hv").asc)
    h.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 64)
      .groupBy(col("source")).agg(max(col("hv")).as("hk"), count(lit(1)).as("k"))
  }

  /** The KMV distinct estimate (k−1)·2^60/h₍k₎ over [[kmvKth]], exact below k. */
  private def kmvEstimate: org.apache.spark.sql.Column =
    when(col("k") < 64, col("k"))
      .otherwise(floor(lit(63.0) * lit(1152921504606846976.0)
        / col("hk").cast("double")).cast("long"))

  /** The DuckDB images of [[kmvKth]] (CTE `kth` over `h`) and [[kmvEstimate]]. */
  private val KmvKthCtes =
    """rk AS (SELECT source, hv, row_number() OVER (
      |         PARTITION BY source ORDER BY hv ASC) AS rnk FROM h),
      |kth AS (SELECT source, max(hv) AS hk, count(*) AS k
      |        FROM rk WHERE rnk <= 64 GROUP BY 1)""".stripMargin
  private val KmvEstimateSql =
    """CASE WHEN k < 64 THEN CAST(k AS BIGINT)
      |       ELSE CAST(floor(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE)) AS BIGINT) END""".stripMargin

  /** Token-budget mixture sampling (t_mix_sample's engine), extracted so
    * the spec can drive it over adversarial corpora (hot source). See the
    * registry entry's comment for the two-phase design rationale.
    * `budgets` overrides the per-source token budget (a tiny
    * (source, budget) frame, broadcast); None keeps t_mix_sample's
    * hash-derived stand-in budgets as an inline expression. */
  private[queries] def mixSample(d: org.apache.spark.sql.DataFrame,
      budgets: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    val base = d.select(col("doc_id"), col("source"),
        tokenCount(col("text")).as("n_tokens"),
        portableHash60(concat(lit("mix:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("bucket", (col("h") / lit(1L << 52)).cast("long"))
    val sub = base.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tokens")).as("bt"))
    val wOff = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = sub.withColumn("bucket_off", sum(col("bt")).over(wOff) - col("bt"))
      .select(col("source"), col("bucket"), col("bucket_off"))
    val wIn = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.join(broadcast(off), Seq("source", "bucket"))
      .withColumn("start_off",
        col("bucket_off") + sum(col("n_tokens")).over(wIn) - col("n_tokens"))
    val budgeted = budgets match {
      case Some(b) => offsets.join(broadcast(b), Seq("source"))
      case None => offsets.withColumn("budget",
        pmod(portableHash60(concat(lit("budget:"), col("source"))), lit(800L)) + 200L)
    }
    budgeted
      .filter(col("start_off") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("start_off"), col("budget"))
  }

  /** √-temperature per-source budgets (UniMax/multilingual-mixing shape,
    * τ = 1/2): budget_s ∝ √(token mass of s), so over-represented sources
    * are down-weighted sub-linearly instead of capped. Integer-exact end
    * to end: w_s = floor(√m_s) (an exact-integer sqrt — m_s < 2⁵² is
    * exactly representable, the correctly-rounded IEEE √ is within 2⁻²⁰
    * of the true value at any warehouse-sized mass, and floor can never
    * straddle the integer boundary), then budget_s = T·w_s div Σw —
    * multiply/truncating-divide on longs, identical in any engine. One
    * extra partial-aggregable mass pass; the budget frame is
    * sources-sized and broadcasts. */
  private[queries] def temperatureBudgets(d: org.apache.spark.sql.DataFrame,
      totalBudget: Long): org.apache.spark.sql.DataFrame = {
    val w = d.select(col("source"), tokenCount(col("text")).as("n_tokens"))
      .groupBy(col("source")).agg(sum(col("n_tokens")).as("mass"))
      .select(col("source"), floor(sqrt(col("mass").cast("double"))).cast("long").as("w"))
    w.crossJoin(broadcast(w.agg(sum(col("w")).as("tw"))))
      .select(col("source"), expr(s"${totalBudget}L * w div tw").as("budget"))
  }

  /** The df-capped distinct-3-shingle universe with per-doc sizes and the
    * shared-shingle intersection counts — the common front half of the
    * exact near-dup family (jaccard pairs, containment pairs): a shingle
    * in > maxDf docs is boilerplate and contributes O(df²) join rows, so
    * it is excluded via a broadcast anti-join (the hot set is tiny by
    * construction). Returns the pairs `(a_id, b_id, inter)`, a_id < b_id,
    * with both docs' set sizes `na`, `nb`. */
  private def shinglePairCounts(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val maxDf = 100
    val sh = docsSpread(s, dir).select(col("doc_id"),
      explode(array_distinct(shingles(col("text"), 3))).as("s"))
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("s"))
    val shc = sh.join(broadcast(hot), Seq("s"), "left_anti")
    val cnt = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = shc.as("x").join(shc.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(cnt.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(cnt.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
  }

  /** Exact 3-gram-jaccard near-dup pairs (df-capped); shared by
    * t_jaccard_pairs (emits the pairs) and t_dup_clusters (uses them as the
    * edge list for connected components). */
  private def jaccardPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    shinglePairCounts(s, dir)
      .withColumn("jaccard", graft.operators.RelationalOps.round6(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double")))
      .filter(col("jaccard") >= 0.4)
      .select(col("a_id"), col("b_id"), col("inter"), col("jaccard"))

  /** Every doc labeled with the min doc_id reachable through the exact
    * near-dup graph (singletons label themselves) — shared by
    * t_dup_clusters (emits it) and t_split_leakfree (keys the split by
    * it). */
  private def clusteredDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    clusteredDocsWithCheckpoint(s, dir, None)

  /** The near-dup edge frame for Bench's incremental-ledger section — the
    * same pairs the cluster queries consume. */
  private[graft] def benchJaccardPairs(s: org.apache.spark.sql.SparkSession,
      dir: String) = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))

  /** [[clusteredDocs]] with the CC lineage-truncation mode exposed —
    * `checkpointDir = Some(dir)` selects ConnectedComponents' reliable
    * filesystem checkpointing (the spot-executor mode); the bench measures
    * both so the localCheckpoint-vs-reliable trade carries a number. */
  private[graft] def clusteredDocsWithCheckpoint(s: org.apache.spark.sql.SparkSession,
      dir: String, checkpointDir: Option[String]) = {
    val cc = graft.dedup.ConnectedComponents.components(
      jaccardPairs(s, dir), "a_id", "b_id", checkpointDir = checkpointDir)
    docs(s, dir).select(col("doc_id"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
  }

  /** The df-capped (≤ 100 docs) distinct-trigram universe `shc(doc_id, s)`
    * and per-doc set sizes `cnt(doc_id, n)` — shared by the pair-mining
    * and t_text_knn oracles. */
  private val CappedShingleCtes = s"""sh AS (
    |  SELECT doc_id, unnest(list_distinct($Shingles3)) AS s
    |  FROM (SELECT doc_id, $WS AS ws FROM documents)),
    |shc AS (
    |  SELECT * FROM sh
    |  WHERE s NOT IN (SELECT s FROM sh GROUP BY s HAVING count(*) > 100)),
    |cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id)""".stripMargin

  /** The [[shinglePairCounts]] front half as DuckDB CTEs ending in
    * `pairs0(a_id, b_id, inter)` + `cnt(doc_id, n)` — shared by the
    * jaccard and containment oracles. */
  private val ShingleUniverseCtes = s"""$CappedShingleCtes,
    |pairs0 AS (
    |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter
    |  FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id
    |  GROUP BY 1, 2)""".stripMargin

  /** The same pairs as DuckDB CTEs ending in `jp(a_id, b_id, inter,
    * jaccard)` — prefix for the t_jaccard_pairs and t_dup_clusters
    * oracles. */
  private val PairCtes = s"""$ShingleUniverseCtes,
    |jp AS (
    |  SELECT a_id, b_id, inter, jaccard FROM (
    |    SELECT a_id, b_id, inter,
    |      floor((CAST(inter AS DOUBLE) / (ca.n + cb.n - inter)) * 1000000 + 0.5) / 1000000 AS jaccard
    |    FROM pairs0 JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id)
    |  WHERE jaccard >= 0.4)""".stripMargin

  /** Rounds of the label-propagation registry slice, shared Spark/oracle. */
  private val LpRounds = 3

  /** [[graft.operators.LabelProp.propagate]] over the jaccard edges as
    * DuckDB CTEs ending in `ll$LpRounds(doc_id, label)` — symmetrized
    * edges, clamped seeds (every 5th doc labeled with its lang), and each
    * synchronous majority round UNROLLED: vote counts are integers and the
    * argmax tiebreak is (count DESC, label lexicographic), so no engine
    * can disagree. MATERIALIZED because round t reads ll(t−1) twice (vote
    * join + seed-clamp anti-membership). */
  private val LabelPropCtes: String = {
    val rounds = (1 to LpRounds).map { t =>
      s"""lv$t AS (
         |  SELECT s.dst AS doc_id, l.label, count(*) AS cnt
         |  FROM lsym s JOIN ll${t - 1} l ON s.src = l.doc_id
         |  GROUP BY 1, 2),
         |la$t AS (
         |  SELECT doc_id, label FROM (
         |    SELECT doc_id, label,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY cnt DESC, label) AS rn
         |    FROM lv$t) WHERE rn = 1),
         |ll$t AS MATERIALIZED (
         |  SELECT doc_id, label FROM ll0
         |  UNION ALL
         |  SELECT doc_id, label FROM la$t
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ll0))""".stripMargin
    }.mkString(",\n")
    s"""$PairCtes,
       |lsym AS MATERIALIZED (
       |  SELECT a_id AS src, b_id AS dst FROM jp
       |  UNION ALL SELECT b_id AS src, a_id AS dst FROM jp),
       |ll0 AS MATERIALIZED (
       |  SELECT doc_id, lang AS label FROM documents WHERE doc_id % 5 = 0),
       |$rounds""".stripMargin
  }

  /** The portable-family MinHash-LSH pipeline as DuckDB CTEs ending in
    * `mjp(a_id, b_id, inter, jaccard)` — the oracle counterpart of
    * [[TextDedup.nearDuplicatePairs]] with `portable = true`: md5-prefix
    * 60-bit shingle hashes, mod-(2^31−1) affine signature permutations,
    * string band keys, the maxBucket=64 cap, and the exact-jaccard verify.
    * Shared by t_minhash_pairs (emits the pairs) and t_minhash_dedup (uses
    * them as the cluster edge list). Mirrors MinHashConfig(numPerm = 64,
    * bands = 16, maxBucket = 64, jaccardThreshold = 0.4) exactly. */
  /** The MinHash pipeline CTEs (signatures → bands → capped buckets →
    * candidate pairs → exact-Jaccard `mjp`) rooted at `src` — parameterized
    * so the composed curation-pipeline oracle replays the IDENTICAL chain
    * over its filtered survivor set. */
  private def minhashCtes(src: String): String = s"""md AS (
    |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
    |  FROM $src),
    |msh AS (
    |  SELECT doc_id,
    |    list_transform(
    |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
    |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])),
    |      g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS xs
    |  FROM md WHERE len(ws) >= 3),
    |mshx AS (SELECT doc_id, xs FROM msh WHERE len(xs) > 0),
    |msig AS (
    |  SELECT doc_id, p,
    |    min((((p + 1) * 2654435761) % 2147483647 * (x % 2147483647)
    |         + ((p + 1) * 1779033703) % 2147483647) % 2147483647) AS v
    |  FROM (SELECT doc_id, unnest(xs) AS x FROM mshx)
    |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS p)
    |  GROUP BY doc_id, p),
    |mbnd AS (
    |  SELECT doc_id,
    |    (p // 4)::VARCHAR || ':' || string_agg(v::VARCHAR, ',' ORDER BY p) AS key
    |  FROM msig GROUP BY doc_id, p // 4),
    |mok AS (SELECT key FROM mbnd GROUP BY key HAVING count(*) <= 64),
    |mbok AS (SELECT mbnd.doc_id, mbnd.key FROM mbnd JOIN mok USING (key)),
    |mcand AS (
    |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
    |  FROM mbok x JOIN mbok y ON x.key = y.key AND x.doc_id < y.doc_id),
    |mcnt AS (SELECT doc_id, len(xs) AS n FROM mshx),
    |mux AS (SELECT doc_id, unnest(xs) AS x FROM mshx),
    |miv AS (
    |  SELECT c.a_id, c.b_id, count(DISTINCT xa.x) AS inter
    |  FROM mcand c
    |  JOIN mux xa ON xa.doc_id = c.a_id
    |  JOIN mux xb ON xb.doc_id = c.b_id AND xb.x = xa.x
    |  GROUP BY c.a_id, c.b_id),
    |mjp AS (
    |  SELECT a_id, b_id, inter,
    |    floor(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) * 1000000 + 0.5) / 1000000 AS jaccard
    |  FROM miv JOIN mcnt ca ON a_id = ca.doc_id JOIN mcnt cb ON b_id = cb.doc_id
    |  WHERE floor(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) * 1000000 + 0.5) / 1000000 >= 0.4)""".stripMargin

  private val MinhashCtes = minhashCtes("documents")

  /** The t_quality_classifier logit as a (doc_id, logit) subquery over
    * `src` — shared with the curation-pipeline oracle. */
  private def qualityLogitSql(src: String): String =
    s"""SELECT doc_id,
       |    floor((-1.5 + 2.0 * f_len + 1.5 * f_distinct + 1.0 * f_meanlen
       |           - 2.0 * f_punct + 3.0 * f_stop) * 1000000 + 0.5) / 1000000 AS logit
       |  FROM (
       |  SELECT doc_id,
       |    floor(least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0) * 1000000 + 0.5) / 1000000 AS f_len,
       |    floor((CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS f_distinct,
       |    floor(least((CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
       |                 / CAST(len(ws) AS DOUBLE)) / 8.0, 1.0) * 1000000 + 0.5) / 1000000 AS f_meanlen,
       |    floor((CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |               / CAST(length(text) AS DOUBLE) END) * 1000000 + 0.5) / 1000000 AS f_punct,
       |    floor((CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
       |           / CAST(len(ws) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS f_stop
       |  FROM (SELECT doc_id, text, $WSL AS ws FROM $src))""".stripMargin

  /** Sizing shared by the t_quality_lr Spark body and its unrolled oracle:
    * 16 full-batch GD epochs at lr = 4.0 on the 1e6 grid (measured on the
    * corpus: train accuracy 0.86 vs the 0.58 majority baseline; the
    * trajectory is convergent — lr 8.0 plateaus at the same accuracy,
    * lr ≫ that oscillates). */
  private val LrRounds = 16
  private val LrMicro = 4000000L
  private val LrFeatNames =
    Seq("f_len", "f_distinct", "f_meanlen", "f_punct", "f_stop")

  /** The distillation label as EXACT integer arithmetic over the micro
    * features: the fixed rule's logit (t_quality_classifier weights
    * 2/1.5/1/−2/3, intercept −1.5) at threshold 1.0, everything scaled ×2
    * so the 1.5 coefficient stays integral — no double rounding anywhere
    * in the label definition, so both engines label identically by
    * construction. */
  private val LrLabelSql =
    """CASE WHEN -3000000 + 4 * f_len + 3 * f_distinct + 2 * f_meanlen
      |          - 4 * f_punct + 6 * f_stop >= 2000000
      |     THEN 1 ELSE 0 END""".stripMargin

  /** Micro-grid feature frame for the trainable quality classifier.
    * Label = the fixed rule's keep decision at a threshold that SPLITS
    * this corpus (~58/42) — the distillation task: the label is linearly
    * separable in exactly these features, so training provably LEARNS
    * (accuracy far above base rate) and the unrolled oracle is
    * non-vacuous. The real-world shape is identical: curation orgs
    * bootstrap trained quality classifiers from rule-labeled slices. */
  private def lrFeatures(s: org.apache.spark.sql.SparkSession, dir: String,
      extraCols: Seq[String] = Nil) = {
    // spread: the feature frame is localCheckpointed by its consumers and
    // then re-read once per training epoch — a degenerate layout would pin
    // all 16 epoch aggregates to ONE task
    val d = docsSpread(s, dir)
      .select(col("doc_id") +: extraCols.map(col) :+ col("text")
        :+ tokens(lower(col("text"))).as("ws"): _*)
    val feats = graft.functions.TextFunctions
      .qualityFeatureMicros(col("text"), col("ws"))
    val withF = d.select(col("doc_id") +: extraCols.map(col) ++:
      feats.map { case (n, c) => c.as(n) }: _*)
    val y = when(
      lit(-3000000L) + lit(4L) * col("f_len") + lit(3L) * col("f_distinct")
        + lit(2L) * col("f_meanlen") - lit(4L) * col("f_punct")
        + lit(6L) * col("f_stop") >= 2000000L, 1L).otherwise(0L)
    withF.select(col("doc_id") +: extraCols.map(col) ++:
      (y.as("y") +: LrFeatNames.map(col)): _*)
  }

  /** The DuckDB image of [[lrFeatures]] (micro-grid casts of the
    * qualityLogitSql features + the exact-integer label rule);
    * `extra` threads passthrough columns (e.g. "lang, "). */
  private def lrFeaturesSqlWith(extra: String): String = {
    val stops = graft.functions.TextFunctions.stopwordProfiles.head._2
      .map(w => s"'$w'").mkString(", ")
    s"""  SELECT doc_id, $extra$LrLabelSql AS y, f_len, f_distinct, f_meanlen, f_punct, f_stop
       |  FROM (
       |  SELECT doc_id, $extra
       |    CAST(floor(least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0) * 1000000.0 + 0.5) AS BIGINT) AS f_len,
       |    CAST(floor((CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS f_distinct,
       |    CAST(floor(least((CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
       |                      / CAST(len(ws) AS DOUBLE)) / 8.0, 1.0) * 1000000.0 + 0.5) AS BIGINT) AS f_meanlen,
       |    CAST(floor((CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |               / CAST(length(text) AS DOUBLE) END) * 1000000.0 + 0.5) AS BIGINT) AS f_punct,
       |    CAST(floor((CAST(len(list_filter(ws, w -> w IN ($stops))) AS DOUBLE)
       |                / CAST(len(ws) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS f_stop
       |  FROM (SELECT doc_id, $extra text, $WSL AS ws FROM documents))""".stripMargin
  }

  private val LrFeaturesSql: String = lrFeaturesSqlWith("")

  private def lrTrainCtes: String = graft.operators.LogisticRegression
    .trainCtes(LrFeaturesSql, LrFeatNames, LrRounds, LrMicro)

  /** The per-language twin of [[lrTrainCtes]]: `lrf` carries `lang` and
    * every `w<r>` frame has one row per language. */
  private def lrGroupedCtes: String = graft.operators.LogisticRegression
    .trainGroupedCtes(lrFeaturesSqlWith("lang, "), "lang", LrFeatNames, LrRounds, LrMicro)

  /** The oracle's `p_micro` of feature row `f` under final weights `w`. */
  private val LrPMicroSql = graft.operators.LogisticRegression.pMicroSql(
    ("w.w0 * 1000000" +: LrFeatNames.zipWithIndex.map {
      case (c, j) => s"w.w${j + 1} * f.$c" }).mkString(" + "))

  private val LrWeightNames = "intercept" +: LrFeatNames

  /** One `(…, feature, w_micro)` row per final coefficient; `group` is a
    * leading `lang, ` for the per-language weights, or empty. */
  private def lrWeightRowsSql(group: String): String =
    LrWeightNames.zipWithIndex.map { case (n, j) =>
      s"SELECT $group'$n' AS feature, w$j AS w_micro FROM w$LrRounds" }
      .mkString("\n UNION ALL ")

  /** The single-model trainer prologue: the feature frame, materialized
    * once because every epoch re-reads it, and the model trained on it. */
  private def lrTrained(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, graft.operators.LogisticRegression.Model) = {
    val f = lrFeatures(s, dir).localCheckpoint(true)
    (f, graft.operators.LogisticRegression.train(f, "y", LrFeatNames, LrRounds, LrMicro))
  }

  /** Every doc scored by the single trained model (`p_micro`, `keep`). */
  private def lrScored(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val (f, m) = lrTrained(s, dir)
    graft.operators.LogisticRegression.score(f, m, LrFeatNames)
  }

  /** The per-language prologue: the `lang`-carrying feature frame and one
    * model per language, all trained in the same epochs. */
  private def lrTrainedByLang(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Map[String, Array[Long]]) = {
    val f = lrFeatures(s, dir, extraCols = Seq("lang")).localCheckpoint(true)
    (f, graft.operators.LogisticRegression.trainGrouped(
      f, "lang", "y", LrFeatNames, LrRounds, LrMicro))
  }

  /** The Gopher/MassiveText rule battery as a staged per-row expression
    * frame — shared by t_gopher_rules (the battery itself) and
    * t_gopher_attribution (the rule-kill rollup). */
  private def gopherRules(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import graft.operators.RelationalOps.round6
    val n = size(col("__ws")).cast("double")
    val staged = docs(s, dir).select(col("doc_id"), col("text"),
        tokens(col("text")).as("__ws"),
        tokens(lower(col("text"))).as("__wsl"),
        shingles(col("text"), 2).as("__g2"))
      .withColumn("__cnts", transform(array_distinct(col("__g2")),
        g => size(filter(col("__g2"), x => x === g)).cast("long")))
    val meanLen = when(n === 0.0, lit(0.0)).otherwise(
      aggregate(col("__ws"), lit(0L), (acc, w) => acc + length(w))
        .cast("double") / n)
    val alphaRatio = when(n === 0.0, lit(0.0)).otherwise(
      size(filter(col("__ws"), w => w.rlike("[a-zA-Z]"))).cast("double") / n)
    val hashChars =
      (length(col("text")) - length(expr("replace(text, '#', '')")))
        .cast("double")
    val ellipses =
      (length(col("text")) - length(expr("replace(text, '...', '')")))
        .cast("double") / 3.0
    val symbolRatio = when(n === 0.0, lit(0.0))
      .otherwise((hashChars + ellipses) / n)
    val ng2 = size(col("__g2")).cast("double")
    val top2 = when(ng2 === 0.0, lit(0.0)).otherwise(
      array_max(col("__cnts")).cast("double") / ng2)
    val dup2 = when(ng2 === 0.0, lit(0.0)).otherwise(
      coalesce(aggregate(filter(col("__cnts"), c => c > 1L), lit(0L),
        (acc, c) => acc + c), lit(0L)).cast("double") / ng2)
    staged.select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_words"),
        round6(meanLen).as("mean_word_len"),
        round6(alphaRatio).as("alpha_ratio"),
        size(filter(col("__wsl"), w =>
          w.isin(stopwordProfiles.head._2.map(lit(_)): _*)))
          .cast("long").as("stop_hits"),
        round6(symbolRatio).as("symbol_ratio"),
        round6(top2).as("top2_frac"),
        round6(dup2).as("dup2_frac"))
      .withColumn("keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("alpha_ratio") >= 0.8 && col("stop_hits") >= 2 &&
          col("symbol_ratio") <= 0.1 &&
          col("top2_frac") <= 0.2 && col("dup2_frac") <= 0.2)
  }

  /** DuckDB image of [[gopherRules]]. */
  private val GopherRulesSql: String = {
    val stops = graft.functions.TextFunctions.stopwordProfiles.head._2
      .map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, n_words, mean_word_len, alpha_ratio, stop_hits,
       |  symbol_ratio, top2_frac, dup2_frac,
       |  (n_words >= 50 AND n_words <= 100000
       |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |   AND alpha_ratio >= 0.8 AND stop_hits >= 2
       |   AND symbol_ratio <= 0.1
       |   AND top2_frac <= 0.2 AND dup2_frac <= 0.2) AS keep
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CASE WHEN len(ws) = 0 THEN 0.0 ELSE
       |      floor((CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
       |             / CAST(len(ws) AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS mean_word_len,
       |    CASE WHEN len(ws) = 0 THEN 0.0 ELSE
       |      floor((CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
       |             / CAST(len(ws) AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS alpha_ratio,
       |    CAST(len(list_filter(wsl, w -> w IN ($stops))) AS BIGINT) AS stop_hits,
       |    CASE WHEN len(ws) = 0 THEN 0.0 ELSE
       |      floor(((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
       |              + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0)
       |             / CAST(len(ws) AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS symbol_ratio,
       |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
       |      floor((CAST(list_max(cnts) AS DOUBLE) / CAST(len(g2) AS DOUBLE))
       |            * 1000000 + 0.5) / 1000000 END AS top2_frac,
       |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
       |      floor((CAST(coalesce(list_sum(list_filter(cnts, c -> c > 1)), 0) AS DOUBLE)
       |             / CAST(len(g2) AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS dup2_frac
       |  FROM (
       |    SELECT doc_id, text, ws, wsl, g2,
       |      list_transform(list_distinct(g2),
       |        g -> CAST(len(list_filter(g2, x -> x = g)) AS BIGINT)) AS cnts
       |    FROM (
       |      SELECT doc_id, text, ws, wsl,
       |        list_transform(generate_series(1, len(ws) - 1),
       |          i -> ws[i] || ' ' || ws[i+1]) AS g2
       |      FROM (SELECT doc_id, text, $WS AS ws, $WSL AS wsl
       |            FROM documents))))""".stripMargin
  }

  /** The t_lang_guess argmax as a (doc_id, lang_guess) subquery over
    * `src` — shared with the curation-pipeline oracle. */
  private def langGuessSql(src: String): String = {
    val hits = graft.functions.TextFunctions.stopwordProfiles.map { case (lang, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(ws, w -> w IN ($inList))) AS ${lang}_h"
    }.mkString(",\n  ")
    s"""SELECT doc_id,
       |  CASE WHEN m <= 0 THEN 'und'
       |       WHEN en_h = m THEN 'en'
       |       WHEN fr_h = m THEN 'fr'
       |       WHEN es_h = m THEN 'es'
       |       ELSE 'de' END AS lang_guess
       |FROM (SELECT doc_id, en_h, fr_h, es_h, de_h,
       |        greatest(en_h, fr_h, es_h, de_h) AS m
       |      FROM (SELECT doc_id,
       |  $hits
       |            FROM (SELECT doc_id, $WSL AS ws FROM $src)))""".stripMargin
  }

  /** The native winnowing fingerprint pipeline as DuckDB CTEs ending in
    * `wf(doc_id, fp)` (distinct) — the oracle counterpart of
    * [[graft.expressions.WinnowFingerprint]] with k = 8, window = 16:
    * polynomial char-gram hash base 1000003 with wrapping mod-2^64
    * arithmetic (emulated via HUGEINT, mapped back to signed BIGINT),
    * rightmost-min window selection. Reproduces the NATIVE hash family —
    * wrapping 64-bit arithmetic is exact ring arithmetic mod 2^64, so the
    * rolling-update kernel and this direct per-gram fold agree bit-for-bit
    * (the corpus is ASCII, so Java UTF-16 code units = codepoints =
    * `unicode(ch)`). Shared by t_winnow and t_winnow_pairs. */
  private val WinnowCtes = s"""wd AS (
    |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt FROM documents),
    |wg AS (
    |  SELECT doc_id, unnest(generate_series(1, length(nt) - 7)) AS i, nt
    |  FROM wd WHERE length(nt) >= 8),
    |wgh AS (
    |  SELECT doc_id, i - 1 AS p,
    |    CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
    |              THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS h
    |  FROM (
    |    SELECT doc_id, i,
    |      list_reduce(
    |        list_transform(string_split(substr(nt, i, 8), ''), ch -> unicode(ch)::HUGEINT),
    |        (a, c) -> (a * 1000003 + c) % 18446744073709551616::HUGEINT) AS hu
    |    FROM wg)),
    |wgm AS (SELECT doc_id, p, h, count(*) OVER (PARTITION BY doc_id) AS m FROM wgh),
    |wst AS (
    |  SELECT doc_id, unnest(generate_series(0, greatest(m - 16, 0))) AS s
    |  FROM (SELECT DISTINCT doc_id, m FROM wgm)),
    |wsel AS (
    |  SELECT wst.doc_id, wst.s, (array_agg(wgm.h ORDER BY wgm.h ASC, wgm.p DESC))[1] AS fp
    |  FROM wst JOIN wgm ON wgm.doc_id = wst.doc_id AND wgm.p BETWEEN wst.s AND wst.s + 15
    |  GROUP BY wst.doc_id, wst.s),
    |wf AS (SELECT DISTINCT doc_id, fp FROM wsel)""".stripMargin

  /** Recursive-CTE cluster fixpoint over `jp` ending in
    * `clustered(doc_id, cluster_id)` — the oracle counterpart of
    * [[clusteredDocs]], shared by t_dup_clusters and t_split_leakfree. */
  private val ClusterCtes = s"""$PairCtes,
    |edges AS (
    |  SELECT a_id AS u, b_id AS v FROM jp
    |  UNION SELECT b_id, a_id FROM jp),
    |reach(u, v) AS (
    |  SELECT u, v FROM edges
    |  UNION
    |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    |clustered AS (
    |  SELECT d.doc_id,
    |    least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
    |  FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
    |  GROUP BY d.doc_id)""".stripMargin

  /** Fixed iteration count shared by the Spark body and the oracle's
    * unrolled CTE chain for t_source_pagerank. */
  private val PageRankIters = 10

  /** The syndication-PageRank pipeline as DuckDB CTEs ending in
    * `pr10(source, rank_e9)` — the oracle counterpart of the
    * t_source_pagerank body: cluster→source membership from `clustered`,
    * the ≤64-sources cluster cap, co-membership edge weights, and
    * [[graft.operators.PageRank]]'s integer recurrence UNROLLED one CTE
    * per iteration (plain aggregates per step — no recursive-aggregate
    * support needed, portable to any engine). Every arithmetic step is
    * BIGINT multiply / floor-divide / sum, so the chain is exact. */
  private val SourceRankCtes: String = {
    val iters = (1 to PageRankIters).map { i =>
      s"""pr$i AS (
         |  SELECT n.source,
         |    CAST(150000000 + (85 * coalesce(inc.s, 0)) // 100 AS BIGINT) AS rank_e9
         |  FROM prnodes n LEFT JOIN (
         |    SELECT e.dst AS source, CAST(sum((r.rank_e9 * e.w) // o.out_w) AS BIGINT) AS s
         |    FROM preg e JOIN pr${i - 1} r ON e.src = r.source JOIN prow o ON e.src = o.src
         |    GROUP BY e.dst) inc USING (source))""".stripMargin
    }.mkString(",\n")
    s"""$ClusterCtes,
       |prnodes AS (SELECT DISTINCT source FROM documents),
       |prcs AS (
       |  SELECT DISTINCT c.cluster_id, d.source
       |  FROM clustered c JOIN documents d USING (doc_id)),
       |prok AS (SELECT cluster_id FROM prcs GROUP BY cluster_id HAVING count(*) <= 64),
       |preg AS (
       |  SELECT a.source AS src, b.source AS dst, count(*) AS w
       |  FROM prcs a JOIN prcs b USING (cluster_id) JOIN prok USING (cluster_id)
       |  WHERE a.source <> b.source
       |  GROUP BY 1, 2),
       |prow AS (SELECT src, sum(w) AS out_w FROM preg GROUP BY src),
       |pr0 AS (SELECT source, CAST(1000000000 AS BIGINT) AS rank_e9 FROM prnodes),
       |$iters""".stripMargin
  }

  /** Fixed merge count shared by the Spark body and the oracle's unrolled
    * CTE chain for t_bpe_merges. */
  private val BpeK = 6

  /** One BPE round as DuckDB CTEs: `bpr$n` (the argmax pair), then the
    * greedy left-to-right merge application rebuilt from window functions —
    * candidate positions, run-ids over consecutive candidates (only
    * possible when left = right), odd-position selection within each run
    * (exactly textbook greedy order), then the rewritten symbol lists in
    * `bw$n`. Mirrors [[graft.operators.BpeVocab.mergePair]]'s fold.
    * MATERIALIZED is load-bearing (the TopPcCtes reason): each round
    * reads the previous `bw` twice and its `bpr` twice, so inlining
    * re-evaluates the upstream chain ~2x per round — measured minutes at
    * sf0.01 for the t_bpe_encode final-state read vs seconds pinned. */
  private def bpeRoundCtes(n: Int): String =
    s"""bpr$n AS MATERIALIZED (
       |  SELECT l, r, cnt FROM (
       |    SELECT syms[i] AS l, syms[i + 1] AS r, sum(freq) AS cnt
       |    FROM (SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
       |          FROM bw${n - 1})
       |    GROUP BY 1, 2)
       |  ORDER BY cnt DESC, l, r LIMIT 1),
       |bcp$n AS (
       |  SELECT word, freq, i, syms[i] AS s,
       |    (i < len(syms) AND syms[i] = (SELECT l FROM bpr$n)
       |       AND syms[i + 1] = (SELECT r FROM bpr$n)) AS cand
       |  FROM (SELECT word, freq, syms, unnest(generate_series(1, len(syms))) AS i
       |        FROM bw${n - 1})),
       |bcr$n AS (
       |  SELECT word, freq, i, s, cand,
       |    CASE WHEN cand THEN i - row_number() OVER (PARTITION BY word, cand ORDER BY i) END AS grp
       |  FROM bcp$n),
       |bcs$n AS (
       |  SELECT word, freq, i, s,
       |    cand AND ((row_number() OVER (PARTITION BY word, grp ORDER BY i) % 2) = 1) AS sel
       |  FROM bcr$n),
       |bem$n AS (
       |  SELECT word, freq, i,
       |    CASE WHEN sel THEN s || lead_s ELSE s END AS s2,
       |    lag(sel, 1, false) OVER (PARTITION BY word ORDER BY i) AS psel
       |  FROM (SELECT *, lead(s) OVER (PARTITION BY word ORDER BY i) AS lead_s
       |        FROM bcs$n)),
       |bw$n AS MATERIALIZED (
       |  SELECT word, freq, list(s2 ORDER BY i) AS syms
       |  FROM bem$n WHERE NOT psel GROUP BY word, freq)""".stripMargin

  /** The full BPE pipeline as DuckDB CTEs — word frequencies, per-char
    * initial symbols (1-based substr slicing, the same derivation the
    * Spark side uses), then [[BpeK]] unrolled merge rounds. */
  private val BpeCtes: String = {
    val rounds = (1 to BpeK).map(bpeRoundCtes).mkString(",\n")
    s"""bwf AS (
       |  SELECT word, count(*) AS freq
       |  FROM (SELECT unnest($WSL) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |bw0 AS MATERIALIZED (
       |  SELECT word, freq,
       |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS syms
       |  FROM bwf),
       |$rounds""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Token counting (whitespace + distinct-token stats).
    Q("t_token_stats",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct_tokens")),
      Some(s"""SELECT doc_id,
              |  CAST(len($WS) AS BIGINT) AS n_tokens,
              |  CAST(length(text) AS BIGINT) AS n_chars_calc,
              |  CAST(len(list_distinct($WS)) AS BIGINT) AS n_distinct_tokens
              |FROM documents""".stripMargin),
      headline = true),

    // Sequence packing — the curated-corpus → training-batch step: docs are
    // assigned, shard-by-shard in doc_id order, to fixed-token-budget packs
    // by their cumulative START offset (offset-chunked packing: pack k owns
    // token offsets [k·C, (k+1)·C), a doc belongs to the pack its first
    // token lands in). The window partitions by the shard key (lang), so
    // packing parallelizes across shards — exactly how production packers
    // scale: shard first, pack within shards, never a global sequence.
    Q("t_pack_sequences",
      (s, dir) => {
        val packTokens = 512
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, dir)
          .select(col("doc_id"), col("lang"), tokenCount(col("text")).as("n_tokens"))
          .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
          .withColumn("pack_id", expr(s"start_off div $packTokens"))
      },
      Some(s"""SELECT doc_id, lang, n_tokens, start_off,
              |  CAST(start_off // 512 AS BIGINT) AS pack_id
              |FROM (
              |  SELECT doc_id, lang, CAST(len($WS) AS BIGINT) AS n_tokens,
              |    CAST(SUM(CAST(len($WS) AS BIGINT)) OVER (
              |        PARTITION BY lang ORDER BY doc_id
              |        ROWS UNBOUNDED PRECEDING) AS BIGINT)
              |      - CAST(len($WS) AS BIGINT) AS start_off
              |  FROM documents)""".stripMargin)),

    // TRUE greedy packing (no doc straddles a boundary): per-shard
    // sequential first-fit-in-order — the loop-carried recurrence runs as
    // one pass per shard (operators.SequencePack); the oracle replays the
    // same recurrence as a recursive CTE chained per shard on row_number.
    Q("t_pack_greedy",
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          tokenCount(col("text")).as("n_tokens"))
        graft.operators.SequencePack.greedyPack(d, "lang", "doc_id", "n_tokens", 512)
          .select(col("ord").as("doc_id"), col("shard").as("lang"),
            col("n_tokens"), col("pack_id"))
      },
      Some(s"""WITH RECURSIVE base AS (
              |  SELECT doc_id, lang, CAST(len($WS) AS BIGINT) AS n,
              |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
              |  FROM documents),
              |pk AS (
              |  SELECT doc_id, lang, n, rn, CAST(0 AS BIGINT) AS pack_id, n AS fill
              |  FROM base WHERE rn = 1
              |  UNION ALL
              |  SELECT b.doc_id, b.lang, b.n, b.rn,
              |    CASE WHEN p.fill + b.n > 512 THEN p.pack_id + 1 ELSE p.pack_id END,
              |    CASE WHEN p.fill + b.n > 512 THEN b.n ELSE p.fill + b.n END
              |  FROM pk p JOIN base b ON b.lang = p.lang AND b.rn = p.rn + 1)
              |SELECT doc_id, lang, n AS n_tokens, pack_id FROM pk""".stripMargin)),

    // Language-ID heuristic: per-language stopword hit counts → first-wins
    // argmax. Oracle mirrors the fold as greatest() + ordered CASE.
    Q("t_lang_guess",
      (s, dir) => withLangGuess(docs(s, dir), "text", "lang_guess")
        .select(col("doc_id"), col("lang_guess")),
      Some(langGuessSql("documents"))),

    // Quality scoring: token count, distinct ratio, mean token length.
    Q("t_quality",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        qualityScore(col("text")).as("quality"),
        graft.operators.RelationalOps.round6(punctRatio(col("text"))).as("punct_ratio")),
      Some(s"""SELECT doc_id,
              |  $QualitySql AS quality,
              |  floor((CASE WHEN length(text) = 0 THEN 0.0
              |        ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
              |             / CAST(length(text) AS DOUBLE) END) * 1000000 + 0.5) / 1000000 AS punct_ratio
              |FROM (SELECT doc_id, text, $WS AS ws FROM documents)""".stripMargin),
      headline = true),

    // Model-based quality FILTER (the fastText/logreg classifier slot in a
    // curation pipeline): a linear model over five per-doc features —
    // length saturation, distinct-token ratio, mean token length, punct
    // ratio, en-stopword density — with FIXED published-style weights (a
    // stand-in for trained coefficients; the operator shape is the
    // point: features and dot product are all codegen'd scalar built-ins
    // over one staged token array, zero shuffle, zero UDF, so the filter
    // runs at scan speed on 100 TB and the weight vector swaps without
    // touching the plan). Each feature is rounded to the shared 6-dp grid
    // FIRST, then the logit is a fixed-order affine combination of those
    // rounded doubles — identical IEEE arithmetic in both engines — and
    // the keep decision compares the rounded logit to 0.
    Q("t_quality_classifier",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), col("text"), tokens(lower(col("text"))).as("ws"))
        .select(col("doc_id"),
          qualityClassifierLogit(col("text"), col("ws")).as("logit"))
        .select(col("doc_id"), col("logit"), (col("logit") >= 0).as("keep")),
      Some(s"""SELECT doc_id, logit, logit >= 0 AS keep FROM (
              |${qualityLogitSql("documents")})""".stripMargin)),

    // TRAINED quality classifier — distributed binary logistic regression
    // (full-batch GD, 16 epochs) over the same five quality features;
    // label = the fixed rule's keep decision at a corpus-splitting
    // threshold (the DISTILLATION task: rule-labeled slice → calibrated
    // trained model, the standard quality-classifier bootstrap). Trains to
    // 0.86 accuracy vs the 0.58 majority baseline. Each epoch is ONE
    // partial-aggregable pass (the exchange carries d+2 exact decimal sums
    // per partition, driver state is O(d) weights); the link is the
    // algebraic fast sigmoid, whose correctly-rounded IEEE ops are what
    // let an ITERATIVE TRAINER carry a byte oracle — the oracle unrolls
    // all 16 epochs (the KMeans discipline), so a drift in any round's
    // gradient breaks the match.
    Q("t_quality_lr",
      (s, dir) => lrScored(s, dir)
        .select(col("doc_id"), col("y"), col("p_micro"), col("keep")),
      Some(s"""WITH $lrTrainCtes
              |SELECT f.doc_id, f.y, $LrPMicroSql AS p_micro, $LrPMicroSql >= 500000 AS keep
              |FROM lrf f, w$LrRounds w""".stripMargin)),

    // Precision/recall sweep of the trained classifier across the
    // threshold grid — what a curation org reads to PICK the operating
    // threshold (keep-rate vs quality trade). Pure composition: score
    // once, then an 11-row broadcast threshold table joins the per-doc
    // grid scores; counts are exact integers, ratios 6-dp-rounded. The
    // model-eval completeness piece next to e_eval_metrics' ranking
    // metrics.
    Q("t_quality_lr_pr",
      (s, dir) => {
        import graft.operators.RelationalOps
        val scored = lrScored(s, dir).select(col("y"), col("p_micro"))
        val th = broadcast(s.range(0, 11)
          .select((col("id") * 100000L).as("threshold_micro")))
        scored.crossJoin(th)
          .groupBy(col("threshold_micro"))
          .agg(
            sum(when(col("p_micro") >= col("threshold_micro"), 1L)
              .otherwise(0L)).as("n_kept"),
            sum(when(col("p_micro") >= col("threshold_micro") && col("y") === 1L, 1L)
              .otherwise(0L)).as("n_true_kept"),
            sum(col("y")).as("n_pos"))
          .select(col("threshold_micro"), col("n_kept"), col("n_true_kept"),
            RelationalOps.round6(when(col("n_kept") === 0L, lit(0.0))
              .otherwise(col("n_true_kept").cast("double") /
                col("n_kept").cast("double"))).as("precision"),
            RelationalOps.round6(col("n_true_kept").cast("double") /
              col("n_pos").cast("double")).as("recall"))
      },
      Some(s"""WITH $lrTrainCtes,
              |scored AS (SELECT f.y, $LrPMicroSql AS p_micro FROM lrf f, w$LrRounds w),
              |th AS (SELECT CAST(unnest(generate_series(0, 10)) * 100000 AS BIGINT) AS threshold_micro)
              |SELECT threshold_micro,
              |  CAST(sum(CASE WHEN p_micro >= threshold_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  CAST(sum(CASE WHEN p_micro >= threshold_micro AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_kept,
              |  floor((CASE WHEN sum(CASE WHEN p_micro >= threshold_micro THEN 1 ELSE 0 END) = 0 THEN 0.0
              |        ELSE CAST(sum(CASE WHEN p_micro >= threshold_micro AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |             / CAST(sum(CASE WHEN p_micro >= threshold_micro THEN 1 ELSE 0 END) AS DOUBLE) END)
              |        * 1000000 + 0.5) / 1000000 AS precision,
              |  floor((CAST(sum(CASE WHEN p_micro >= threshold_micro AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |         / CAST(sum(y) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS recall
              |FROM scored, th GROUP BY threshold_micro""".stripMargin)),

    // The trained model itself — one row per coefficient, so weight drift
    // across engine versions is visible in the correctness gate, not just
    // end-score drift.
    Q("t_quality_lr_weights",
      (s, dir) => {
        val (_, m) = lrTrained(s, dir)
        import s.implicits._
        LrWeightNames.zip(m.weightsMicro.toSeq).toDF("feature", "w_micro")
      },
      Some(s"""WITH $lrTrainCtes
              |${lrWeightRowsSql("")}""".stripMargin)),

    // Per-language trained classifiers — ONE model per language, all
    // trained SIMULTANEOUSLY: each epoch is a single groupBy(lang)
    // partial-aggregable job, so k models cost the same shuffle as one
    // (the Spark-first answer to "quality feature weights differ by
    // language" — never k sequential training jobs). Driver state is
    // O(langs · d); the oracle unrolls all 16 epochs with a GROUP BY —
    // each language's trajectory is byte-identical to training that
    // language's slice alone (pinned by LogisticRegressionSpec).
    Q("t_quality_lr_by_lang",
      (s, dir) => {
        val (_, wmap) = lrTrainedByLang(s, dir)
        import s.implicits._
        wmap.toSeq.flatMap { case (g, ws) =>
          LrWeightNames.zip(ws.toSeq).map { case (nm, wv) => (g, nm, wv) }
        }.toDF("lang", "feature", "w_micro")
      },
      Some(s"""WITH $lrGroupedCtes
              |${lrWeightRowsSql("lang, ")}""".stripMargin)),

    // Per-doc scores from the per-language models — the scoreGrouped
    // path end-to-end: each doc's probability under ITS language's
    // trained weights (broadcast dimension join + the per-row sigmoid
    // map; the coverage contract proves no doc silently dropped).
    Q("t_quality_lr_by_lang_scored",
      (s, dir) => {
        val (f, wmap) = lrTrainedByLang(s, dir)
        graft.operators.LogisticRegression.scoreGrouped(f, "lang", wmap, LrFeatNames)
          .select(col("doc_id"), col("lang"), col("y"), col("p_micro"),
            col("keep"))
      },
      Some(s"""WITH $lrGroupedCtes
              |SELECT f.doc_id, f.lang, f.y, $LrPMicroSql AS p_micro, $LrPMicroSql >= 500000 AS keep
              |FROM lrf f JOIN w$LrRounds w ON f.lang = w.lang""".stripMargin)),

    // Calibration curve of the trained classifier — decile-binned
    // predicted probability vs empirical positive rate (reliability
    // diagram data): the companion readout to the PR sweep when the
    // SCORE, not just the keep decision, feeds downstream sampling
    // (temperature mixing, DSIR weighting consume calibrated scores).
    // One partial-aggregable shuffle over 10 bins; all sums exact
    // integers, ratios 6-dp on the shared grid.
    Q("t_quality_lr_calibration",
      (s, dir) => {
        import graft.operators.RelationalOps
        lrScored(s, dir)
          .select(least(floor(col("p_micro").cast("double") / 100000.0)
            .cast("long"), lit(9L)).as("bin"), col("p_micro"), col("y"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
            sum(col("p_micro")).as("__sp"))
          .select(col("bin"), col("n"), col("n_pos"),
            RelationalOps.round6(col("__sp").cast("double") /
              (col("n").cast("double") * 1000000.0)).as("mean_p"),
            RelationalOps.round6(col("n_pos").cast("double") /
              col("n").cast("double")).as("frac_pos"))
      },
      Some(s"""WITH $lrTrainCtes,
              |scored AS (
              |  SELECT f.y, $LrPMicroSql AS p_micro FROM lrf f, w$LrRounds w)
              |SELECT least(CAST(floor(CAST(p_micro AS DOUBLE) / 100000.0) AS BIGINT), 9) AS bin,
              |  CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(y) AS BIGINT) AS n_pos,
              |  floor((CAST(sum(p_micro) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0))
              |        * 1000000 + 0.5) / 1000000 AS mean_p,
              |  floor((CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE))
              |        * 1000000 + 0.5) / 1000000 AS frac_pos
              |FROM scored GROUP BY 1""".stripMargin)),

    // Inter-classifier agreement — confusion matrix + Cohen's kappa
    // between the FIXED rule (t_quality_classifier) and the TRAINED model
    // (t_quality_lr) at their operating thresholds: the label-QA readout a
    // curation org runs before swapping classifiers (chance-corrected
    // agreement, not raw accuracy). Per-doc keeps join on doc_id (both
    // sides one scan), then a single global aggregate; kappa's double
    // arithmetic follows one pinned expression shape on both engines.
    Q("t_label_agreement",
      (s, dir) => {
        import graft.operators.RelationalOps
        val rule = docs(s, dir)
          .select(col("doc_id"), col("text"), tokens(lower(col("text"))).as("ws"))
          .select(col("doc_id"),
            (qualityClassifierLogit(col("text"), col("ws")) >= 0).as("rule_keep"))
        val trained = lrScored(s, dir)
          .select(col("doc_id"), col("keep").as("lr_keep"))
        val conf = rule.join(trained, "doc_id")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("rule_keep") && col("lr_keep"), 1L).otherwise(0L)).as("n11"),
            sum(when(col("rule_keep") && !col("lr_keep"), 1L).otherwise(0L)).as("n10"),
            sum(when(!col("rule_keep") && col("lr_keep"), 1L).otherwise(0L)).as("n01"),
            sum(when(!col("rule_keep") && !col("lr_keep"), 1L).otherwise(0L)).as("n00"))
        val nD = col("n").cast("double")
        val po = (col("n11") + col("n00")).cast("double") / nD
        val pe = ((col("n11") + col("n10")).cast("double") *
            (col("n11") + col("n01")).cast("double") +
          (col("n01") + col("n00")).cast("double") *
            (col("n10") + col("n00")).cast("double")) / (nD * nD)
        conf.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          RelationalOps.round6(po).as("agreement"),
          RelationalOps.round6(when(pe === 1.0, lit(1.0))
            .otherwise((po - pe) / (lit(1.0) - pe))).as("kappa"))
      },
      Some(s"""WITH $lrTrainCtes,
              |rule AS (SELECT doc_id, logit >= 0 AS rule_keep FROM (
              |${qualityLogitSql("documents")})),
              |trained AS (SELECT f.doc_id, $LrPMicroSql >= 500000 AS lr_keep
              |            FROM lrf f, w$LrRounds w),
              |conf AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(CASE WHEN rule_keep AND lr_keep THEN 1 ELSE 0 END) AS BIGINT) AS n11,
              |    CAST(sum(CASE WHEN rule_keep AND NOT lr_keep THEN 1 ELSE 0 END) AS BIGINT) AS n10,
              |    CAST(sum(CASE WHEN NOT rule_keep AND lr_keep THEN 1 ELSE 0 END) AS BIGINT) AS n01,
              |    CAST(sum(CASE WHEN NOT rule_keep AND NOT lr_keep THEN 1 ELSE 0 END) AS BIGINT) AS n00
              |  FROM rule JOIN trained USING (doc_id))
              |SELECT n, n11, n10, n01, n00,
              |  floor((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS agreement,
              |  floor((CASE WHEN (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
              |                    + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
              |                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) = 1.0 THEN 1.0
              |          ELSE (CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
              |                - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
              |                   + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
              |                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              |               / (1.0 - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
              |                         + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
              |                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END)
              |        * 1000000 + 0.5) / 1000000 AS kappa
              |FROM conf""".stripMargin)),

    // Fuzzy record linkage — match noisy keys to a canonical side within
    // Levenshtein distance 1 WITHOUT the all-pairs cross join: the
    // segment-pigeonhole candidate scheme (PassJoin — any string within
    // edit distance k shares one of k+1 aligned segments exactly), then
    // one exact verify per candidate. The entity-resolution slot of a
    // curation pipeline (typo'd titles, OCR'd names, mangled source
    // metadata → canonical records). Canonical side = distinct 2-token
    // document titles; noisy side = each doc's title with ONE
    // deterministically hashed character deleted (the portable-derivation
    // trick: both engines derive identical noise, so the linkage is
    // fully oracle-checked — the ORACLE brute-forces the cross join, same
    // result through a plan that would not survive scale, which is the
    // point). FuzzyLinkSpec pins blocked == brute-force at k=1..3.
    Q("t_fuzzy_link",
      (s, dir) => {
        val t = docs(s, dir).select(col("doc_id"),
          array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 2), " ")
            .as("title"))
        val clean = t.groupBy("title").agg(min("doc_id").as("clean_id"))
        val dirty = t.filter(length(col("title")) > 0)
          .withColumn("p",
            pmod(portableHash60(concat(lit("fz:"), col("doc_id").cast("string"))),
              length(col("title")).cast("long")).cast("int"))
          .select(col("doc_id"),
            concat(expr("substring(title, 1, p)"),
              expr("substring(title, p + 2, length(title))")).as("dirty"))
        graft.operators.FuzzyLink
          .editJoin(dirty, "doc_id", "dirty", clean, "clean_id", "title", k = 1)
          .select(col("doc_id"), col("clean_id"), col("dist").cast("long").as("dist"))
      },
      Some(raw"""WITH t AS (
           |  SELECT doc_id, array_to_string(
           |    list_slice(string_split_regex(trim(lower(text)), '\s+'), 1, 2), ' ') AS title
           |  FROM documents),
           |clean AS (SELECT title, min(doc_id) AS clean_id FROM t GROUP BY 1),
           |dirty AS (
           |  SELECT doc_id, substring(title, 1, p) || substring(title, p + 2) AS dirty
           |  FROM (SELECT doc_id, title,
           |          CAST(CAST(('0x' || substring(md5('fz:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           |               % length(title) AS INT) AS p
           |        FROM t WHERE length(title) > 0))
           |SELECT d.doc_id, c.clean_id, CAST(levenshtein(d.dirty, c.title) AS BIGINT) AS dist
           |FROM dirty d, clean c
           |WHERE levenshtein(d.dirty, c.title) <= 1""".stripMargin)),

    // Corpus lineage checksum — the reproducibility manifest: per source,
    // an ORDER-INDEPENDENT content checksum (bit_xor of the portable
    // 60-bit doc hash) plus exact doc/char mass. Two corpora built by any
    // partitioning/ordering agree iff their manifests agree — the cheap
    // answer to "is this rebuilt shard byte-identical to the release?"
    // (data lineage / provenance, the governance family). One
    // partial-aggregable shuffle; xor is associative-commutative and
    // overflow-free, so the checksum is deterministic at any scale.
    Q("t_corpus_checksum",
      (s, dir) => docs(s, dir)
        .select(col("source"), col("n_chars"),
          portableHash60(concat(lit("ck:"), col("doc_id").cast("string"),
            lit(":"), col("text"))).as("__h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          expr("bit_xor(__h)").as("checksum")),
      Some("""SELECT source,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
             |  bit_xor(CAST(('0x' || substring(md5('ck:' || CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT)) AS checksum
             |FROM documents GROUP BY source""".stripMargin)),

    // The published heuristic quality-rule battery (the Gopher/MassiveText
    // rule set, Rae et al. 2021 — word-count bounds, mean-word-length
    // bounds, alphabetic-word floor, stopword floor, symbol-to-word
    // ratio, repeated-2-gram fractions): the standard pre-classifier
    // filter every LLM corpus pipeline runs first. Every stat is a
    // per-row array expression over ONE staged token/shingle bind — zero
    // shuffle, zero UDF, so the battery runs at scan speed on 100 TB and
    // thresholds swap without touching the plan. The repetition stats are
    // occurrence fractions over word 2-grams (the char-fraction variants
    // in the paper need overlap bookkeeping that buys nothing here);
    // keep = AND over the ROUNDED emitted columns, so the decision is
    // byte-identical across engines by construction.
    Q("t_gopher_rules",
      (s, dir) => gopherRules(s, dir),
      Some(GopherRulesSql)),

    // Rule-kill attribution over the Gopher battery — how many docs each
    // FAILED-rule combination rejects (the rule-tuning readout: which
    // gates do the killing, which are dead weight, which only fire
    // together). Signature = fixed-order concat of failed rule names;
    // one partial-aggregable shuffle over at most 2^7 signatures.
    Q("t_gopher_attribution",
      (s, dir) => {
        val g = gopherRules(s, dir)
        val sig = concat_ws(",",
          when(!(col("n_words") >= 50 && col("n_words") <= 100000),
            lit("words")),
          when(!(col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0),
            lit("word_len")),
          when(!(col("alpha_ratio") >= 0.8), lit("alpha")),
          when(!(col("stop_hits") >= 2), lit("stopwords")),
          when(!(col("symbol_ratio") <= 0.1), lit("symbols")),
          when(!(col("top2_frac") <= 0.2), lit("top2")),
          when(!(col("dup2_frac") <= 0.2), lit("dup2")))
        g.select(when(col("keep"), lit("")).otherwise(sig).as("failed_rules"))
          .groupBy("failed_rules")
          .agg(count(lit(1)).as("n_docs"))
      },
      Some {
        val inner = GopherRulesSql
        s"""WITH g AS ($inner)
           |SELECT CASE WHEN keep THEN '' ELSE concat_ws(',',
           |    CASE WHEN NOT (n_words >= 50 AND n_words <= 100000) THEN 'words' END,
           |    CASE WHEN NOT (mean_word_len >= 3.0 AND mean_word_len <= 10.0) THEN 'word_len' END,
           |    CASE WHEN NOT (alpha_ratio >= 0.8) THEN 'alpha' END,
           |    CASE WHEN NOT (stop_hits >= 2) THEN 'stopwords' END,
           |    CASE WHEN NOT (symbol_ratio <= 0.1) THEN 'symbols' END,
           |    CASE WHEN NOT (top2_frac <= 0.2) THEN 'top2' END,
           |    CASE WHEN NOT (dup2_frac <= 0.2) THEN 'dup2' END) END AS failed_rules,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM g GROUP BY 1""".stripMargin
      }),

    // Multi-pattern blocklist scan — which blocklist terms occur as
    // substrings of each doc (PII-term scanning, contamination probes,
    // policy blocklists). The naive shape is |patterns| contains-probes
    // per row (a regex alternation backtracks into the same cost); the
    // engine path compiles the pattern set ONCE into an Aho–Corasick
    // goto/fail automaton (expressions.MultiPatternHits) and walks each
    // row in a single O(|text| + hits) pass — pattern-count-independent,
    // the broadcast-dimension discipline applied to a string automaton.
    // Blocklist = hash-selected 2-gram phrases from the first 50 docs
    // (deterministic, both engines derive the identical sorted list);
    // the oracle replays the brute-force contains join — same result,
    // the plan that would NOT survive a million-term blocklist.
    Q("t_blocklist_hits",
      (s, dir) => {
        val d = docs(s, dir)
        val pats = d.filter(col("doc_id") < 50)
          .select(explode(shingles(lower(col("text")), 2)).as("g"))
          .filter(pmod(portableHash60(concat(lit("bl:"), col("g"))),
            lit(23L)) === 0L)
          .distinct().orderBy("g")
          .collect().map(_.getString(0)).toSeq
        d.select(col("doc_id"),
            explode(MultiPatternHits(lower(col("text")), pats))
              .as("pattern_id"))
          .select(col("doc_id"), col("pattern_id").cast("long").as("pattern_id"))
      },
      Some(raw"""WITH pats AS (
           |  SELECT g, CAST(row_number() OVER (ORDER BY g) - 1 AS BIGINT) AS pattern_id
           |  FROM (SELECT DISTINCT g FROM (
           |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
           |      i -> ws[i] || ' ' || ws[i+1])) AS g
           |    FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS ws
           |          FROM documents WHERE doc_id < 50))
           |    WHERE CAST(('0x' || substring(md5('bl:' || g), 1, 15)) AS BIGINT) % 23 = 0))
           |SELECT d.doc_id, p.pattern_id
           |FROM documents d JOIN pats p ON position(p.g IN lower(d.text)) > 0""".stripMargin)),

    // Content fingerprint (md5 of normalized text).
    Q("t_fingerprint",
      (s, dir) => docs(s, dir).select(col("doc_id"), fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |FROM documents""".stripMargin),
      headline = true),

    // Exact dedup: fingerprint groups with survivor id + multiplicity.
    Q("t_exact_dedup",
      (s, dir) => TextDedup.exactDuplicateGroups(docs(s, dir), "doc_id", "text"),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
             |  min(doc_id) AS keep_doc_id, count(*) AS n_dups
             |FROM documents GROUP BY 1""".stripMargin)),

    // Shingling: distinct word-3-gram count per doc.
    Q("t_shingle_stats",
      (s, dir) => docs(s, dir).select(
        col("doc_id"), distinctShingleCount(col("text"), 3).as("n_shingles")),
      Some(s"""SELECT doc_id, CAST(len(list_distinct($Shingles3)) AS BIGINT) AS n_shingles
              |FROM (SELECT doc_id, $WS AS ws FROM documents)""".stripMargin)),

    // Per-doc n-gram NOVELTY: the fraction of a doc's distinct 3-grams
    // seen nowhere else in the corpus — the memorization-risk /
    // duplication profile (a doc of novel_frac 0 is assembled entirely
    // from corpus-repeated n-grams; near 1 it is fresh text). Grams are
    // HASHED before the df shuffle (portable md5 family), so only
    // (doc_id, long) pairs cross the exchanges — the gram text never
    // shuffles, the same discipline as the dedup candidate joins; hash
    // collisions merge df counts and are part of the portable definition
    // the oracle mirrors.
    Q("t_novelty",
      (s, dir) => {
        val sh = docs(s, dir).select(col("doc_id"),
          explode(array_distinct(transform(shingles(col("text"), 3),
            g => portableHash60(g)))).as("gh"))
        val gdf = sh.groupBy(col("gh")).agg(count(lit(1)).as("df"))
        val per = sh.join(gdf, "gh")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            count(when(col("df") === 1, 1)).as("novel"))
        docs(s, dir).select(col("doc_id")).join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
              .otherwise(graft.operators.RelationalOps.round6(
                col("novel").cast("double") / col("n_grams").cast("double")))
              .as("novel_frac"))
      },
      Some(s"""WITH nsh AS (
              |  SELECT doc_id,
              |    unnest(list_distinct(list_transform(list_distinct($Shingles3),
              |      g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS gh
              |  FROM (SELECT doc_id, $WS AS ws FROM documents)),
              |ndf AS (SELECT gh, count(*) AS df FROM nsh GROUP BY gh),
              |np AS (
              |  SELECT doc_id, count(*) AS n_grams,
              |    count(CASE WHEN df = 1 THEN 1 END) AS novel
              |  FROM nsh JOIN ndf USING (gh) GROUP BY doc_id)
              |SELECT d.doc_id,
              |  coalesce(np.n_grams, 0) AS n_grams,
              |  CASE WHEN coalesce(np.n_grams, 0) = 0 THEN 0.0
              |       ELSE floor((CAST(novel AS DOUBLE) / n_grams) * 1000000 + 0.5) / 1000000 END AS novel_frac
              |FROM documents d LEFT JOIN np USING (doc_id)""".stripMargin)),

    // BPE vocabulary induction (tokenizer training): the first 6 learned
    // merges over the corpus word-frequency table, FULL-oracle-checked
    // with the iteration unrolled one CTE block per round (the
    // SourceRankCtes discipline) — unusual for an iterative operator, and
    // possible because every step is integer counts + binary-order string
    // tie-breaks. The corpus is scanned exactly once (word counts); all 6
    // rounds iterate on the vocab frame with localCheckpoint lineage
    // truncation and a 1-row argmax collect per round. Eager at build
    // time (the trigram-LM lazy-contract trade, documented on the
    // operator). BpeVocabSpec pins the greedy merge fold against a plain
    // Scala reference, including the overlapping-run "aaaa" cases the
    // window-function oracle must also get right.
    Q("t_bpe_merges",
      (s, dir) => graft.operators.BpeVocab.merges(s, docs(s, dir), "text", BpeK),
      Some(s"""WITH $BpeCtes
              |SELECT CAST(rnk AS BIGINT) AS rnk, lhs, rhs, CAST(cnt AS BIGINT) AS cnt
              |FROM (${(1 to BpeK).map(n =>
                 s"SELECT $n AS rnk, l AS lhs, r AS rhs, cnt FROM bpr$n")
                 .mkString("\n      UNION ALL ")})""".stripMargin)),

    // BPE inference — corpus token counts under the learned merge list
    // (the tokenizer-application pass that prices a corpus in REAL tokens,
    // not the bpeish regex proxy). Training and encoding agree by the
    // defining BPE property: applying the merges in rank order to the
    // initial char symbols reproduces the training rewrite, so the oracle
    // simply reads the unrolled chain's FINAL vocab state (bw6) — no new
    // SQL machinery. Spark side: merges are a bounded k-row driver
    // collect bound into the native BpeEncode kernel; the k greedy passes
    // run per DISTINCT word (vocab-sized, never corpus-sized) and
    // occurrence weights ride the integer freq. Eager at build (the
    // merges() trade documented on the operator).
    Q("t_bpe_encode",
      (s, dir) => {
        val m = graft.operators.BpeVocab.merges(s, docs(s, dir), "text", BpeK)
          .orderBy(col("rnk")).select(col("lhs"), col("rhs"))
          .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
        graft.operators.BpeVocab.encodeTokens(docs(s, dir), "text", m)
      },
      Some(s"""WITH $BpeCtes
              |SELECT s AS token, CAST(sum(freq) AS BIGINT) AS cnt
              |FROM (SELECT freq, unnest(syms) AS s FROM bw$BpeK)
              |GROUP BY s""".stripMargin)),

    // Cluster keyword extraction (c-TF-IDF, the BERTopic labeling shape):
    // each multi-doc near-dup cluster gets its top-3 characteristic terms
    // by cluster-level tf × smooth inverse-CLUSTER-frequency — "what is
    // this duplicate family about", the triage view over the dedup
    // graph. Ranking compares 6-dp-ROUNDED scores (the best-of-cluster
    // precedent: a raw-double order would hang the winner on a final
    // bit); tf/cdf/nc are integers and the score is a scalar function of
    // them, so both engines compute the identical double before the
    // shared grid rounds it.
    Q("t_cluster_keywords",
      (s, dir) => {
        val cd = clusteredDocs(s, dir)
        val multi = cd.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .where(col("sz") >= 2).select(col("cluster_id"))
        val toks = cd.join(multi, "cluster_id")
          .join(docs(s, dir).select(col("doc_id"), col("text")), "doc_id")
          .select(col("cluster_id"), explode(tokens(lower(col("text")))).as("term"))
        val tf = toks.groupBy(col("cluster_id"), col("term")).agg(count(lit(1)).as("tf"))
        val cdf = toks.select(col("cluster_id"), col("term")).distinct()
          .groupBy(col("term")).agg(count(lit(1)).as("cdf"))
        val nc = multi.agg(count(lit(1)).as("nc"))
        val scored = tf.join(cdf, "term").crossJoin(broadcast(nc))
          .withColumn("score", graft.operators.RelationalOps.round6(
            col("tf").cast("double") *
              (log((col("nc").cast("double") + 1.0) / (col("cdf").cast("double") + 1.0)) + 1.0)))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("score").desc, col("term").asc)
        scored.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("cluster_id"), col("rnk"), col("term"),
            col("tf"), col("cdf"), col("score"))
      },
      Some(s"""WITH RECURSIVE $ClusterCtes,
              |csz AS (SELECT cluster_id FROM clustered GROUP BY cluster_id HAVING count(*) >= 2),
              |ctok AS (
              |  SELECT c.cluster_id, unnest($WSL) AS term
              |  FROM clustered c JOIN csz USING (cluster_id)
              |  JOIN documents d ON c.doc_id = d.doc_id),
              |ctf AS (SELECT cluster_id, term, count(*) AS tf FROM ctok GROUP BY 1, 2),
              |ccdf AS (SELECT term, count(*) AS cdf
              |         FROM (SELECT DISTINCT cluster_id, term FROM ctok) GROUP BY term),
              |cnc AS (SELECT count(*) AS nc FROM csz),
              |csc AS (
              |  SELECT cluster_id, term, tf, cdf,
              |    floor((CAST(tf AS DOUBLE) *
              |      (ln((CAST(nc AS DOUBLE) + 1.0) / (CAST(cdf AS DOUBLE) + 1.0)) + 1.0))
              |      * 1000000 + 0.5) / 1000000 AS score
              |  FROM ctf JOIN ccdf USING (term) CROSS JOIN cnc)
              |SELECT cluster_id, CAST(rnk AS BIGINT) AS rnk, term, tf, cdf, score FROM (
              |  SELECT cluster_id, term, tf, cdf, score,
              |    row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, term) AS rnk
              |  FROM csc)
              |WHERE rnk <= 3""".stripMargin)),

    // Exact n-gram Jaccard near-dup pairs via shared-shingle join, with a
    // document-frequency cap: a shingle in > maxDf docs is boilerplate and
    // contributes O(df²) join rows (quadratic blowup on real corpora), so
    // the jaccard universe excludes it — the same skew guard as
    // TextDedup.candidatePairs' maxBucket. The hot set is tiny by
    // construction (few shingles exceed the cap) → broadcast anti-join, no
    // extra shuffle of the shingle rows. The oracle mirrors the cap.
    Q("t_jaccard_pairs",
      (s, dir) => jaccardPairs(s, dir),
      Some(s"WITH $PairCtes\nSELECT a_id, b_id, inter, jaccard FROM jp")),

    // CONTAINMENT near-dup pairs (Broder's other coefficient): |A∩B| over
    // each doc's OWN shingle count, not the union. Jaccard misses the
    // subset case — a paragraph quoted whole inside a 100× longer doc
    // scores j ≈ 0.01 but containment 1.0 — and that asymmetric shape
    // (quote mining, boilerplate wrappers, truncated re-crawls) is the
    // duplication a pair-symmetric measure cannot see. Same df-capped
    // universe and intersection counts as t_jaccard_pairs (one shared
    // front half, shinglePairCounts), so the marginal cost over the
    // jaccard mine is two broadcast-sized joins; a pair is emitted when
    // EITHER side is ≥ 90% contained in the other.
    Q("t_containment_pairs",
      (s, dir) => shinglePairCounts(s, dir)
          .withColumn("cont_a", graft.operators.RelationalOps.round6(
            col("inter").cast("double") / col("na").cast("double")))
          .withColumn("cont_b", graft.operators.RelationalOps.round6(
            col("inter").cast("double") / col("nb").cast("double")))
          .filter(greatest(col("cont_a"), col("cont_b")) >= 0.9)
          .select(col("a_id"), col("b_id"), col("inter"), col("cont_a"), col("cont_b")),
      Some(s"""WITH $ShingleUniverseCtes
              |SELECT a_id, b_id, inter, cont_a, cont_b FROM (
              |  SELECT a_id, b_id, inter,
              |    floor((CAST(inter AS DOUBLE) / CAST(ca.n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS cont_a,
              |    floor((CAST(inter AS DOUBLE) / CAST(cb.n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS cont_b
              |  FROM pairs0 JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id)
              |WHERE greatest(cont_a, cont_b) >= 0.9""".stripMargin)),

    // Query-time TEXT similarity search — "find the documents most like
    // this one" (near-dup triage, attribution, retrieval-ish grouping):
    // per query doc, the top-3 corpus docs by exact 3-shingle jaccard, NO
    // threshold (unlike the pair-mining entries, a knn always answers).
    // Same df-capped shingle universe as t_jaccard_pairs (the shared skew
    // guard — a stop-shingle joins nothing), candidates from the shingle
    // equi-join with intersection counts partial-aggregated per (query,
    // cand), and the per-query top-3 via the TopKByScore bounded-heap
    // AGGREGATE — the exchange carries O(queries·k), never the candidate
    // set (the window form would shuffle and sort every candidate row).
    // At 100 TB the query side is a handful of docs: the heavy side
    // shuffles once on the shingle key and AQE sizes the rest.
    // Registry slice of the public graft.retrieval.TextSearch.knn API
    // (r9: the operator was extracted from this entry): the pinned
    // `doc_id < 10` query set keeps the oracle deterministic; arbitrary
    // query frames ride the API (TextSearchSpec). The builder is eager at
    // one point — the API's guarded-broadcast probe (bounded
    // limit(cap+1).count(), the contaminationCounts discipline).
    Q("t_text_knn",
      (s, dir) => {
        val d = docs(s, dir)
        graft.retrieval.TextSearch.knn(
          d.filter(col("doc_id") < 10)
            .select(col("doc_id").as("query_id"), col("text")),
          d, k = 3, excludeSelf = true)
      },
      Some(s"""WITH $CappedShingleCtes,
              |inter AS (
              |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id, count(*) AS inter
              |  FROM shc q JOIN shc c USING (s)
              |  WHERE q.doc_id < 10 AND q.doc_id <> c.doc_id
              |  GROUP BY 1, 2),
              |r AS (
              |  SELECT i.query_id, i.cand_id,
              |    floor((CAST(i.inter AS DOUBLE) /
              |           CAST(nq.n + nc.n - i.inter AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS jaccard
              |  FROM inter i
              |  JOIN cnt nq ON nq.doc_id = i.query_id
              |  JOIN cnt nc ON nc.doc_id = i.cand_id)
              |SELECT query_id, cand_id, jaccard, rnk FROM (
              |  SELECT query_id, cand_id, jaccard,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY jaccard DESC, cand_id) AS rnk
              |  FROM r)
              |WHERE rnk <= 3""".stripMargin)),

    // Duplicate CLUSTERS: connected components over the exact-jaccard
    // near-dup pairs — every doc labeled with the min doc_id reachable
    // through the near-dup graph (singletons label themselves). This is the
    // cluster-then-keep-one shape a curation pipeline needs when dup
    // relations chain (A~B~C with A!~C): survivors = one per cluster, not
    // the over-deleting greedy pair drop. The oracle computes the same
    // fixpoint with a recursive reachability CTE.
    Q("t_dup_clusters",
      (s, dir) => clusteredDocs(s, dir),
      Some(s"WITH RECURSIVE $ClusterCtes\nSELECT doc_id, cluster_id FROM clustered")),

    // Incrementally-maintained cluster labels (see
    // graft.dedup.IncrementalClusters): the SAME oracle SQL as
    // t_dup_clusters, replayed over a ledger built in two appends — the
    // even doc ids with their internal match edges first, then the odd
    // ids with every remaining edge (cross-parity merges exercise the
    // remap chains). A byte match IS the proof that delta label
    // maintenance (append-only labels + monotone merge history) equals
    // the one-shot global fixpoint — the t_tfidf_indexed incremental ≡
    // full discipline applied to clustering. The edge list is
    // localCheckpointed once: both batch slices cut from one run of the
    // candidate join, which must not execute twice.
    Q("t_dup_clusters_incremental",
      (s, dir) => {
        val work = Q.workDir(s, "incc", dir)
        val pairs = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
          .localCheckpoint(true)
        val ids = docs(s, dir).select(col("doc_id"))
        val bothEven = pmod(col("a_id"), lit(2)) === 0 && pmod(col("b_id"), lit(2)) === 0
        graft.dedup.IncrementalClusters.addBatch(s, work,
          ids.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id",
          pairs.where(bothEven), "a_id", "b_id")
        graft.dedup.IncrementalClusters.addBatch(s, work,
          ids.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id",
          pairs.where(!bothEven), "a_id", "b_id")
        graft.dedup.IncrementalClusters.labels(s, work)
          .select(col("id").as("doc_id"), col("cluster_id"))
      },
      Some(s"WITH RECURSIVE $ClusterCtes\nSELECT doc_id, cluster_id FROM clustered")),

    // Source syndication PageRank: sources become graph nodes, an edge's
    // weight counts the near-dup clusters the two sources co-occupy (the
    // syndication/boilerplate-copying relation), and
    // graft.operators.PageRank power-iterates in exact 1e-9 fixed-point
    // integer arithmetic — so ten iterations of a genuinely ITERATIVE
    // operator still byte-match the oracle's unrolled CTE chain. Clusters
    // with > 64 distinct sources are dropped whole before pairing (the
    // maxBucket discipline: a mega-cluster is boilerplate, and its
    // quadratic source-pair fan-out would dominate the edge list). Edge
    // building is three id-only aggregates; the iteration engine's scale
    // shape is documented on PageRank itself.
    Q("t_source_pagerank",
      (s, dir) => {
        val cs = clusteredDocs(s, dir)
          .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
          .select(col("cluster_id"), col("source")).distinct()
          .localCheckpoint(true) // feeds the cap census AND both pair sides
        val ok = cs.groupBy(col("cluster_id")).agg(count(lit(1)).as("ns"))
          .where(col("ns") <= 64).select(col("cluster_id"))
        val capped = cs.join(ok, "cluster_id")
        val eg = capped.as("a").join(capped.as("b"), "cluster_id")
          .where(col("a.source") =!= col("b.source"))
          .groupBy(col("a.source").as("src"), col("b.source").as("dst"))
          .agg(count(lit(1)).as("w"))
        graft.operators.PageRank.ranks(
            docs(s, dir).select(col("source")), "source",
            eg, "src", "dst", "w", PageRankIters)
          .select(col("node").as("source"), col("rank_e9"))
      },
      Some(s"WITH RECURSIVE $SourceRankCtes\nSELECT source, rank_e9 FROM pr$PageRankIters")),

    // MinHash-LSH near-dup pairs, FULL-ORACLE via the portable hash family
    // (md5-prefix shingle hashes + mod-(2^31−1) affine permutations): the
    // entire sketch pipeline — signature, banding, bucket cap, candidate
    // join, exact-jaccard verify — is replayed by the DuckDB CTEs and must
    // match byte-for-byte. The production xxhash64 family runs the same
    // code path (portable is a hash-family parameter, not a fork) and is
    // pinned by NoOracleEquivalenceSpec precision/recall assertions.
    Q("t_minhash_pairs",
      (s, dir) => TextDedup.nearDuplicatePairs(docs(s, dir), "doc_id", "text",
        TextDedup.MinHashConfig(jaccardThreshold = 0.4, portable = true)),
      Some(s"WITH $MinhashCtes\nSELECT a_id, b_id, inter, jaccard FROM mjp")),

    // MinHash near-dup SURVIVOR SET — the operator a curation pipeline
    // actually runs: ONE survivor (the min id) per connected component of
    // the near-dup graph (ConnectedComponents over the LSH-verified pairs).
    // Full-oracle via the portable family: the oracle recomputes the pairs
    // (CTEs above) and the component fixpoint (recursive reachability, the
    // t_dup_clusters pattern), then keeps docs that label themselves.
    Q("t_minhash_dedup",
      (s, dir) => TextDedup.minHashDedup(docs(s, dir), "doc_id", "text",
          TextDedup.MinHashConfig(jaccardThreshold = 0.4, portable = true))
        .select(col("doc_id"), col("source"), col("lang")),
      Some(s"""WITH RECURSIVE $MinhashCtes,
              |medges AS (
              |  SELECT a_id AS u, b_id AS v FROM mjp
              |  UNION SELECT b_id, a_id FROM mjp),
              |mreach(u, v) AS (
              |  SELECT u, v FROM medges
              |  UNION
              |  SELECT r.u, e.v FROM mreach r JOIN medges e ON r.v = e.u),
              |mclustered AS (
              |  SELECT d.doc_id,
              |    least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
              |  FROM documents d LEFT JOIN mreach r ON d.doc_id = r.u
              |  GROUP BY d.doc_id)
              |SELECT d.doc_id, d.source, d.lang
              |FROM documents d JOIN mclustered c ON d.doc_id = c.doc_id
              |WHERE c.cluster_id = c.doc_id""".stripMargin)),

    // The composed END-TO-END curation run (quality gate → lang gate →
    // exact dedup → MinHash near-dup dedup → split), emitting the
    // per-document audit trail: first failing gate, split for keepers.
    // Each stage is an existing oracle-checked operator at its registry
    // parameters; the entry checks the COMPOSITION — gate ordering,
    // dedup-on-the-filtered-subset rooting, and the id-only assembly —
    // byte-for-byte. The oracle reuses the same shared SQL fragments the
    // standalone entries compile from (qualityLogitSql/langGuessSql/
    // minhashCtes parameterized by source relation), so the pipeline and
    // its stages cannot drift apart.
    Q("t_curation_pipeline",
      (s, dir) => graft.operators.CurationPipeline.audit(docs(s, dir), "doc_id", "text"),
      Some {
        s"""WITH RECURSIVE
           |cpq AS (${qualityLogitSql("documents")}),
           |cpl AS (${langGuessSql("documents")}),
           |cps1 AS (
           |  SELECT d.doc_id, d.text
           |  FROM documents d JOIN cpq USING (doc_id) JOIN cpl USING (doc_id)
           |  WHERE cpq.logit >= 0 AND cpl.lang_guess = 'en'),
           |cpfp AS (
           |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
           |  FROM cps1),
           |cpek AS (
           |  SELECT f.doc_id, f.doc_id = m.keep_id AS e_keep
           |  FROM cpfp f JOIN (SELECT fp, min(doc_id) AS keep_id FROM cpfp GROUP BY fp) m USING (fp)),
           |cps2 AS (
           |  SELECT s.doc_id, s.text FROM cps1 s JOIN cpek k USING (doc_id) WHERE k.e_keep),
           |${minhashCtes("cps2")},
           |cpedges AS (SELECT a_id AS u, b_id AS v FROM mjp UNION SELECT b_id, a_id FROM mjp),
           |cpreach(u, v) AS (
           |  SELECT u, v FROM cpedges
           |  UNION
           |  SELECT r.u, e.v FROM cpreach r JOIN cpedges e ON r.v = e.u),
           |cpclust AS (
           |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
           |  FROM cps2 d LEFT JOIN cpreach r ON d.doc_id = r.u
           |  GROUP BY d.doc_id),
           |cpkept AS (SELECT doc_id FROM cpclust WHERE cluster_id = doc_id)
           |SELECT doc_id, verdict,
           |  CASE WHEN verdict = 'kept' THEN
           |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
           |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
           |         ELSE 'test' END
           |  END AS split
           |FROM (
           |  SELECT b.doc_id,
           |    CASE WHEN q.logit < 0 THEN 'quality'
           |         WHEN l.lang_guess <> 'en' THEN 'lang'
           |         WHEN NOT k.e_keep THEN 'exact_dup'
           |         WHEN n.doc_id IS NULL THEN 'near_dup'
           |         ELSE 'kept' END AS verdict
           |  FROM documents b
           |  JOIN cpq q USING (doc_id)
           |  JOIN cpl l USING (doc_id)
           |  LEFT JOIN cpek k USING (doc_id)
           |  LEFT JOIN cpkept n USING (doc_id))""".stripMargin
      }),

    // Winnowed rolling-hash fingerprints, FULL-ORACLE against the NATIVE
    // hash family: the polynomial mod-2^64 char-gram hash and the
    // rightmost-min window selection are deterministic, so DuckDB replays
    // them exactly (HUGEINT-emulated wrapping arithmetic). Exploded to one
    // row per (doc, fingerprint) so the check covers the VALUES, not just
    // set sizes.
    Q("t_winnow",
      (s, dir) => TextDedup.winnowFingerprints(docsSpread(s, dir), "doc_id", "text")
        .select(col("doc_id"), explode(col("fps")).as("fp")),
      Some(s"WITH $WinnowCtes\nSELECT doc_id, fp FROM wf")),

    // Winnow shared-passage candidate pairs — full-oracle: fingerprint sets
    // from the CTEs above, pair-counted through the same join-aggregate.
    Q("t_winnow_pairs",
      (s, dir) => TextDedup.winnowOverlapPairs(docsSpread(s, dir), "doc_id", "text",
        minShared = 3),
      Some(s"""WITH $WinnowCtes
              |SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS shared
              |FROM wf x JOIN wf y ON x.fp = y.fp AND x.doc_id < y.doc_id
              |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    // SimHash fingerprints — the PRODUCTION 64-bit xxhash64 family, and the
    // headline bench entry: the operating number must track the kernel users
    // run, not the oracle surrogate (r5 benched the portable family under
    // this name and permanently biased the round-over-round series — VERDICT
    // r5 #3). Rows-only (xxhash64 is not reproducible in DuckDB); the exact
    // fingerprints are pinned by NoOracleEquivalenceSpec's independent
    // sign-vector fold, and the full DuckDB oracle rides the portable-family
    // twin below, which runs the IDENTICAL kernel (the family is a
    // parameter, not a fork — PortableFamilySpec anchors the plumbing).
    Q("t_simhash",
      (s, dir) => TextDedup.simHashes(docs(s, dir), "doc_id", "text"),
      None,
      headline = true),

    // SimHash under the portable 60-bit md5-prefix token-hash family,
    // FULL-ORACLE (the Charikar fold downstream of the token hash is
    // deterministic, so DuckDB recomputes the exact fingerprints). Oracle-
    // only entry — not headline, so bench totals track production t_simhash.
    // Null text is filtered SYMMETRICALLY: the Spark fold null-propagates to
    // a (doc_id, NULL) row while the oracle's unnest of a NULL token list
    // drops the row — a latent mismatch on any corpus with null text
    // (ADVICE r5).
    Q("t_simhash_portable",
      (s, dir) => TextDedup.simHashes(
        docs(s, dir).filter(col("text").isNotNull), "doc_id", "text", portable = true),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
             |  FROM documents WHERE text IS NOT NULL),
             |th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
             |bits AS (
             |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
             |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j)
             |  GROUP BY doc_id, j)
             |SELECT doc_id,
             |  CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
             |FROM bits GROUP BY doc_id""".stripMargin)),

    // BPE-ish subword token estimate. The pattern is an explicit-ASCII
    // alternation (no lookaround, no \w) so Java regex and RE2 agree
    // byte-for-byte — which upgrades this from rows-only to a full oracle.
    Q("t_token_bpeish",
      (s, dir) => docs(s, dir).select(
        col("doc_id"), tokenCountBpeIsh(col("text")).as("n_subword_tokens")),
      Some(s"""SELECT doc_id,
              |  CAST(len(regexp_extract_all(text, '$bpeIshPattern')) AS BIGINT) AS n_subword_tokens
              |FROM documents""".stripMargin)),

    // Sketch aggregates: approximate distinct counts (HLL++) per source —
    // rows-only (sketch values are engine-specific by construction).
    Q("t_approx_distinct",
      (s, dir) => docs(s, dir).groupBy(col("source"))
        .agg(approx_count_distinct(col("text"), 0.02).as("approx_docs"),
          count(lit(1)).as("exact_rows")),
      None),

    // PORTABLE-oracle twin of t_approx_distinct (VERDICT r11 #8 — the last
    // rows-only entry gains its own twin): the same query shape (per-source
    // distinct-DOCUMENT estimate next to the exact row count) with Spark's
    // HLL sketch replaced by the deterministic md5-prefix KMV estimator —
    // k-th minimum value over the distinct text-hash set, k = 64, the
    // t_kmv_distinct machinery pointed at whole documents instead of
    // grams. Every stage is SQL-replayable, so the sketch-accuracy
    // adjudication is self-contained. The rank window runs over the
    // per-source DISTINCT-HASH set — corpus-sized at the extreme; this
    // twin exists to adjudicate the sketch, and the production entry's
    // partial-aggregating HLL stays the 100 TB path.
    Q("t_approx_distinct_portable",
      (s, dir) => {
        val d = docs(s, dir).filter(col("text").isNotNull)
        val h = d.select(col("source"),
          portableHash60(concat(lit("acd:"), col("text"))).as("hv")).distinct()
        val kth = kmvKth(h)
        val ex = d.groupBy(col("source")).agg(count(lit(1)).as("exact_rows"))
        kth.join(ex, "source").select(col("source"),
          kmvEstimate.as("approx_docs"),
          col("exact_rows"))
      },
      Some(s"""WITH d AS (SELECT source, text FROM documents WHERE text IS NOT NULL),
             |h AS (SELECT DISTINCT source,
             |        ('0x' || substr(md5('acd:' || text), 1, 15))::BIGINT AS hv FROM d),
             |$KmvKthCtes,
             |ex AS (SELECT source, count(*) AS exact_rows FROM d GROUP BY 1)
             |SELECT source,
             |  $KmvEstimateSql AS approx_docs,
             |  exact_rows
             |FROM kth JOIN ex USING (source)""".stripMargin)),

    // Deterministic train/val/test split: the assignment is a pure function
    // of the id's md5 (engine-portable hex), so re-running the pipeline —
    // on any engine, any partitioning — reproduces the same split. Hex
    // thresholds 'cccc' / 'e666' ≈ 80 / 10 / 10.
    Q("t_split",
      (s, dir) => docs(s, dir).select(col("doc_id"), splitOf("doc_id")),
      Some(s"""SELECT doc_id,
              |  ${splitSql("doc_id")}
              |FROM documents""".stripMargin)),

    // Repetition signal (quality filtering): frequency of the most repeated
    // token over the token count — boilerplate/spam detector. Array-native
    // per row (quadratic in DISTINCT tokens per doc, zero shuffle).
    Q("t_repetition",
      (s, dir) => {
        // Staged: bind the token array, then the top-frequency, as column
        // attributes — the per-distinct-token filter then reads an array
        // attribute instead of re-running the tokenizer (interpreted HOF
        // lambdas re-evaluate outer-referenced subtrees per element), and
        // the two consumers of `top` don't run the quadratic scan twice.
        val ws = col("__ws")
        val top = array_max(transform(array_distinct(ws),
          w => size(filter(ws, x => x === w))))
        docs(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("__ws"))
          .select(col("doc_id"), col("__ws"), top.as("__top"))
          .select(col("doc_id"),
            col("__top").cast("long").as("top_freq"),
            graft.operators.RelationalOps.round6(col("__top").cast("double") /
              size(col("__ws")).cast("double")).as("rep_ratio"))
      },
      Some(s"""SELECT doc_id, CAST(tf AS BIGINT) AS top_freq,
              |  floor((CAST(tf AS DOUBLE) / CAST(len(ws) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS rep_ratio
              |FROM (SELECT doc_id, ws,
              |        list_max(list_transform(list_distinct(ws), w -> len(list_filter(ws, x -> x = w)))) AS tf
              |      FROM (SELECT doc_id, $WS AS ws FROM documents))""".stripMargin)),

    // Multimodal blob stats: byte length + first code point of the payload.
    Q("m_blob_stats",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        ascii(col("text")).cast("long").as("first_byte")),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  CAST(ascii(text) AS BIGINT) AS first_byte FROM documents""".stripMargin)),

    // Multimodal decode pipeline: plant one PNG per doc, decode REAL pixels
    // (javax.imageio) executor-side, emit width/height/mean-luma. Rows-only
    // for the driver (DuckDB cannot decode PNG); the kernel is verified by a
    // driver-side independent pixel-math oracle in NoOracleEquivalenceSpec.
    Q("m_decode_features",
      (s, dir) => graft.multimodal.Multimodal.featureTable(s, docs(s, dir)),
      None),

    // Frame sampling, oracle-checked: the even-offset recipe of
    // Multimodal.sampleOffsets applied to the text payload — 4 sampled
    // positions per doc, the code point at each. The explode/positional
    // plumbing is exactly what a video frame-sample stage does; here the
    // "decode" (one code point) is engine-portable so DuckDB can verify it.
    Q("m_frame_sample",
      (s, dir) => docs(s, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"))
        .select(col("doc_id"),
          posexplode(expr("transform(sequence(0, 3), i -> (i * len) div 4)"))
            .as(Seq("frame_idx", "off")),
          col("text"))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("off"),
          ascii(col("text").substr(col("off").cast("int") + 1, lit(1)))
            .cast("long").as("frame_cp")),
      Some("""SELECT doc_id, frame_idx, off, CAST(ascii(substr(text, CAST(off AS INT) + 1, 1)) AS BIGINT) AS frame_cp
             |FROM (
             |  SELECT doc_id, text, CAST(i AS BIGINT) AS frame_idx,
             |         CAST((i * length(text)) // 4 AS BIGINT) AS off
             |  FROM documents, (SELECT unnest([0, 1, 2, 3]) AS i)
             |  WHERE length(text) > 0)""".stripMargin)),

    // Audio frame features, FULL ORACLE through real bytes: plant one
    // PCM s16le clip per doc (integer sawtooth — SQL-replayable), encode
    // to little-endian bytes executor-side, DECODE THE BYTES back, and
    // window into 64-sample frames of integer features (peak, exact
    // sum-of-squares energy, zero crossings). DuckDB recomputes the
    // features from the waveform definition directly — so any endianness,
    // sign-extension, or windowing bug in the byte codec breaks the
    // match. The third modality: same blob-table shape as images, decode
    // in a partition-preserving pass, zero shuffle before the (tiny)
    // result.
    Q("m_audio_features",
      (s, dir) => graft.multimodal.Multimodal.audioFrameFeatures(
        graft.multimodal.Multimodal.toAudioTable(docs(s, dir), "doc_id")).toDF(),
      Some(s"""WITH ${audioSampleCtes("i, ")},
             |x AS (
             |  SELECT doc_id, frame_idx, i, v,
             |         lag(v) OVER (PARTITION BY doc_id, frame_idx ORDER BY i) AS pv
             |  FROM smp)
             |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             |  CAST(count(*) AS BIGINT) AS n_samples,
             |  CAST(max(abs(v)) AS BIGINT) AS peak,
             |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
             |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((v >= 0) != (pv >= 0))
             |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
             |FROM x GROUP BY doc_id, frame_idx""".stripMargin)),

    // Audio constellation fingerprint: per-frame signed peaks from the REAL
    // decode path (mapPartitions PCM kernel, zero shuffle), paired as
    // successive-frame deltas — the phase-invariant landmark (Δpeak cancels
    // the per-doc phase offset, so clips that differ only by offset share
    // fingerprints, the Shazam constellation idea in its integer-exact
    // form). Each doc is summarized by its DOMINANT delta (count DESC, dv
    // ASC — deterministic) and stamped with its fingerprint-family size via
    // a window over the dominant value. All integers end to end; DuckDB
    // replays the planted sawtooth straight into the same window chain, so
    // the codec → frame → landmark → family pipeline is full-oracle.
    // At 100 TB: one shuffle on doc_id carries the lag window AND the
    // (doc, dv) count (doc_id ⊂ key); the family window runs on one row
    // per doc.
    Q("m_audio_fingerprint",
      (s, dir) => {
        val peaks = graft.multimodal.Multimodal.audioFramePeaks(
          graft.multimodal.Multimodal.toAudioTable(docs(s, dir), "doc_id")).toDF()
        val byFrame = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
        val dv = peaks
          .withColumn("dv", col("vmax") - lag(col("vmax"), 1).over(byFrame))
          .filter(col("dv").isNotNull)
        val dom = dv.groupBy(col("doc_id"), col("dv")).agg(count(lit(1)).as("c"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("c").desc, col("dv").asc)))
          .filter(col("rnk") === 1)
          .select(col("doc_id"), col("dv").as("dominant_dv"), col("c").as("n_dominant"))
        val nf = peaks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
        dom.join(nf, "doc_id")
          .withColumn("family_size",
            count(lit(1)).over(Window.partitionBy(col("dominant_dv"))))
          .select(col("doc_id"), col("dominant_dv"), col("n_dominant"),
            col("n_frames"), col("family_size"))
      },
      Some(s"""WITH ${audioSampleCtes("")},
             |pk AS (SELECT doc_id, frame_idx, CAST(max(v) AS BIGINT) AS vmax
             |       FROM smp GROUP BY 1, 2),
             |dvt AS (SELECT doc_id,
             |          vmax - lag(vmax) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS dv
             |        FROM pk),
             |cnt AS (SELECT doc_id, dv, count(*) AS c FROM dvt
             |        WHERE dv IS NOT NULL GROUP BY 1, 2),
             |dom AS (SELECT doc_id, dv AS dominant_dv, c AS n_dominant FROM (
             |          SELECT *, row_number() OVER (
             |            PARTITION BY doc_id ORDER BY c DESC, dv ASC) AS rnk FROM cnt)
             |        WHERE rnk = 1),
             |nf AS (SELECT doc_id, count(*) AS n_frames FROM pk GROUP BY 1)
             |SELECT doc_id, dominant_dv, n_dominant, n_frames,
             |  CAST(count(*) OVER (PARTITION BY dominant_dv) AS BIGINT) AS family_size
             |FROM dom JOIN nf USING (doc_id)""".stripMargin)),

    // Image near-dup pairs: real PNG decode → 64-bit average-hash →
    // 16-bit-banded Hamming join (the SimHash shuffle shape applied to
    // images). Rows-only for the driver (DuckDB cannot decode PNG); the
    // full pipeline is proven equal to a driver-side brute-force of the
    // same documented rule (decode → aHash → any-uncapped-band-shared →
    // Hamming ≤ 2) in MultimodalSpec.
    Q("m_phash_pairs",
      (s, dir) => graft.multimodal.Multimodal.imageNearDupPairs(
        graft.multimodal.Multimodal.toImageTable(docs(s, dir), "doc_id")),
      None),

    // The same image near-dup pipeline under a FULL oracle: the planted
    // images are md5-patterned 8×8 bright/dark grids (16 pattern groups,
    // per-doc 1-cell and 4-cell perturbations), rendered to REAL pixels,
    // encoded through a REAL second codec (uncompressed BMP), decoded
    // back, average-hashed, and banded-Hamming-joined — while DuckDB
    // replays the pattern DEFINITION (the md5 bits) straight into the
    // hash and the same capped band join, exactly the m_audio_features
    // trick. Any codec, luma, block-geometry, banding, or cap bug on the
    // Spark side breaks the byte match. Hamming-1 pairs pass the filter;
    // the Hamming-4 perturbations are found by the band join and REJECTED
    // by the filter, so both sides of the predicate are load-bearing.
    Q("m_phash_pairs_portable",
      (s, dir) => graft.multimodal.Multimodal.imageNearDupPairs(
        graft.multimodal.Multimodal.toPatternImageTable(docs(s, dir), "doc_id")),
      Some(s"""WITH $PatternSigCtes,
             |banded AS (
             |  SELECT doc_id, phash,
             |    (CAST(b AS BIGINT) << 16) + ((phash >> (b * 16)) & 65535) AS bk
             |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
             |capped AS (
             |  SELECT * FROM banded
             |  WHERE bk IN (SELECT bk FROM banded
             |               GROUP BY bk HAVING count(*) <= 64)),
             |pairs AS (
             |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
             |    x.phash AS pa, y.phash AS pb
             |  FROM capped x JOIN capped y
             |    ON x.bk = y.bk AND x.doc_id < y.doc_id)
             |SELECT a_id, b_id, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
             |FROM pairs WHERE bit_count(xor(pa, pb)) <= 2""".stripMargin)),

    // Stratified sampling: deterministically downsample the dominant
    // language (en -> 25%) while keeping the rest — the corpus-rebalancing
    // op every training-data pipeline runs. The keep decision is a pure
    // function of a salted md5 of the id (portable hex, engine- and
    // partitioning-independent), so the sample is reproducible anywhere.
    // Hex threshold '4000'/'10000' = 1/4.
    Q("t_stratified_sample",
      (s, dir) => {
        val h = substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 4)
        docs(s, dir).filter(col("lang") =!= "en" || h < "4000")
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE lang <> 'en'
             |   OR substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'""".stripMargin)),

    // The decode-features pipeline under a FULL oracle (VERDICT r10 #6):
    // the same extractImageFeatures kernel that backs m_decode_features,
    // run over the md5-pattern images encoded through the REAL second
    // codec (uncompressed BMP — the m_phash_pairs_portable payloads).
    // DuckDB replays the pattern DEFINITION: width/height are the fixed
    // 16×16 geometry, n_bytes the closed-form 24-bit BMP size (54-byte
    // header + 16 rows × 48 data bytes = 822), mean_luma the exact
    // bright-count arithmetic — gray r=g=b=L pixels make the Rec. 601 luma
    // exactly L in double (0.299+0.587+0.114 folds to 1.0 at these
    // integers), so the image mean is (600·popcount(phash)+12800)/256, a
    // multiple of 1/32 that both engines represent exactly and round
    // identically on the 6-dp grid; frames_sampled is the
    // sampleOffsets(822, 4) count. Any codec, header-size, luma, geometry,
    // or frame-sampling bug on the Spark side breaks the byte match.
    Q("m_decode_features_portable",
      (s, dir) => graft.multimodal.Multimodal.extractImageFeatures(
        graft.multimodal.Multimodal.toPatternImageTable(docs(s, dir), "doc_id")).toDF(),
      Some(s"""WITH $PatternSigCtes
             |SELECT doc_id AS id, CAST(822 AS BIGINT) AS n_bytes,
             |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
             |  floor((CAST(600 * bit_count(phash) + 12800 AS DOUBLE) / 256.0)
             |        * 1000000 + 0.5) / 1000000 AS mean_luma,
             |  CAST(4 AS INTEGER) AS frames_sampled
             |FROM sig""".stripMargin)),

    // PII scan + redaction audit: plant deterministic PII (emails, phone
    // numbers, IPv4 addresses) per doc-id class into the text, detect with
    // explicit-ASCII regexes, and measure the post-redaction length — the
    // release gate every public-corpus pipeline runs. Patterns use only
    // portable constructs ([a-z0-9] classes, [.] for literal dots — the
    // blocklist/token-estimate precedent) so Java regex and RE2/DuckDB
    // agree byte-for-byte; counts ride regexp_count (codegen'd, no
    // intermediate arrays) and redaction is ONE alternation
    // regexp_replace. Pure per-row map over the scan — zero shuffle at
    // any corpus size. The planted classes make both sides of the
    // detector load-bearing: class-0 docs must count 0 on clean text,
    // class-3 docs must find all three types in one row.
    Q("t_pii_scan",
      (s, dir) => {
        val planted = concat(
          col("text"),
          when(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 3,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or 555-"),
              lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 3,
            concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
              lit(".0.1"))).otherwise(lit("")))
        val email = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
        val phone = "555-[0-9][0-9][0-9][0-9]"
        val ip = "10[.][0-9]+[.]0[.]1"
        docs(s, dir).select(col("doc_id"), planted.as("ptext"))
          .select(col("doc_id"),
            regexp_count(col("ptext"), lit(email)).cast("long").as("n_email"),
            regexp_count(col("ptext"), lit(phone)).cast("long").as("n_phone"),
            regexp_count(col("ptext"), lit(ip)).cast("long").as("n_ip"),
            length(regexp_replace(col("ptext"),
              s"$email|$phone|$ip", "<PII>")).cast("long").as("redacted_len"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    text ||
             |    CASE WHEN doc_id % 4 IN (1, 3)
             |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
             |    CASE WHEN doc_id % 4 IN (2, 3)
             |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             |              ' or 555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
             |    CASE WHEN doc_id % 4 = 3
             |         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END AS ptext
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(ptext, '[a-z0-9]+@[a-z0-9]+[.][a-z]+')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(ptext, '555-[0-9][0-9][0-9][0-9]')) AS BIGINT) AS n_phone,
             |  CAST(len(regexp_extract_all(ptext, '10[.][0-9]+[.]0[.]1')) AS BIGINT) AS n_ip,
             |  CAST(length(regexp_replace(ptext, '[a-z0-9]+@[a-z0-9]+[.][a-z]+|555-[0-9][0-9][0-9][0-9]|10[.][0-9]+[.]0[.]1', '<PII>', 'g')) AS BIGINT) AS redacted_len
             |FROM planted""".stripMargin)),

    // BLEU-style n-gram overlap components — the generation-eval staple
    // (candidate vs reference): clipped unigram/bigram matches, modified
    // 1-gram precision, and the LOG brevity penalty. Pairs are
    // deterministic (each doc scored against the next doc_id in its
    // language — one dimension-sized lang exchange); every emitted value
    // is rational arithmetic on token counts (no exp/ln — the final BLEU
    // scalar is a trivial fold the consumer applies), so the 6-dp grid
    // rounds identically cross-engine. Per-row cost is O(distinct·len)
    // over a vocabulary-bounded token set; at open-vocabulary 100 TB
    // scale swap the filter-count lambdas for the TermCounts map kernel
    // (same per-row contract, one counting pass).
    Q("t_bleu_eval",
      (s, dir) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        val base = docs(s, dir)
          .select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.tokens(col("text")).as("toks"))
          .withColumn("rtoks", lead(col("toks"), 1).over(w))
          .filter(col("rtoks").isNotNull)
        def bigrams(c: String) = expr(
          s"CASE WHEN size($c) >= 2 THEN transform(sequence(0, size($c)-2), " +
            s"i -> concat($c[i], '_', $c[i+1])) " +
            "ELSE CAST(array() AS array<string>) END")
        def clipped(a: String, b: String) = expr(
          s"aggregate(array_distinct($a), 0L, (acc, t) -> acc + " +
            s"least(size(filter($a, x -> x = t)), size(filter($b, x -> x = t))))")
        val withB = base
          .withColumn("cb", bigrams("toks")).withColumn("rb", bigrams("rtoks"))
          .withColumn("m1", clipped("toks", "rtoks"))
          .withColumn("m2", coalesce(clipped("cb", "rb"), lit(0L)))
        withB.select(col("doc_id"),
          size(col("toks")).cast("long").as("cand_len"),
          size(col("rtoks")).cast("long").as("ref_len"),
          col("m1"), col("m2"),
          graft.operators.RelationalOps.round6(
            col("m1").cast("double") / size(col("toks")).cast("double")).as("p1"),
          graft.operators.RelationalOps.round6(
            least(lit(0.0), lit(1.0) -
              size(col("rtoks")).cast("double") / size(col("toks")).cast("double")))
            .as("bp_log"))
      },
      Some(s"""WITH d AS (
             |  SELECT doc_id, lang, $WS AS toks,
             |         lead($WS) OVER (PARTITION BY lang ORDER BY doc_id) AS rtoks
             |  FROM documents),
             |p AS (SELECT * FROM d WHERE rtoks IS NOT NULL),
             |big AS (
             |  SELECT doc_id, toks, rtoks,
             |    CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks)-1),
             |      i -> toks[i] || '_' || toks[i+1]) ELSE [] END AS cb,
             |    CASE WHEN len(rtoks) >= 2 THEN list_transform(generate_series(1, len(rtoks)-1),
             |      i -> rtoks[i] || '_' || rtoks[i+1]) ELSE [] END AS rb
             |  FROM p),
             |m AS (
             |  SELECT doc_id, len(toks) AS cl, len(rtoks) AS rl,
             |    list_sum(list_transform(list_distinct(toks),
             |      t -> least(len(list_filter(toks, x -> x = t)),
             |                 len(list_filter(rtoks, x -> x = t))))) AS m1,
             |    coalesce(list_sum(list_transform(list_distinct(cb),
             |      t -> least(len(list_filter(cb, x -> x = t)),
             |                 len(list_filter(rb, x -> x = t))))), 0) AS m2
             |  FROM big)
             |SELECT doc_id, CAST(cl AS BIGINT) AS cand_len, CAST(rl AS BIGINT) AS ref_len,
             |  CAST(m1 AS BIGINT) AS m1, CAST(m2 AS BIGINT) AS m2,
             |  floor((CAST(m1 AS DOUBLE) / cl) * 1000000 + 0.5) / 1000000 AS p1,
             |  floor(least(0.0, 1.0 - CAST(rl AS DOUBLE) / cl) * 1000000 + 0.5) / 1000000 AS bp_log
             |FROM m""".stripMargin)),

    // Fixed-k per-stratum sampling ("exactly 20 docs per language") — the
    // complement of t_stratified_sample's RATE-based thinning. Uniformity
    // comes from ordering by a salted portable hash (bounded to 2^50 so the
    // long→double conversion inside the aggregate is EXACT — a raw 60-bit
    // hash would lose low bits in the double and could diverge from the
    // oracle's integer ordering); exactness-of-k comes from bottom-k
    // selection. The standard formulation (row_number over a per-stratum
    // window, filter rn<=k) shuffles and SORTS every row; this runs the
    // shared TopKByScore AGGREGATE instead (score = −hash, so top-k =
    // k smallest hashes; ties → smaller id on both engines), which
    // partial-aggregates each map side to k candidates per stratum before
    // the shuffle — the exchange carries O(strata·k), the answer, not the
    // corpus. Same kernel as q_group_topk, second family (sampling): at
    // 100 TB, "give me 10k uniform docs per language" is THE reporting/eval
    // primitive, and a full sort per language is the wrong plan for it.
    Q("t_sample_k_per_group",
      (s, dir) => {
        val h = pmod(portableHash60(concat(lit("samplek:"), col("doc_id").cast("string"))),
          lit(1L << 50))
        langTopK(docs(s, dir)
          .select(col("lang"), col("doc_id"), (-h.cast("double")).as("negh")),
          col("negh"), 20)
      },
      Some(s"""WITH h AS (
             |  SELECT lang, doc_id,
             |    ('0x' || substr(md5('samplek:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             |      % (1::BIGINT << 50) AS hv
             |  FROM documents)
             |${langRankSql("h", "hv", 20)}""".stripMargin)),

    // WEIGHTED fixed-k per-stratum sampling (priority/bottom-k sampling,
    // Duffield–Lund–Thorup shape): each doc draws a deterministic uniform
    // from the portable hash and competes on key = (h+1) div weight — a
    // doc with twice the weight has (statistically) half the key, so
    // selection pressure is weight-proportional, here length-weighted
    // (sample by token mass, not doc count — how a training mix actually
    // weighs a corpus). Integer floor-division keys stay under 2^50, so
    // the double handed to the TopKByScore heap is EXACT and the oracle's
    // BIGINT ordering agrees bit-for-bit. Same O(strata·k) exchange as
    // the uniform variant — the heap ships the answer, not the corpus.
    Q("t_weighted_sample",
      (s, dir) => {
        val h = pmod(portableHash60(concat(lit("wsample:"), col("doc_id").cast("string"))),
          lit(1L << 50))
        langTopK(docs(s, dir)
          .select(col("lang"), col("doc_id"),
            (h + 1).as("h1"), greatest(col("n_chars"), lit(1L)).as("wpos"))
          .withColumn("k0", expr("h1 div wpos")),
          -col("k0").cast("double"), 10)
      },
      Some(s"""WITH wk AS (
              |  SELECT lang, doc_id,
              |    (('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              |       % (1::BIGINT << 50) + 1) // greatest(n_chars, 1) AS k0
              |  FROM documents)
              |${langRankSql("wk", "k0", 10)}""".stripMargin)),

    // Benchmark decontamination: flag training docs sharing any 4-gram with
    // the held-out eval slice (doc_id % 20 = 0 stands in for the benchmark
    // set; real pipelines use 13-grams on much longer docs — 4 on this
    // synthetic short-doc corpus keeps the flag rate in the same few-percent
    // band at every test SF, so the check is never vacuously empty). The
    // eval n-gram dictionary is tiny by construction (benchmarks are small;
    // the corpus is the 100 TB side) -> broadcast it and the scan of the
    // training side stays shuffle-free up to the final per-doc count.
    Q("t_decontaminate",
      (s, dir) => {
        val (trainG, evalG) = decontamGrams(s, dir)
        contaminationCounts(trainG, evalG)
      },
      Some(DecontaminateSql)),

    // FUZZY decontamination — the near-dup leak exact n-gram matching
    // misses: training docs that are paraphrase-level MinHash near-dups
    // of an eval doc (same split rule as t_decontaminate: doc_id % 20).
    // The cross-sided LSH band join prices candidates by the EVAL side
    // (same-side pairs never form); the bucket census/cap runs over the
    // union because a bucket's fan-out is |train∩bucket|·|eval∩bucket|.
    // The oracle reuses the whole-corpus MinhashCtes chain verbatim —
    // train and eval partition the corpus, so cross-side pairs are
    // exactly mjp's rows with one member per side, reoriented.
    Q("t_decontaminate_fuzzy",
      (s, dir) => {
        val d = docs(s, dir)
        graft.dedup.TextDedup.crossNearDupPairs(
            d.filter(col("doc_id") % 20 =!= 0), d.filter(col("doc_id") % 20 === 0),
            "doc_id", "text",
            graft.dedup.TextDedup.MinHashConfig(jaccardThreshold = 0.4, portable = true))
          .select(col("l_id").as("doc_id"), col("r_id").as("eval_id"),
            col("inter"), col("jaccard"))
      },
      Some(s"""WITH $MinhashCtes
              |SELECT CASE WHEN a_id % 20 <> 0 THEN a_id ELSE b_id END AS doc_id,
              |  CASE WHEN a_id % 20 = 0 THEN a_id ELSE b_id END AS eval_id,
              |  inter, jaccard
              |FROM mjp
              |WHERE (a_id % 20 = 0) <> (b_id % 20 = 0)""".stripMargin)),

    // Bloom-prefiltered decontamination — identical OUTPUT to
    // t_decontaminate (the oracle is literally the same SQL), different
    // LARGE-EVAL-regime plan. When the eval suite outgrows the broadcast
    // guard, contaminationCounts falls back to a shuffled hash join that
    // moves EVERY train n-gram; but almost all train n-grams match nothing
    // — shuffling them is the waste. The fix is a Bloom filter expressed
    // natively: hash every eval gram into a 2^16-bucket space
    // (`pmod(xxhash64(g), 65536)`), broadcast the DISTINCT bucket set (hard
    // bound: 64 Ki longs — broadcastable no matter how large the eval suite
    // grows), and LEFT-SEMI the train grams against it BEFORE the exact
    // join. One hash function: membership is one broadcast lookup; false
    // positives (bucket collisions, ~|eval-grams|/2^16) pass through and
    // are eliminated by the exact gram join that follows, false negatives
    // are impossible (equal grams hash equal), so the result is exactly the
    // plain join's — engine-internal xxhash64 never leaks into the output,
    // which is why the full DuckDB oracle holds despite the non-portable
    // hash. At 100 TB the shuffle after the prefilter carries only true
    // matches + the collision sliver instead of the whole corpus' grams.
    // DecontaminationBloomSpec pins prefiltered ≡ plain on both guard paths
    // and asserts the prune actually bites (>50% of grams dropped pre-join).
    Q("t_decontaminate_bloom",
      (s, dir) => {
        val (trainG, evalG) = decontamGrams(s, dir)
        contaminationCounts(bloomPrefilter(trainG, evalG), evalG)
      },
      Some(DecontaminateSql)),

    // Keyword extraction: top-3 distinctive terms per doc ranked by
    // (tf DESC, df ASC, term) — TF-IDF's decision order without the float
    // logarithm, so the ranking is exact and engine-portable. df rides a
    // broadcast of the term dictionary; tf partial-aggregates before the
    // per-doc shuffle.
    Q("t_top_terms",
      (s, dir) => {
        // One tokenize pass (r13): df derives from the materialized tf
        // frame — tf holds exactly one row per distinct (doc, term), so
        // counting its rows per term ≡ the old tok.distinct count.
        val tf = tfFrame(s, dir).localCheckpoint(true)
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("term").asc)
        tf.join(broadcast(df), Seq("term"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($WSL) AS term FROM documents),
              |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
              |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df FROM (
              |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
              |    row_number() OVER (PARTITION BY tf.doc_id
              |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
              |  FROM tf JOIN df USING (term))
              |WHERE rnk <= 3""".stripMargin)),

    // Heavy-hitter bigrams via count-min sketch
    // (graft.operators.CountMinSketch): the bounded-state frequency path —
    // the exact top-terms query keeps vocabulary-sized aggregation state,
    // the sketch keeps 4×1024 integer cells at ANY corpus size, and the
    // candidate set comes from a deterministic 2% doc sample (heavy
    // hitters are exactly what a uniform sample cannot miss). Output:
    // sampled bigrams whose sketch estimate clears 0.1% of the stream —
    // estimates are the min-over-rows CMS upper bound, integers end to
    // end, so the whole sketch→probe→threshold pipeline byte-matches the
    // oracle. The stream total comes from its own light count — not from
    // the sketch — so the build stays lazy (no checkpoint at Q-build).
    Q("t_heavy_hitters_cms",
      (s, dir) => {
        val grams = docsSpread(s, dir)
          .select(explode(shingles(col("text"), 2)).as("gram"))
        val total = grams.agg(count(lit(1)).as("tot"))
        val cands = docsSpread(s, dir)
          .where(pmod(col("doc_id"), lit(50)) === 0)
          .select(explode(shingles(col("text"), 2)).as("gram")).distinct()
        graft.operators.CountMinSketch
          .estimate(cands, "gram", graft.operators.CountMinSketch.sketch(grams, "gram"))
          .crossJoin(broadcast(total))
          .where(col("est_count") * lit(1000) >= col("tot"))
          .select(col("gram"), col("est_count"))
      },
      Some(s"""WITH hd AS (SELECT doc_id, $WS AS ws FROM documents),
              |hg AS (SELECT unnest($Shingles2) AS gram FROM hd),
              |hent AS (
              |  SELECT j, ('0x' || substr(md5(j::VARCHAR || ':' || gram), 1, 15))::BIGINT % 1024 AS b
              |  FROM hg CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
              |hsk AS (SELECT j, b, count(*) AS cnt FROM hent GROUP BY 1, 2),
              |htot AS (SELECT count(*) AS tot FROM hg),
              |hcand AS (
              |  SELECT DISTINCT unnest($Shingles2) AS gram
              |  FROM hd WHERE doc_id % 50 = 0),
              |hpro AS (
              |  SELECT gram, j, ('0x' || substr(md5(j::VARCHAR || ':' || gram), 1, 15))::BIGINT % 1024 AS b
              |  FROM hcand CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
              |hest AS (
              |  SELECT gram, min(coalesce(cnt, 0)) AS est_count
              |  FROM hpro LEFT JOIN hsk USING (j, b) GROUP BY gram)
              |SELECT gram, est_count FROM hest, htot
              |WHERE est_count * 1000 >= tot""".stripMargin)),

    // TF-IDF document-term matrix — the classic inverse-document-frequency
    // weighting (smooth variant: tf/|d| · (ln((N+1)/(df+1)) + 1)) that
    // feeds BM25-ish retrieval, keyword extraction, and sparse doc
    // vectors. Pure group-by/join relational shape, no windows: term
    // frequencies and document frequencies are partial-aggregated from the
    // exploded token stream (the df shuffle is vocabulary-bounded, the tf
    // shuffle carries one row per distinct (doc, term)); doc lengths
    // derive from the tf frame (never a second corpus scan); the corpus
    // count is a 1-row broadcast. The vocabulary join is deliberately NOT
    // broadcast — vocab is corpus-unbounded at 100 TB (same reasoning as
    // the guarded trigram model); AQE sizes it. ln() is the one
    // transcendental — both engines feed it the identical double and the
    // 6-dp rounding absorbs last-ulp libm drift.
    Q("t_tfidf",
      (s, dir) => {
        val tok = docs(s, dir).select(col("doc_id"),
          explode(tokens(lower(col("text")))).as("term"))
        val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val dlen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_d"))
        val dft = tok.select(col("doc_id"), col("term")).distinct()
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
        tf.join(dlen, "doc_id").join(dft, "term").crossJoin(broadcast(n))
          .withColumn("tfidf", graft.operators.RelationalOps.round6(
            (col("tf").cast("double") / col("n_d").cast("double")) *
              (log((col("n_docs").cast("double") + 1.0) /
                (col("df").cast("double") + 1.0)) + 1.0)))
          .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
      },
      Some(TfidfSql)),

    // BM25 retrieval scoring (Robertson k1=1.2, b=0.75, +1-smoothed idf) —
    // the ranking function a sparse-retrieval pipeline runs over the
    // t_tfidf statistics. Self-contained and data-driven: the "query" is
    // the corpus's 3 globally most-frequent terms (deterministic: total-tf
    // desc, term asc — any engine derives the same set), so the check is
    // non-vacuous at every scale factor. All statistics are the tfidf
    // building blocks; the query-term set is a 3-row broadcast; avgdl a
    // 1-row broadcast. Per-doc scores partial-aggregate over the ≤3
    // matched terms — the shuffle carries O(matched docs), the corpus is
    // scanned once per explode pass as in t_tfidf.
    Q("t_bm25",
      (s, dir) => bm25Scores(s, dir),
      Some(Bm25Sql)),

    // PERSISTED-INDEX twins of the two retrieval entries above: the same
    // oracle SQL (a full recompute over `documents`), replayed against
    // statistics built INCREMENTALLY through the RetrievalIndex lifecycle
    // — build on the even doc ids, appendDocs the odd ids, then score
    // from the standing index (delta-summed df/N/avgdl, zero text
    // re-tokenization at score time). A byte-for-byte match here IS the
    // incremental ≡ full-recompute proof at the oracle gate, on top of
    // RetrievalIndexSpec's in-JVM batteries. Builders are EAGER (index
    // mutation + the guarded-broadcast probe run at build time) — the
    // trigramFamiliarity adjudication applies: pre-planning persistence
    // requires actions; the lazy contract is traded for the standing
    // index every later scoring call probes for free.
    Q("t_tfidf_indexed",
      (s, dir) => graft.retrieval.RetrievalIndex.tfidf(s, halvesIndex(s, dir, "tfidf")),
      Some(TfidfSql)),

    Q("t_bm25_indexed",
      (s, dir) => {
        val idx = halvesIndex(s, dir, "bm25")
        graft.retrieval.RetrievalIndex.scoreBm25(s, idx,
          graft.retrieval.RetrievalIndex.topTerms(s, idx, 3))
      },
      Some(Bm25Sql)),

    // The DELETION lifecycle under a full oracle (right-to-be-forgotten
    // for a standing index): build on the whole corpus, tombstone-delete
    // every doc_id % 5 == 0, compact (physical removal + statistics
    // re-derivation), then score. DuckDB replays the transient BM25 math
    // over `documents WHERE doc_id % 5 <> 0` — so the tombstone anti-join,
    // the compaction's physical drop, AND the re-derived df/N/avgdl must
    // all land byte-identically on the surviving corpus, or the match
    // breaks. (Pre-compaction visibility and torn-delete invisibility are
    // RetrievalIndexSpec's; this entry pins the end-state.)
    Q("t_bm25_after_delete",
      (s, dir) => {
        val idx = Q.workDir(s, "bm25del", dir)
        val d = docs(s, dir)
        graft.retrieval.RetrievalIndex.build(d, "doc_id", "text", idx)
        graft.retrieval.RetrievalIndex.deleteDocs(
          d.filter(col("doc_id") % 5 === 0).select(col("doc_id")), idx, "doc_id")
        graft.retrieval.RetrievalIndex.compact(s, idx)
        graft.retrieval.RetrievalIndex.scoreBm25(s, idx,
          graft.retrieval.RetrievalIndex.topTerms(s, idx, 3))
      },
      // the shared one-image BM25 oracle with its corpus swapped for the
      // survivors (both references: the token stream and the N count)
      Some(Bm25Sql.replace("FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 5 <> 0)"))),

    // The MinHash-index deletion lifecycle under a full oracle — the
    // t_bm25_after_delete pattern applied to TextDedupIndex: build the
    // portable-family index on the whole corpus, tombstone-delete every
    // doc_id % 5 == 0, compact (physical removal + census rebuild + tomb
    // clear), then searchNew with the SURVIVORS as the arriving batch.
    // DuckDB replays the portable MinHash chain over the survivor corpus:
    // the tombstone anti-join, the compaction's physical drop, and the
    // rebuilt bucket census must land the index byte-identical to a fresh
    // build on the survivors, or the match breaks. Two searchNew-specific
    // oracle details: (1) the maxBucket cap applies to the COMBINED bucket
    // population — stored census + the arriving batch's own band counts;
    // batch ≡ corpus here, so a bucket survives iff 2·census ≤ 64 (the
    // doubled-cap HAVING below); (2) an id on both sides self-matches at
    // jaccard 1.0 whenever ≥ 1 of its buckets survives the cap, and a≠b
    // pairs surface in BOTH orientations (mjp is a<b — reorient by union).
    Q("t_dup_after_delete",
      (s, dir) => {
        val idx = Q.workDir(s, "lshdel", dir)
        val pcfg = graft.dedup.TextDedup.MinHashConfig(
          jaccardThreshold = 0.4, portable = true)
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        graft.dedup.TextDedupIndex.build(d, "doc_id", "text", idx, pcfg)
        graft.dedup.TextDedupIndex.deleteDocs(
          d.filter(col("doc_id") % 5 === 0).select(col("doc_id")), idx, "doc_id")
        graft.dedup.TextDedupIndex.compact(s, idx, maxFiles = 1)
        graft.dedup.TextDedupIndex.searchNew(
          d.filter(col("doc_id") % 5 =!= 0), idx, "doc_id", "text", pcfg)
      },
      Some(s"""WITH ${
          minhashCtes("(SELECT * FROM documents WHERE doc_id % 5 <> 0)")
            .replace("HAVING count(*) <= 64", "HAVING count(*) * 2 <= 64")}
          |SELECT a_id AS new_id, b_id AS corpus_id, inter, jaccard FROM mjp
          |UNION ALL
          |SELECT b_id AS new_id, a_id AS corpus_id, inter, jaccard FROM mjp
          |UNION ALL
          |SELECT b.doc_id AS new_id, b.doc_id AS corpus_id, c.n AS inter,
          |  CAST(1.0 AS DOUBLE) AS jaccard
          |FROM (SELECT DISTINCT doc_id FROM mbok) b
          |JOIN mcnt c ON b.doc_id = c.doc_id""".stripMargin)),

    // Exact distributed percentiles per stratum — the quality-threshold
    // derivation step of a filtering pipeline ("drop docs below the
    // per-language p25"). Spark's exact `percentile` aggregate and DuckDB's
    // `quantile_cont` share the (n-1)*p linear-interpolation definition, so
    // the oracle is exact up to the shared 6-dp rounding. At 100 TB the
    // exact sort-based percentile is per-GROUP (languages are few, rows per
    // group huge — partial aggregation does the heavy lift); for quantiles
    // over ungrouped petabyte columns the approx_percentile sketch is the
    // scale path (same call shape).
    Q("t_quality_quantiles",
      (s, dir) => docs(s, dir).groupBy(col("lang")).agg(
        graft.operators.RelationalOps.round6(
          expr("percentile(n_chars, 0.25)")).as("p25"),
        graft.operators.RelationalOps.round6(
          expr("percentile(n_chars, 0.5)")).as("p50"),
        graft.operators.RelationalOps.round6(
          expr("percentile(n_chars, 0.75)")).as("p75"),
        count(lit(1)).as("n_docs")),
      Some("""SELECT lang,
             |  floor(quantile_cont(n_chars, 0.25) * 1000000 + 0.5) / 1000000 AS p25,
             |  floor(quantile_cont(n_chars, 0.5) * 1000000 + 0.5) / 1000000 AS p50,
             |  floor(quantile_cont(n_chars, 0.75) * 1000000 + 0.5) / 1000000 AS p75,
             |  count(*) AS n_docs
             |FROM documents GROUP BY lang""".stripMargin)),

    // Exact discrete quantiles via VALUE HISTOGRAM — the scale twin of
    // t_quality_quantiles: `percentile` buffers every group member in
    // executor memory (its aggregation state IS the group), which at
    // 100 TB is the operator that dies first; the histogram shape's only
    // corpus-sized op is a partial-aggregable (key, value) count, with
    // the cumulative window running on the aggregated histogram. Type-1
    // quantiles (smallest value whose cumulative count reaches ceil(p·n),
    // integer ranks via div) — integer-exact in any engine, unlike
    // percentile's interpolated doubles.
    Q("t_quantile_hist",
      (s, dir) => graft.operators.RelationalOps.histogramQuantiles(
        docs(s, dir), "lang", "n_chars"),
      Some("""WITH h AS (
             |  SELECT lang, CAST(n_chars AS BIGINT) AS v, count(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |cw AS (
             |  SELECT lang, v, c,
             |    sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
             |    sum(c) OVER (PARTITION BY lang) AS n
             |  FROM h)
             |SELECT lang,
             |  min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS p25,
             |  min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS p50,
             |  min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS p75,
             |  CAST(n AS BIGINT) AS n
             |FROM cw GROUP BY lang, n""".stripMargin)),

    // Rank-ensemble quality FILTER — the multi-signal curation gate (no
    // single heuristic is trusted; each signal is rank-normalized to a
    // percentile and the percentiles are blended). Rank normalization
    // without a corpus sort: each signal maps to a FIXED 4096-bucket
    // histogram (the t_quantile_hist discipline applied to percentiles),
    // so the only corpus-sized ops are one scan computing the three
    // per-doc signals and one partial-aggregable (signal, bucket) count;
    // the cumulative-distribution window runs on ≤3·4096 aggregated rows,
    // which then BROADCAST back onto the probe scan — zero shuffle of the
    // corpus at any size. The blend stays integer to the end: a doc's
    // blended rank is (cum₁+cum₂+cum₃)/(3N) — three exact cumulative
    // counts summed as longs, ONE double division, so the score is
    // order-independent under any merge schedule. Signals: token count
    // (length prior), distinct-token ratio (repetition prior), mean token
    // length (gibberish prior). Signal doubles are ratios of exact longs
    // — both engines compute the identical IEEE quotient, so the bucket
    // floor can never straddle.
    Q("t_quality_ensemble",
      (s, dir) => {
        val sg = docs(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ws"))
          .select(col("doc_id"),
            size(col("ws")).cast("long").as("nt"),
            size(array_distinct(col("ws"))).cast("long").as("nd"),
            aggregate(col("ws"), lit(0L), (a, t) => a + length(t).cast("long")).as("sl"))
          .select(col("doc_id"),
            least(col("nt"), lit(4095L)).as("b1"),
            when(col("nt") === 0, lit(0L)).otherwise(least(
              floor(col("nd").cast("double") / col("nt").cast("double") * 4096.0)
                .cast("long"), lit(4095L))).as("b2"),
            when(col("nt") === 0, lit(0L)).otherwise(least(
              floor(col("sl").cast("double") / col("nt").cast("double") * 100.0)
                .cast("long"), lit(4095L))).as("b3"))
        val cum = sg
          .select(col("doc_id"), explode(array(
            struct(lit(1).as("sig"), col("b1").as("b")),
            struct(lit(2).as("sig"), col("b2").as("b")),
            struct(lit(3).as("sig"), col("b3").as("b")))).as("sb"))
          .select(col("sb.sig").as("sig"), col("sb.b").as("b"))
          .groupBy(col("sig"), col("b")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(
            Window.partitionBy(col("sig")).orderBy(col("b"))))
        def cdf(i: Int, bcol: String, out: String) = broadcast(
          cum.filter(col("sig") === i)
            .select(col("b").as(bcol), col("cum").as(out)))
        val n = docs(s, dir).agg(count(lit(1)).as("n"))
        sg.join(cdf(1, "b1", "c1"), Seq("b1"))
          .join(cdf(2, "b2", "c2"), Seq("b2"))
          .join(cdf(3, "b3", "c3"), Seq("b3"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), graft.operators.RelationalOps.round6(
            (col("c1") + col("c2") + col("c3")).cast("double") /
              (col("n").cast("double") * 3.0)).as("blend"))
          .select(col("doc_id"), col("blend"), (col("blend") >= 0.5).as("keep"))
      },
      Some(s"""WITH eq AS (
              |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS nt,
              |    CAST(len(list_distinct(ws)) AS BIGINT) AS nd,
              |    CAST(COALESCE(list_sum(list_transform(ws, t -> length(t))), 0) AS BIGINT) AS sl
              |  FROM (SELECT doc_id, $WS AS ws FROM documents)),
              |sg AS (
              |  SELECT doc_id, least(nt, 4095) AS b1,
              |    CASE WHEN nt = 0 THEN 0 ELSE least(CAST(floor(
              |      CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE) * 4096.0) AS BIGINT), 4095) END AS b2,
              |    CASE WHEN nt = 0 THEN 0 ELSE least(CAST(floor(
              |      CAST(sl AS DOUBLE) / CAST(nt AS DOUBLE) * 100.0) AS BIGINT), 4095) END AS b3
              |  FROM eq),
              |melt AS (
              |  SELECT doc_id, 1 AS sig, b1 AS b FROM sg
              |  UNION ALL SELECT doc_id, 2, b2 FROM sg
              |  UNION ALL SELECT doc_id, 3, b3 FROM sg),
              |cw AS (
              |  SELECT sig, b, CAST(sum(c) OVER (PARTITION BY sig ORDER BY b) AS BIGINT) AS cum
              |  FROM (SELECT sig, b, count(*) AS c FROM melt GROUP BY 1, 2)),
              |nn AS (SELECT count(*) AS n FROM documents)
              |SELECT doc_id, blend, blend >= 0.5 AS keep FROM (
              |  SELECT sg.doc_id,
              |    floor(CAST(c1.cum + c2.cum + c3.cum AS DOUBLE)
              |          / (CAST(nn.n AS DOUBLE) * 3.0) * 1000000 + 0.5) / 1000000 AS blend
              |  FROM sg
              |  JOIN cw c1 ON c1.sig = 1 AND c1.b = sg.b1
              |  JOIN cw c2 ON c2.sig = 2 AND c2.b = sg.b2
              |  JOIN cw c3 ON c3.sig = 3 AND c3.b = sg.b3
              |  CROSS JOIN nn)""".stripMargin)),

    // Signed feature hashing (the HashingTF shape) — fixed-dim sparse doc
    // vectors with NO vocabulary pass: bucket and ±1 sign from independent
    // portable hashes, integer weights summed per (doc, bucket). The
    // vocabulary-free property is what makes it the corpus-scale text
    // featurizer (t_tfidf needs the df table; this needs nothing), and
    // the bridge from the text family to the vector family (hashed
    // vectors feed the ANN/kmeans operators directly). One
    // partial-aggregable O(nnz) shuffle.
    Q("t_hashing_tf",
      (s, dir) => graft.functions.TextFunctions.hashedTf(docsSpread(s, dir), "doc_id", "text", 64),
      Some(s"""SELECT doc_id, bucket, w FROM (
              |  SELECT doc_id,
              |    ('0x' || substr(md5('htf:' || tok), 1, 15))::BIGINT % 64 AS bucket,
              |    CAST(sum(CASE WHEN ('0x' || substr(md5('hsg:' || tok), 1, 15))::BIGINT % 2 = 0
              |             THEN 1 ELSE -1 END) AS BIGINT) AS w
              |  FROM (SELECT doc_id, unnest($WSL) AS tok FROM documents)
              |  WHERE tok <> ''
              |  GROUP BY 1, 2)
              |WHERE w <> 0""".stripMargin)),

    // PII redaction: regexp-rewrite emails to a placeholder. The synthetic
    // corpus is PII-free, so the query PLANTS a deterministic email per doc
    // before redacting — the redaction kernel (pattern + rewrite) is the
    // operator under test, and the planted text makes the check non-vacuous
    // at every SF. The pattern avoids lookaround so the Java-regex engine
    // (Spark) and RE2 (DuckDB) agree byte-for-byte. Output is the md5 of
    // the redacted text plus the match count (regexp_count), not the text
    // itself. Zero shuffle, codegen'd.
    Q("t_redact",
      (s, dir) => {
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com now"))
        val pat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        docs(s, dir).select(col("doc_id"),
          md5(regexp_replace(planted, pat, "<EMAIL>")).as("redacted_md5"),
          regexp_count(planted, lit(pat)).cast("long").as("n_redacted"))
      },
      Some("""SELECT doc_id,
             |  md5(regexp_replace(text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now',
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS redacted_md5,
             |  CAST(len(regexp_extract_all(text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now',
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_redacted
             |FROM documents""".stripMargin)),

    // Leakage-free split: t_split keyed by the near-dup CLUSTER id instead
    // of the doc id, so near-duplicates always land in the same train/val/
    // test bucket (per-doc hashing leaks eval content into train whenever a
    // near-dup pair straddles the split — the contamination t_decontaminate
    // measures). Composition of t_dup_clusters and t_split; same md5
    // assignment, same recursive-CTE oracle for the cluster fixpoint.
    Q("t_split_leakfree",
      (s, dir) => clusteredDocs(s, dir)
        .select(col("doc_id"), col("cluster_id"), splitOf("cluster_id")),
      Some(s"""WITH RECURSIVE $ClusterCtes
              |SELECT doc_id, cluster_id,
              |  ${splitSql("cluster_id")}
              |FROM clustered""".stripMargin)),

    // Repeated-passage removal (C4-style intra-corpus dedup, segment
    // granularity): chunk each doc into fixed 10-token segments, keep only
    // the corpus-FIRST occurrence of every distinct segment (min of
    // doc_id·10⁶+idx — deterministic under any partitioning), report
    // kept/total per doc. One shuffle on the segment fingerprint (groupBy
    // min + hash join back — the window-free shape that scales: no
    // per-fingerprint sort, partial aggregation on both sides). Docs
    // shorter than one segment carry no evidence and drop out on both
    // engines alike. Position encoding doc_id*10^6+idx bounds docs at 10^6
    // segments (10M tokens) and ids at 9.2*10^12 — beyond either, switch
    // the min to a (doc_id, idx) struct ordering. The token array is BOUND
    // as an attribute before the segment transform — a lambda referencing
    // the outer split expression would re-tokenize per segment (the
    // interpreted-HOF trap WordShingles documents).
    Q("t_passage_dedup",
      (s, dir) => {
        val segLen = 10
        val ws = col("__ws")
        val segs = docs(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("__ws"))
          .filter(size(ws) >= segLen)
          .select(col("doc_id"),
            posexplode(transform(
              sequence(lit(0), (size(ws) / segLen).cast("int") - 1),
              i => md5(array_join(slice(ws, i * segLen + 1, lit(segLen)), " ")))))
          .select(col("doc_id"), (col("doc_id") * 1000000L + col("pos")).as("p"),
            col("col").as("fp"))
        val first = segs.groupBy(col("fp")).agg(min(col("p")).as("mp"))
        segs.join(first, Seq("fp"))
          .groupBy(col("doc_id")).agg(
            count(lit(1)).as("n_segments"),
            sum(when(col("p") === col("mp"), 1L).otherwise(0L)).as("n_kept"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, $WS AS ws FROM documents),
              |segs AS (
              |  SELECT doc_id, doc_id * 1000000 + (i - 1) AS p,
              |    md5(array_to_string(ws[(i-1)*10+1 : (i-1)*10+10], ' ')) AS fp
              |  FROM t, unnest(generate_series(1, len(ws) // 10)) AS u(i)
              |  WHERE len(ws) >= 10),
              |first AS (SELECT fp, min(p) AS mp FROM segs GROUP BY fp)
              |SELECT doc_id, count(*) AS n_segments,
              |  CAST(sum(CASE WHEN p = mp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
              |FROM segs JOIN first USING (fp)
              |GROUP BY doc_id""".stripMargin)),

    // Exact duplicated-SPAN detection (character granularity — the
    // substring complement of the segment-level entry above; see
    // graft.dedup.SpanDedup for the method and the 100 TB shape). Every
    // 30-char gram whose portable fingerprint occurs at ≥ 2 corpus
    // locations marks its interval; overlapping/adjacent marks merge into
    // maximal spans via interval-island windows. FULL ORACLE: the
    // md5-prefix gram hash, the island windows, and the BIGINT casts are
    // replayed operation-for-operation in DuckDB.
    Q("t_dup_spans",
      (s, dir) => graft.dedup.SpanDedup.duplicatedSpans(
        docs(s, dir), "doc_id", "text", k = 30, anchorStride = 1, portable = true),
      Some(s"WITH ${SpanCtes(30, 1)}\n" +
        "SELECT doc_id, span_start, span_len FROM spans")),

    // Content-defined ANCHORED variant — the production scale path: only
    // grams with hash ≡ 0 (mod 8) survive as anchors (a function of the
    // gram bytes, so both copies of a duplicated region select identical
    // anchors wherever they sit), cutting the positioned-gram frame ~8×.
    // Recall is span-length-dependent by construction (a span of length L
    // holds L−29 anchor candidates; P[detected] = 1−(7/8)^(L−29)) —
    // SpanDedupSpec quantifies it against the stride-1 truth. Same full
    // oracle, one extra predicate.
    Q("t_dup_spans_anchored",
      (s, dir) => graft.dedup.SpanDedup.duplicatedSpans(
        docs(s, dir), "doc_id", "text", k = 30, anchorStride = 8, portable = true),
      Some(s"WITH ${SpanCtes(30, 8)}\n" +
        "SELECT doc_id, span_start, span_len FROM spans")),

    // Exact substring DEDUP — span surgery: duplicated spans are cut from
    // every document (symmetric removal: ALL occurrences go, so the result
    // is ordering- and partitioning-independent) and the kept segments are
    // stitched back in order. Emits md5(clean) rather than the rebuilt
    // text (value-hash discipline, same as t_redact); pass-through docs
    // report n_spans = 0. The one text-bearing shuffle is the final
    // docs ⋈ segments join on doc_id.
    Q("t_substring_dedup",
      (s, dir) => graft.dedup.SpanDedup.removeDuplicatedSpans(
          docs(s, dir), "doc_id", "text", k = 30, anchorStride = 1, portable = true)
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          col("n_spans"), col("removed_chars")),
      Some(s"""WITH ${SpanCtes(30, 1)},
              |pre AS (
              |  SELECT doc_id,
              |    coalesce(lag(span_start + span_len) OVER (PARTITION BY doc_id ORDER BY span_start), 1) AS st,
              |    span_start AS en
              |  FROM spans),
              |tails AS (
              |  SELECT doc_id, CAST(max(span_start + span_len) AS BIGINT) AS st,
              |    CAST(NULL AS BIGINT) AS en
              |  FROM spans GROUP BY doc_id),
              |segs AS (SELECT * FROM pre UNION ALL SELECT * FROM tails),
              |joined AS (
              |  SELECT d.doc_id, d.text, s.st, coalesce(s.en, length(d.text) + 1) AS en
              |  FROM documents d LEFT JOIN segs s USING (doc_id)),
              |cleaned AS (
              |  SELECT doc_id,
              |    string_agg(CASE WHEN st IS NULL THEN text
              |               ELSE substr(text, st::INT, (en - st)::INT) END,
              |               '' ORDER BY coalesce(st, 0)) AS clean
              |  FROM joined GROUP BY doc_id),
              |stats AS (
              |  SELECT doc_id, count(*) AS n_spans,
              |    CAST(sum(span_len) AS BIGINT) AS removed_chars
              |  FROM spans GROUP BY doc_id)
              |SELECT c.doc_id, md5(c.clean) AS clean_md5,
              |  coalesce(s.n_spans, 0) AS n_spans,
              |  coalesce(s.removed_chars, 0) AS removed_chars
              |FROM cleaned c LEFT JOIN stats s USING (doc_id)""".stripMargin)),

    // Unicode NFC canonicalization (native expression, codegen'd — see
    // graft.expressions.NfcNormalize): canonically-equal text must hash
    // identically before any fingerprint/dedup step. The ASCII corpus is
    // trivially NFC, so the query PLANTS a decomposed suffix ("e" +
    // combining acute, "i" + combining diaeresis) per doc; the oracle is
    // DuckDB's utf8proc-backed nfc_normalize — two independent NFC
    // implementations agreeing byte-for-byte (compared via md5) plus the
    // codepoint shrink 2->1 per combining pair.
    Q("t_nfc_normalize",
      (s, dir) => {
        val planted = concat(col("text"), lit(" café naïve"))
        docs(s, dir).select(col("doc_id"),
          md5(graft.expressions.NfcNormalize(planted)).as("nfc_md5"),
          length(planted).cast("long").as("len_raw"),
          length(graft.expressions.NfcNormalize(planted)).cast("long").as("len_nfc"))
      },
      Some("""SELECT doc_id,
             |  md5(nfc_normalize(text || ' café naïve')) AS nfc_md5,
             |  CAST(length(text || ' café naïve') AS BIGINT) AS len_raw,
             |  CAST(length(nfc_normalize(text || ' café naïve')) AS BIGINT) AS len_nfc
             |FROM documents""".stripMargin)),

    // Deterministic global shuffle into fixed training shards — the
    // curated-corpus → shard-writer step every pretraining pipeline ends
    // with: each doc gets a salted-hash shard (pure per-row map, ZERO
    // shuffle for the assignment) and a position within its shard (the
    // within-shard hash order = the global random permutation restricted to
    // the shard). The within-shard row_number is a window PARTITIONED BY
    // shard: physically `repartition(shard) + sortWithinPartitions(h)` —
    // exactly the shard-writer plan, one shuffle whose partition count is
    // the shard count. At 100 TB the shard count scales with the corpus
    // (2^14+ shards → ~GB-sized sorts per task); there is never a global
    // sort. Full oracle: the md5-prefix hash (portableHash60) is replayed
    // in DuckDB.
    Q("t_shard_shuffle",
      (s, dir) => {
        val nShards = 16L
        val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
        docs(s, dir)
          .select(col("doc_id"),
            portableHash60(concat(lit("shard:"), col("doc_id").cast("string"))).as("h"))
          .withColumn("shard", pmod(col("h"), lit(nShards)))
          .withColumn("pos", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("shard"), col("pos"))
      },
      Some("""WITH hx AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
             |  FROM documents)
             |SELECT doc_id, CAST(h % 16 AS BIGINT) AS shard,
             |  CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS BIGINT) AS pos
             |FROM hx""".stripMargin)),

    // Token-budget mixture sampling — the data-mixing step: each source
    // (domain) gets a token budget; docs are admitted in salted-hash
    // priority order until their START offset passes the budget. The
    // running sum is computed in TWO PHASES so no single source ever needs
    // a global sort: (1) docs are bucketed by the hash's HIGH bits (so
    // (bucket, h) order ≡ h order), per-(source,bucket) token subtotals are
    // prefix-summed on the tiny aggregated frame (sources × ≤256 rows);
    // (2) the exact within-bucket running sum (window per (source,bucket))
    // is added to the broadcast bucket offset. A hot source costs many
    // bucket-sized sorts, never one source-sized sort — the decomposition
    // a 100 TB mixer needs. Budgets are a deterministic salted function of
    // the source name (stand-in for a weights table; a real weights
    // dimension would broadcast identically). Full oracle: DuckDB computes
    // the same admission with ONE flat window per source — the two-phase
    // decomposition must be exactly invisible in the result.
    Q("t_mix_sample",
      (s, dir) => mixSample(docs(s, dir)),
      Some(s"""WITH $MixBaseCte,
              |r AS (
              |  SELECT doc_id, source, n_tokens,
              |    $MixStartOffSql,
              |    CAST(('0x' || substr(md5('budget:' || source), 1, 15))::BIGINT % 800
              |         + 200 AS BIGINT) AS budget
              |  FROM b)
              |SELECT doc_id, source, n_tokens, start_off, budget
              |FROM r WHERE start_off < budget""".stripMargin)),

    // Temperature-scaled mixture sampling — t_mix_sample's selection
    // machinery under DATA-DERIVED budgets: budget_s ∝ √(source token
    // mass) (τ=1/2 temperature sampling, the UniMax/multilingual-mixing
    // shape — big sources down-weighted sub-linearly, never hard-capped).
    // The whole budget derivation is integer arithmetic (see
    // temperatureBudgets), so a SAMPLING POLICY computed from corpus
    // statistics still byte-matches the oracle; the budget frame is
    // sources-sized and broadcasts onto the same two-phase prefix-sum
    // selection.
    Q("t_mix_temperature",
      (s, dir) => mixSample(docs(s, dir),
        budgets = Some(temperatureBudgets(docs(s, dir), 8000L))),
      Some(s"""WITH $MixBaseCte,
              |mw AS (
              |  SELECT source,
              |    CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE))) AS BIGINT) AS w
              |  FROM b GROUP BY source),
              |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM mw),
              |bud AS (SELECT source, CAST(8000 * w // tw AS BIGINT) AS budget FROM mw, tw),
              |r AS (
              |  SELECT doc_id, source, n_tokens,
              |    $MixStartOffSql
              |  FROM b)
              |SELECT r.doc_id, r.source, r.n_tokens, r.start_off, bud.budget
              |FROM r JOIN bud USING (source) WHERE r.start_off < bud.budget""".stripMargin)),

    // Character-trigram LM familiarity — the statistical-LM quality signal
    // (the integer-exact core of a KenLM-style char-model filter): score
    // each doc by how common its character trigrams are in the corpus.
    // familiarity = Σ over the doc's trigram OCCURRENCES of the corpus-wide
    // occurrence count of that trigram (gibberish/mojibake scores low,
    // fluent text high). All counts are BIGINTs — no log/float fold, so
    // the oracle is byte-exact. The scale story is the deploy story of
    // every char-n-gram scorer: the "model" (distinct-trigram count table)
    // is alphabet-bounded (≤ |Σ|³ rows for ASCII), so it broadcasts and
    // the scoring join never shuffles the corpus — but the bound is an
    // ASSUMPTION (CJK corpora blow it), so the broadcast rides the same
    // size-probe guard as decontamination, with a shuffle_hash fallback
    // past the cap (see trigramFamiliarity).
    Q("t_trigram_lm",
      (s, dir) => {
        trigramFamiliarity(lowerTexts(s, dir, "doc_id"), sharedModel = Some(charTrigramModel(s, dir)))
      },
      Some(s"""WITH $CharTrigramCtes
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
             |  CAST(sum(c.c) AS BIGINT) AS familiarity
             |FROM tri JOIN c USING (g) GROUP BY doc_id""".stripMargin)),

    // DSIR importance weights (hashed-n-gram importance resampling — see
    // graft.operators.DsirWeights for the estimator and the 100 TB
    // shape): target distribution = the English slice, raw = the rest;
    // every doc scores sum over its uni+bigrams of the smoothed
    // target/raw bucket log-ratio. FULL ORACLE: the md5 bucket fold, the
    // one-pass two-split bucket counts, and the per-bucket micro-long
    // rounding replay exactly in DuckDB (the cross-row sum is integer
    // arithmetic by construction — see the operator's exactness note).
    Q("t_dsir_weights",
      (s, dir) => graft.operators.DsirWeights.logImportanceWeights(
        docs(s, dir), "doc_id", "text", col("lang") === "en", buckets = 1024),
      Some(s"""WITH tok AS (
              |  SELECT doc_id, lang = 'en' AS tgt,
              |    string_split_regex(trim(lower(text)), '\\s+') AS ws
              |  FROM documents),
              |gr AS (
              |  SELECT doc_id, tgt,
              |    unnest(ws || list_transform(generate_series(1, len(ws) - 1),
              |                                i -> ws[i] || ' ' || ws[i+1])) AS g
              |  FROM tok),
              |bk AS (
              |  SELECT doc_id, tgt,
              |    ('0x' || substr(md5('dsir:' || g), 1, 15))::BIGINT % 1024 AS bkt
              |  FROM gr),
              |stats AS (
              |  SELECT bkt,
              |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
              |    sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
              |  FROM bk GROUP BY bkt),
              |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM stats),
              |bw AS (
              |  SELECT bkt,
              |    CAST(floor((ln((CAST(ct AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + 1024.0)) -
              |                ln((CAST(cr AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 1024.0))) * 1e6 + 0.5)
              |         AS BIGINT) AS wmicro
              |  FROM stats, tot)
              |SELECT bk.doc_id, count(*) AS n_grams,
              |  CAST(CAST(sum(bw.wmicro) AS BIGINT) AS DOUBLE) / 1e6 AS logw
              |FROM bk JOIN bw USING (bkt) GROUP BY bk.doc_id""".stripMargin)),

    // RAG-style document chunking: fixed-size character windows (400 chars,
    // stride 300 → 100-char overlap) with stable chunk ids, per-chunk
    // lengths and token counts, and a 16-char head that byte-pins the
    // window alignment — the retrieval-prep sibling of SequencePack's
    // training-side packing. Pure per-row explode + substring: zero
    // shuffles, embarrassingly parallel at any corpus size; the output
    // carries offsets, not text, so chunking 100 TB emits a slim index
    // (chunk bodies re-derive from (doc_id, start) on demand).
    Q("t_chunking",
      (s, dir) => {
        val sizeC = 400
        val stride = 300
        docs(s, dir).select(col("doc_id"), col("text"))
          .withColumn("start",
            explode(sequence(lit(0), greatest(length(col("text")) - 1, lit(0)), lit(stride))))
          .withColumn("chunk", col("text").substr(col("start") + 1, lit(sizeC)))
          .select(col("doc_id"),
            (col("start") / stride).cast("long").as("chunk_id"),
            col("start").cast("long").as("start"),
            length(col("chunk")).cast("long").as("chunk_len"),
            tokenCount(col("chunk")).as("n_tokens"),
            substring(col("chunk"), 1, 16).as("chunk_head"))
      },
      Some("""SELECT doc_id,
             |  CAST(start / 300 AS BIGINT) AS chunk_id,
             |  CAST(start AS BIGINT) AS start,
             |  CAST(length(chunk) AS BIGINT) AS chunk_len,
             |  CAST(len(string_split_regex(trim(chunk), '\s+')) AS BIGINT) AS n_tokens,
             |  substr(chunk, 1, 16) AS chunk_head
             |FROM (
             |  SELECT doc_id, start, substr(text, start + 1, 400) AS chunk
             |  FROM (SELECT doc_id, text,
             |          unnest(generate_series(0, greatest(length(text) - 1, 0), 300)) AS start
             |        FROM documents))""".stripMargin)),

    // Corpus snapshot diff — the dataset-versioning primitive between
    // crawls/releases: content-addressed (portable md5-prefix fingerprint,
    // not timestamps) added/removed/changed per id; unchanged ids emit
    // nothing, so the output is delta-sized. The two "snapshots" here are
    // deterministic views of the documents table (ids ≡3 mod 7 absent
    // from prev → added; ids ≡4 mod 11 absent from cur → removed; ids ≡0
    // mod 5 carry a stale suffix in prev → changed) so both engines
    // replay identical snapshots and every status is exercised at every
    // scale factor. Scale shape: snapshots collapse to (id, hash) before
    // the full-outer id join — two longs per doc cross the shuffle, never
    // the text.
    Q("t_corpus_diff",
      (s, dir) => {
        val d = docs(s, dir)
        val prev = d.filter(col("doc_id") % 7 =!= 3)
          .withColumn("text", when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" [stale]"))).otherwise(col("text")))
        val cur = d.filter(col("doc_id") % 11 =!= 4)
        graft.operators.CorpusDiff.diff(prev, cur, "doc_id", "text")
      },
      Some("""WITH prev AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN text || ' [stale]' ELSE text END AS text
             |  FROM documents WHERE doc_id % 7 <> 3),
             |cur AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 4),
             |j AS (
             |  SELECT doc_id, p.fp AS fp_prev, c.fp AS fp_cur
             |  FROM (SELECT doc_id, ('0x' || substr(md5(
             |          CASE WHEN text IS NULL THEN '0' ELSE '1' || text END), 1, 15))::BIGINT AS fp FROM prev) p
             |  FULL OUTER JOIN
             |       (SELECT doc_id, ('0x' || substr(md5(
             |          CASE WHEN text IS NULL THEN '0' ELSE '1' || text END), 1, 15))::BIGINT AS fp FROM cur) c
             |  USING (doc_id))
             |SELECT doc_id, status, fp_prev, fp_cur FROM (
             |  SELECT doc_id, fp_prev, fp_cur,
             |    CASE WHEN fp_prev IS NULL THEN 'added'
             |         WHEN fp_cur IS NULL THEN 'removed'
             |         WHEN fp_prev <> fp_cur THEN 'changed' END AS status
             |  FROM j)
             |WHERE status IS NOT NULL""".stripMargin)),

    // Quality-priority dedup survivor selection: within each near-dup
    // CLUSTER (t_dup_clusters' connected components) keep the HIGHEST-
    // QUALITY member, not the min-id one — what a curation pipeline
    // actually wants when duplicates differ in boilerplate/truncation.
    // Ordering uses the 6-dp-ROUNDED quality (the oracle-exact image both
    // engines agree on byte-for-byte) with the id as tiebreak, so survivor
    // choice is deterministic and engine-independent. Both window
    // functions share one (cluster_id) partitioning — a single shuffle,
    // partition count = cluster count (clusters are near-dup groups,
    // bounded small by construction). Full oracle: recursive-CTE cluster
    // fixpoint + the t_quality scoring expression + the same window.
    Q("t_best_of_cluster",
      (s, dir) => {
        // qualityScore already returns the 6-dp-rounded (oracle-exact) value
        val q = docs(s, dir).select(col("doc_id"),
          qualityScore(col("text")).as("quality"))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id").asc)
        clusteredDocs(s, dir).join(q, "doc_id")
          .withColumn("rn", row_number().over(w))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy(col("cluster_id"))).cast("long"))
          .filter(col("rn") === 1)
          .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
            col("quality"), col("n_members"))
      },
      Some(s"""WITH RECURSIVE $ClusterCtes,
              |ql AS (
              |  SELECT doc_id, $QualitySql AS quality
              |  FROM (SELECT doc_id, text, $WS AS ws FROM documents)),
              |jc AS (
              |  SELECT c.cluster_id, c.doc_id, ql.quality
              |  FROM clustered c JOIN ql USING (doc_id))
              |SELECT cluster_id, doc_id AS keep_doc_id, quality, n_members FROM (
              |  SELECT cluster_id, doc_id, quality,
              |    row_number() OVER (PARTITION BY cluster_id
              |                       ORDER BY quality DESC, doc_id) AS rn,
              |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
              |  FROM jc) WHERE rn = 1""".stripMargin)),

    // Cross-source overlap matrix — the inter-dataset contamination audit
    // run before mixing corpora into a training blend: for every source
    // pair, the jaccard between the sources' distinct 3-shingle SETS (how
    // much of one feed is already in another — mirror detection, scraped
    // re-posts, vendor overlap). Distinct from t_decontaminate (train vs
    // one eval suite): this is all-pairs over the source dimension.
    // Scale shape: one shingle explode collapses to DISTINCT (source,
    // shingle) rows — the only corpus-sized shuffle, partial-aggregable;
    // the self-join fans out per shingle by the number of sources sharing
    // it (bounded by the source count, typically dozens), never by df; the
    // result is sources² rows.
    Q("t_source_overlap",
      (s, dir) => {
        val ss = docs(s, dir).select(col("source"),
            explode(array_distinct(shingles(col("text"), 3))).as("s"))
          .distinct()
        val n = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
        ss.as("x").join(ss.as("y"),
            col("x.s") === col("y.s") && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
          .agg(count(lit(1)).as("inter"))
          .join(n.select(col("source").as("src_a"), col("n").as("na")), "src_a")
          .join(n.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
          .select(col("src_a"), col("src_b"), col("inter"),
            graft.operators.RelationalOps.round6(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")).cast("double"))
              .as("jaccard"))
      },
      Some(s"""WITH ss AS (
              |  SELECT DISTINCT source, s FROM (
              |    SELECT source, unnest(list_distinct($Shingles3)) AS s
              |    FROM (SELECT source, $WS AS ws FROM documents))),
              |ns AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
              |iv AS (
              |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS inter
              |  FROM ss x JOIN ss y ON x.s = y.s AND x.source < y.source
              |  GROUP BY 1, 2)
              |SELECT src_a, src_b, inter,
              |  floor(CAST(inter AS DOUBLE) / (na.n + nb.n - inter)
              |        * 1000000 + 0.5) / 1000000 AS jaccard
              |FROM iv JOIN ns na ON src_a = na.source
              |        JOIN ns nb ON src_b = nb.source""".stripMargin)),

    // Per-source data card — the release-notes table shipped with every
    // corpus drop (dataset-card staple): per source, document and token
    // mass, language spread, and the dominant language with its share
    // inputs. All exact integers (sums, counts, an argmax with the
    // lexicographic tiebreak), so the card a reader audits is
    // byte-reproducible in any engine. One corpus scan: a per-source
    // partial aggregate + a (source, lang)-grained count whose argmax
    // window runs on the aggregated (sources x langs) frame, never rows.
    Q("t_data_card",
      (s, dir) => {
        val d = docs(s, dir)
        val base = d.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).cast("long").as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        val lc = d.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("lang"))
        val top = lc.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("source"), col("lang").as("top_lang"),
            col("n").as("top_lang_n"))
        base.join(top, Seq("source"))
      },
      Some(s"""WITH base AS (
              |  SELECT source, count(*) AS n_docs,
              |    CAST(sum(len($WS)) AS BIGINT) AS n_tokens,
              |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
              |  FROM documents GROUP BY source),
              |lc AS (SELECT source, lang, count(*) AS n
              |       FROM documents GROUP BY 1, 2),
              |top AS (
              |  SELECT source, lang AS top_lang, n AS top_lang_n FROM (
              |    SELECT source, lang, n,
              |      row_number() OVER (PARTITION BY source
              |        ORDER BY n DESC, lang) AS rn
              |    FROM lc) WHERE rn = 1)
              |SELECT b.source, b.n_docs, b.n_tokens, b.n_langs,
              |  t.top_lang, t.top_lang_n
              |FROM base b JOIN top t USING (source)""".stripMargin)),

    // Incrementally-maintained data card — the additive half of t_data_card
    // (doc counts, token mass per source) kept as a persisted view through
    // operators.IncrementalRollup: per-release batches fold in O(batch),
    // the corpus is never rescanned, and a redelivered batch is a ledger
    // no-op (the build below re-applies batch 0 to prove it). The oracle is
    // the one-shot aggregate over the full table — a byte match IS the
    // incremental ≡ one-shot proof, the h_day_rollup_incremental discipline
    // applied to release reporting. (Non-additive card columns — distinct
    // langs, top lang — stay on the one-shot t_data_card.)
    Q("t_data_card_incremental",
      (s, dir) => {
        val work = Q.workDir(s, "dcard", dir)
        val d = docs(s, dir).select(col("source"), col("doc_id"),
          tokenCount(col("text")).as("tok"))
        val keys = Seq("source")
        val even = d.where(pmod(col("doc_id"), lit(2)) === 0).drop("doc_id")
        val odd = d.where(pmod(col("doc_id"), lit(2)) === 1).drop("doc_id")
        graft.operators.IncrementalRollup.applyBatch(s, work, even, 0L, keys, "tok")
        graft.operators.IncrementalRollup.applyBatch(s, work, odd, 1L, keys, "tok")
        graft.operators.IncrementalRollup.applyBatch(s, work, even, 0L, keys, "tok")
        graft.operators.IncrementalRollup.read(s, work, "n_tokens")
          .select(col("source"), col("n").as("n_docs"), col("n_tokens"))
      },
      Some(s"""SELECT source, count(*) AS n_docs,
              |  CAST(CAST(SUM(CAST(len($WS) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS n_tokens
              |FROM documents GROUP BY source""".stripMargin)),

    // Per-(source, release) data-card drilldown — what a curation org
    // actually reads: the card's additive columns kept as HISTORY across
    // releases, not one collapsed row per source. Each release arrives as
    // its own IncrementalRollup batch (release = doc_id % 3 — the batch
    // boundary IS the release boundary), keyed by (source, release) so a
    // new release folds in O(release) and past releases are never
    // recomputed; the redelivered batch proves ledger idempotence. Oracle
    // = the one-shot two-key aggregate over the full corpus.
    Q("t_data_card_by_release",
      (s, dir) => {
        val work = Q.workDir(s, "dcardrel", dir)
        val d = docs(s, dir).select(col("source"),
          pmod(col("doc_id"), lit(3)).as("release"),
          col("doc_id"), tokenCount(col("text")).as("tok"))
        val keys = Seq("source", "release")
        (0L until 3L).foreach { r =>
          graft.operators.IncrementalRollup.applyBatch(s, work,
            d.where(col("release") === r).drop("doc_id"), r, keys, "tok")
        }
        // redelivery of release 1 must be a ledger no-op
        graft.operators.IncrementalRollup.applyBatch(s, work,
          d.where(col("release") === 1).drop("doc_id"), 1L, keys, "tok")
        graft.operators.IncrementalRollup.read(s, work, "n_tokens")
          .select(col("source"), col("release"),
            col("n").as("n_docs"), col("n_tokens"))
      },
      Some(s"""SELECT source, doc_id % 3 AS release, count(*) AS n_docs,
              |  CAST(CAST(SUM(CAST(len($WS) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS n_tokens
              |FROM documents GROUP BY 1, 2""".stripMargin)),

    // Label propagation over the near-dup graph — semi-supervised label
    // spreading (clamped-seed synchronous majority LPA): every 5th doc is
    // "hand-labeled" with its lang; LpRounds rounds spread those labels
    // through the exact-jaccard edges; unreached docs surface as NULL (the
    // needs-human-review set). Completes the graph family: CC = membership,
    // PageRank = centrality, LPA = class. Integer vote counts with a
    // lexicographic label tiebreak make every round engine-exact — the
    // oracle unrolls each round (the KMeans/PageRank discipline).
    Q("t_label_prop",
      (s, dir) => {
        val seeds = docs(s, dir)
          .filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id"), col("lang").as("label"))
        val labeled = graft.operators.LabelProp.propagate(
          jaccardPairs(s, dir).select(col("a_id"), col("b_id")),
          seeds, rounds = LpRounds)
        docs(s, dir).select(col("doc_id"))
          .join(labeled, Seq("doc_id"), "left")
          .select(col("doc_id"), col("label"))
      },
      Some(s"""WITH $LabelPropCtes
              |SELECT d.doc_id, l.label
              |FROM documents d LEFT JOIN ll$LpRounds l USING (doc_id)""".stripMargin)),

    // CCNet-style perplexity bucketing: score every doc under the corpus
    // trigram LM (t_trigram_lm's familiarity — the monotone inverse of
    // perplexity), then split each LANGUAGE into head / middle / tail
    // thirds by per-lang familiarity terciles, the way CCNet partitions
    // Common Crawl by KenLM perplexity before choosing which thirds to
    // train on. Everything is integer-exact: the per-doc score is
    // familiarity-per-trigram on a 2^20 fixed-point grid ((fam << 20) div
    // n_trigrams — fam*2^20 fits int64 while corpus trigram volume is
    // < 2^43; promote to DECIMAL(38,0) past that), and the tercile
    // thresholds are type-1 quantiles read off the (lang, score) VALUE
    // HISTOGRAM (t_quantile_hist's shape: the only corpus-sized op is the
    // partial-aggregable histogram shuffle; the cumulative window runs on
    // the histogram, and the 5-row threshold frame broadcasts back for a
    // map-side bucket stamp — no per-lang global sort of the corpus, the
    // op that dies first at 100 TB).
    Q("t_ccnet_buckets",
      (s, dir) => {
        val d0 = lowerTexts(s, dir, "doc_id", "lang")
        // MATERIALIZED once (eager localCheckpoint, the trigramFamiliarity
        // discipline): the scored frame feeds BOTH the threshold histogram
        // and the final bucket stamp — left lazy, Spark re-runs the whole
        // corpus-sized trigram scoring join for each consumer (measured 2×
        // t_trigram_lm at sf10, 52 s vs 26 s; checkpointed it is + ε).
        // Three narrow columns per doc — the frame a 100 TB run would
        // persist anyway as the scoring output.
        val scored = trigramFamiliarity(d0.select(col("doc_id"), col("t")),
            sharedModel = Some(charTrigramModel(s, dir)))
          .join(d0.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"),
            expr("CAST((familiarity * 1048576L) DIV n_trigrams AS BIGINT)").as("score_q"))
          .localCheckpoint()
        val hist = scored.groupBy(col("lang"), col("score_q")).agg(count(lit(1)).as("c"))
        val byScore = Window.partitionBy(col("lang")).orderBy(col("score_q"))
        val cum = hist.withColumn("cum", sum(col("c")).over(byScore))
          .join(scored.groupBy(col("lang")).agg(count(lit(1)).as("n")), Seq("lang"))
        val th = cum.groupBy(col("lang")).agg(
          min(when(col("cum") * 3 >= col("n"), col("score_q"))).as("t1"),
          min(when(col("cum") * 3 >= col("n") * 2, col("score_q"))).as("t2"))
        scored.join(broadcast(th), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("score_q"),
            when(col("score_q") <= col("t1"), "tail")
              .when(col("score_q") <= col("t2"), "middle")
              .otherwise("head").as("bucket"))
      },
      Some(s"""WITH $CharTrigramCtes,
             |fam AS (
             |  SELECT doc_id, count(*) AS n_trigrams, CAST(sum(c.c) AS BIGINT) AS familiarity
             |  FROM tri JOIN c USING (g) GROUP BY doc_id),
             |sc AS (
             |  SELECT f.doc_id, d.lang,
             |    CAST((f.familiarity * 1048576) // f.n_trigrams AS BIGINT) AS score_q
             |  FROM fam f JOIN documents d USING (doc_id)),
             |hist AS (SELECT lang, score_q, count(*) AS c FROM sc GROUP BY 1, 2),
             |cum AS (
             |  SELECT lang, score_q,
             |    sum(c) OVER (PARTITION BY lang ORDER BY score_q) AS cum
             |  FROM hist),
             |n AS (SELECT lang, count(*) AS n FROM sc GROUP BY 1),
             |th AS (
             |  SELECT lang,
             |    min(CASE WHEN cum * 3 >= n THEN score_q END) AS t1,
             |    min(CASE WHEN cum * 3 >= 2 * n THEN score_q END) AS t2
             |  FROM cum JOIN n USING (lang) GROUP BY lang)
             |SELECT sc.doc_id, sc.lang, sc.score_q,
             |  CASE WHEN sc.score_q <= th.t1 THEN 'tail'
             |       WHEN sc.score_q <= th.t2 THEN 'middle'
             |       ELSE 'head' END AS bucket
             |FROM sc JOIN th USING (lang)""".stripMargin)),

    // Collocation mining: adjacent word pairs that co-occur far more often
    // than their unigram frequencies predict (the PMI/lift signal tokenizer
    // and vocab builders use to promote multi-word units). The lift test
    // `c_xy / (c_x/N · c_y/N · N) >= L` is evaluated CROSS-MULTIPLIED —
    // `c_xy·N >= L·c_x·c_y`, all BIGINT, no float ratio anywhere — with a
    // min-count floor to kill one-off pairs. Bound: c_xy·N <= N², so int64
    // holds to ~3e9 bigrams per corpus slice; shard by language (the
    // natural collocation scope anyway) or promote to DECIMAL(38,0) past
    // that. Shape at scale: two partial-aggregable token shuffles (bigram
    // and unigram counts — both vocab-bounded outputs), the unigram side
    // joined back under the trigram-model guard discipline (broadcast
    // while provably small, shuffle_hash past the cap), and a 1-row
    // total-bigrams broadcast. No corpus-sized sort, no window.
    Q("t_collocations",
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), tokens(lower(col("text"))).as("ws"))
        val bg = d.filter(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(ws) - 1), " +
              "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))")).as("b"))
          .select(col("b.w1"), col("b.w2"))
        val cxy = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
        val uni = d.select(explode(col("ws")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c")).localCheckpoint()
        val u = RelationalOps.guardedBroadcast(uni,
          uni.count() > RelationalOps.MaxBroadcastRows)
        val nB = cxy.agg(sum(col("c_xy")).as("n_bigrams"))
        cxy
          .join(u.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
          .join(u.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
          .join(broadcast(nB), lit(true), "left")
          .filter(col("c_xy") >= 3 &&
            col("c_xy") * col("n_bigrams") >= lit(2L) * col("c1") * col("c2"))
          .select(col("w1"), col("w2"), col("c_xy"), col("c1"), col("c2"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $WSL AS ws FROM documents),
              |bg AS (
              |  SELECT ws[i] AS w1, ws[i+1] AS w2
              |  FROM t, unnest(generate_series(1, len(ws) - 1)) AS u(i)
              |  WHERE len(ws) >= 2),
              |cxy AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2),
              |uni AS (
              |  SELECT w, count(*) AS c
              |  FROM (SELECT unnest(ws) AS w FROM t) GROUP BY 1),
              |nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bigrams FROM cxy)
              |SELECT cxy.w1, cxy.w2, cxy.c_xy, u1.c AS c1, u2.c AS c2
              |FROM cxy JOIN uni u1 ON cxy.w1 = u1.w
              |         JOIN uni u2 ON cxy.w2 = u2.w, nb
              |WHERE c_xy >= 3 AND c_xy * n_bigrams >= 2 * u1.c * u2.c""".stripMargin)),

    // Mixture budget allocation (see graft.operators.Waterfill for the
    // method, exactness and scale notes): derive per-source quotas for a
    // token/doc budget of HALF the corpus by max-min-fair water-filling
    // over the per-source census. This is the design step upstream of
    // t_mix_sample / t_mix_temperature — those consume quotas, this
    // computes them. Oracle replays the same sorted-prefix closed form
    // with the same integer divisions and the same source-name remainder
    // rule.
    Q("t_mix_waterfill",
      (s, dir) => {
        val census = docs(s, dir).groupBy(col("source"))
          .agg(count(lit(1)).as("avail"))
        graft.operators.Waterfill.allocate(
          census, "source", "avail", expr("sum(avail) DIV 2"))
      },
      Some("""WITH census AS (SELECT source, count(*) AS avail FROM documents GROUP BY 1),
             |b AS (SELECT (SELECT count(*) FROM documents) // 2 AS budget,
             |             (SELECT count(*) FROM census) AS n),
             |rows_ AS (
             |  SELECT source, avail,
             |    row_number() OVER (ORDER BY avail, source) AS i,
             |    coalesce(sum(avail) OVER (ORDER BY avail, source
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
             |    b.budget, b.n
             |  FROM census, b),
             |r2 AS (SELECT *, n - i + 1 AS m,
             |         (budget - cum_prev) // (n - i + 1) AS ti FROM rows_),
             |cut AS (
             |  SELECT i AS k, ti AS tstar, budget - cum_prev - ti * (n - i + 1) AS rem
             |  FROM r2 WHERE ti < avail ORDER BY i LIMIT 1),
             |j AS (
             |  SELECT r2.*, cut.k, cut.tstar, cut.rem,
             |    (cut.k IS NOT NULL AND r2.i >= cut.k) AS capped
             |  FROM r2 LEFT JOIN cut ON true),
             |rk AS (
             |  SELECT *, row_number() OVER (PARTITION BY capped ORDER BY source) AS rnk
             |  FROM j)
             |SELECT source, CAST(avail AS BIGINT) AS avail,
             |  CAST(CASE WHEN NOT capped THEN avail
             |            ELSE tstar + CASE WHEN rnk <= rem THEN 1 ELSE 0 END END AS BIGINT) AS alloc
             |FROM rk""".stripMargin)),

    // Vocabulary growth (the Heaps-law readout): cumulative distinct-term
    // count over ingest order, binned into doc-id deciles — the corpus-
    // CUMULATIVE complement of t_novelty's per-doc new-gram ratio, and the
    // statistic that sizes a tokenizer vocab and flags a saturating (or
    // suspiciously still-linear ⇒ noise-dominated) corpus. Shape at scale:
    // each term is collapsed to its FIRST doc by a partial-aggregable
    // min() shuffle (the min combiner does the work map-side; the exchange
    // carries one row per distinct term), buckets are a map-side integer
    // expression against a broadcast 1-row max-id, and the cumulative
    // window runs on the 10-row decile rollup — never on the corpus.
    Q("t_vocab_growth",
      (s, dir) => {
        val d = docs(s, dir)
        val first = d
          .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
          .groupBy(col("term")).agg(min(col("doc_id")).as("fd"))
        first.join(broadcast(d.agg(max(col("doc_id")).as("mx"))), lit(true), "left")
          .select(expr("(fd * 10) DIV (mx + 1)").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("new_terms"))
          .withColumn("cum_vocab",
            sum(col("new_terms")).over(Window.orderBy(col("bucket"))))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($WSL) AS term FROM documents),
              |first_ AS (SELECT term, min(doc_id) AS fd FROM tok GROUP BY 1),
              |mx AS (SELECT max(doc_id) AS mx FROM documents),
              |g AS (
              |  SELECT (fd * 10) // (mx + 1) AS bucket, count(*) AS new_terms
              |  FROM first_, mx GROUP BY 1)
              |SELECT bucket, new_terms,
              |  CAST(sum(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
              |FROM g""".stripMargin)),

    // Zipf power-law fit per source: OLS slope of ln(freq) on ln(rank)
    // over the top-100 bigrams — the corpus-health statistic that flags a
    // machine-generated or template-heavy source (slope far from ≈ −1) in
    // one number. All four regression moments ride ONE partial-aggregable
    // shuffle as fixed-point BIGINTs (floor(·×1e9) — order-insensitive, the
    // bm25-oracle discipline), so the fit is exact and engine-portable; the
    // rank window runs on the (source, gram) count frame, which is
    // vocabulary-bounded, never corpus-bounded.
    Q("t_zipf_fit",
      (s, dir) => {
        val tf = docs(s, dir)
          .select(col("source"), explode(shingles(col("text"), 2)).as("gram"))
          .groupBy(col("source"), col("gram")).agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("tf").desc, col("gram").asc)
        val top = tf.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 100)
          .select(col("source"),
            log(col("rnk").cast("double")).as("x"),
            log(col("tf").cast("double")).as("y"))
        val sums = top.groupBy(col("source")).agg(
          count(lit(1)).as("n"),
          sum(floor(col("x") * lit(1e9)).cast("long")).as("sx"),
          sum(floor(col("y") * lit(1e9)).cast("long")).as("sy"),
          sum(floor(col("x") * col("y") * lit(1e9)).cast("long")).as("sxy"),
          sum(floor(col("x") * col("x") * lit(1e9)).cast("long")).as("sxx"))
        val den = ((col("n").cast("double") * (col("sxx").cast("double") / lit(1e9)))
          - (col("sx").cast("double") / lit(1e9)) * (col("sx").cast("double") / lit(1e9)))
        sums.select(col("source"), col("n").as("n_grams"),
          when(den === 0.0, lit(0.0)).otherwise(
            graft.operators.RelationalOps.round6(
              ((col("n").cast("double") * (col("sxy").cast("double") / lit(1e9)))
                - (col("sx").cast("double") / lit(1e9)) * (col("sy").cast("double") / lit(1e9)))
              / den)).as("zipf_slope"))
      },
      Some(s"""WITH hd AS (SELECT source, $WS AS ws FROM documents),
              |tok AS (SELECT source, unnest($Shingles2) AS gram FROM hd),
              |tf AS (SELECT source, gram, count(*) AS tf FROM tok GROUP BY 1, 2),
              |rk AS (SELECT source, gram, tf, row_number() OVER (
              |         PARTITION BY source ORDER BY tf DESC, gram ASC) AS rnk FROM tf),
              |top AS (SELECT source, ln(CAST(rnk AS DOUBLE)) AS x,
              |          ln(CAST(tf AS DOUBLE)) AS y FROM rk WHERE rnk <= 100),
              |sums AS (SELECT source, count(*) AS n,
              |    sum(CAST(floor(x*1e9) AS BIGINT)) AS sx,
              |    sum(CAST(floor(y*1e9) AS BIGINT)) AS sy,
              |    sum(CAST(floor(x*y*1e9) AS BIGINT)) AS sxy,
              |    sum(CAST(floor(x*x*1e9) AS BIGINT)) AS sxx
              |  FROM top GROUP BY 1)
              |SELECT source, CAST(n AS BIGINT) AS n_grams,
              |  CASE WHEN (CAST(n AS DOUBLE)*(CAST(sxx AS DOUBLE)/1e9)
              |             - (CAST(sx AS DOUBLE)/1e9)*(CAST(sx AS DOUBLE)/1e9)) = 0.0 THEN 0.0
              |       ELSE floor(((CAST(n AS DOUBLE)*(CAST(sxy AS DOUBLE)/1e9)
              |          - (CAST(sx AS DOUBLE)/1e9)*(CAST(sy AS DOUBLE)/1e9)) /
              |         (CAST(n AS DOUBLE)*(CAST(sxx AS DOUBLE)/1e9)
              |          - (CAST(sx AS DOUBLE)/1e9)*(CAST(sx AS DOUBLE)/1e9))) * 1000000 + 0.5) / 1000000 END AS zipf_slope
              |FROM sums""".stripMargin)),

    // KMV (k-minimum-values) distinct-count sketch per source, over
    // trigram shingles — the DETERMINISTIC counterpart to the HLL entry
    // (t_approx_distinct is rows-only by nature; this one is full-oracle
    // because the k smallest portable hashes are an exact, order-free
    // statistic). Estimator: (k−1)·|H|/h₍k₎, degenerating to the exact
    // count when a source holds fewer than k distinct hashes. The window
    // ranks the DISTINCT (source, hash) frame — vocabulary-bounded; the
    // exact_distinct column rides the same frame, making every row
    // self-auditing (estimate vs truth). State at 100 TB: k=64 longs per
    // source, mergeable by construction.
    Q("t_kmv_distinct",
      (s, dir) => {
        // dt feeds BOTH the hash ranking and the exact census — materialize
        // once (×100 exposed the 2× corpus recompute, the ccnet lesson; the
        // frame is distinct (source, gram) — vocabulary-bounded)
        val dt = docs(s, dir)
          .select(col("source"), explode(shingles(col("text"), 3)).as("g"))
          .distinct()
          .localCheckpoint(true)
        val h = dt.select(col("source"),
          portableHash60(concat(lit("kmv:"), col("g"))).as("hv")).distinct()
        val kth = kmvKth(h)
        val ex = dt.groupBy(col("source")).agg(count(lit(1)).as("exact_distinct"))
        kth.join(ex, "source").select(col("source"), col("k"),
          kmvEstimate.as("est_distinct"),
          col("exact_distinct"))
      },
      Some(s"""WITH hd AS (SELECT source, $WS AS ws FROM documents),
              |dt AS (SELECT DISTINCT source, g FROM
              |        (SELECT source, unnest($Shingles3) AS g FROM hd)),
              |h AS (SELECT DISTINCT source,
              |        ('0x' || substr(md5('kmv:' || g), 1, 15))::BIGINT AS hv FROM dt),
              |$KmvKthCtes,
              |ex AS (SELECT source, count(*) AS exact_distinct FROM dt GROUP BY 1)
              |SELECT source, CAST(k AS BIGINT) AS k,
              |  $KmvEstimateSql AS est_distinct,
              |  exact_distinct
              |FROM kth JOIN ex USING (source)""".stripMargin)),

    // Exact phrase search over POSITIONAL postings — the operator a fixed-k
    // shingle cannot generalize: the same doc_id ⋈ (pos+offset) postings
    // intersection answers any phrase length (and, with relaxed offsets,
    // any slop). The query phrase is the corpus's top trigram (freq DESC,
    // gram ASC — deterministic, the bm25-qt discipline), carried as a
    // broadcast 1-row frame. Each phrase-term leg filters the postings to
    // ONE term before the position joins, so the joins carry
    // candidate-sized frames; at 100 TB the postings come from the
    // persisted RetrievalIndex instead of a transient posexplode, and the
    // plan below is unchanged from the first join on.
    Q("t_phrase_search",
      (s, dir) => {
        val post = postings(s, dir)
        val ph = docs(s, dir)
          .select(explode(shingles(lower(col("text")), 3)).as("g"))
          .groupBy(col("g")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("g").asc).limit(1)
          .select(split(col("g"), " ").as("wd"))
          .select(element_at(col("wd"), 1).as("w1"),
            element_at(col("wd"), 2).as("w2"), element_at(col("wd"), 3).as("w3"))
        // ONE postings pass: join the broadcast 3-row (role, term) frame,
        // materialize the matched (tiny) postings, then cut the three legs
        // from it — the naive three term-filtered legs each re-exploded the
        // corpus (measured 18× instead of ~4× at the ×10 scale-up)
        val phRows = ph.select(explode(array(
            struct(lit(1L).as("role"), col("w1").as("term")),
            struct(lit(2L).as("role"), col("w2").as("term")),
            struct(lit(3L).as("role"), col("w3").as("term")))).as("rt"))
          .select(col("rt.role").as("role"), col("rt.term").as("term"))
        val matched = post.join(broadcast(phRows), "term")
          .select(col("doc_id"), col("p"), col("role"))
          .localCheckpoint(true)
        val p1 = matched.filter(col("role") === 1L).select(col("doc_id"), col("p"))
        val p2 = matched.filter(col("role") === 2L)
          .select(col("doc_id").as("d2"), col("p").as("pb"))
        val p3 = matched.filter(col("role") === 3L)
          .select(col("doc_id").as("d3"), col("p").as("pc"))
        p1.join(p2, col("d2") === col("doc_id") && col("pb") === col("p") + 1)
          .join(p3, col("d3") === col("doc_id") && col("pc") === col("p") + 2)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_occ"), min(col("p")).as("first_pos"))
      },
      Some(s"""WITH $PostingsCtes,
              |tg AS (SELECT g, count(*) AS c FROM
              |        (SELECT unnest($Shingles3) AS g FROM hd)
              |       GROUP BY 1 ORDER BY c DESC, g ASC LIMIT 1),
              |ph AS (SELECT string_split(g, ' ') AS wd FROM tg),
              |m AS (
              |  SELECT p1.doc_id, p1.p
              |  FROM post p1, post p2, post p3, ph
              |  WHERE p2.doc_id = p1.doc_id AND p3.doc_id = p1.doc_id
              |    AND p2.p = p1.p + 1 AND p3.p = p1.p + 2
              |    AND p1.term = wd[1] AND p2.term = wd[2] AND p3.term = wd[3])
              |SELECT doc_id, count(*) AS n_occ, min(p) AS first_pos
              |FROM m GROUP BY 1""".stripMargin)),

    // Proximity (slop) search: the two highest-frequency corpus terms
    // co-occurring within 5 positions — the positional-postings shape that
    // no bag-of-words statistic can express (order-free window
    // containment). Same leg discipline as t_phrase_search: each term's
    // postings are filtered before the doc_id equi-join (the range
    // predicate |pa−pb| ≤ 5 rides the join as a residual filter), so the
    // join input is two single-term postings lists, not the corpus.
    Q("t_proximity_search",
      (s, dir) => {
        val post = postings(s, dir)
        val two = post.groupBy(col("term")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("term").asc).limit(2)
        val top2 = two
          .withColumn("rnk",
            row_number().over(Window.orderBy(col("c").desc, col("term").asc)))
          .agg(min(when(col("rnk") === 1, col("term"))).as("w1"),
            min(when(col("rnk") === 2, col("term"))).as("w2"))
        val pw = post.crossJoin(broadcast(top2))
        val a = pw.filter(col("term") === col("w1"))
          .select(col("doc_id"), col("p").as("pa"))
        val b = pw.filter(col("term") === col("w2"))
          .select(col("doc_id").as("db"), col("p").as("pb"))
        a.join(b, col("db") === col("doc_id") && abs(col("pa") - col("pb")) <= 5)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_pairs"),
            min(abs(col("pa") - col("pb"))).as("min_dist"))
      },
      Some(s"""WITH $PostingsCtes,
              |qt AS (SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS rnk
              |       FROM (SELECT term, count(*) AS c FROM post GROUP BY 1)
              |       ORDER BY rnk LIMIT 2),
              |w2 AS (SELECT min(CASE WHEN rnk=1 THEN term END) AS w1,
              |              min(CASE WHEN rnk=2 THEN term END) AS w2 FROM qt),
              |m AS (SELECT a.doc_id, abs(a.p - b.p) AS d
              |      FROM post a JOIN post b USING (doc_id), w2
              |      WHERE a.term = w2.w1 AND b.term = w2.w2 AND abs(a.p - b.p) <= 5)
              |SELECT doc_id, count(*) AS n_pairs, min(d) AS min_dist
              |FROM m GROUP BY 1""".stripMargin)),

    // Triangle participation per doc over the rare-shingle co-occurrence
    // graph — the graph-topology statistic (local clustering) that tells a
    // boilerplate FAMILY (mutually-linked cliques: licenses, templates)
    // from a chain of pairwise near-dups, which pair counts alone cannot.
    // Candidate edges come from an inverted-index join capped by df ∈
    // [2,4] (each gram fans out ≤ C(4,2) pairs — the standard blocking
    // cap; never all-pairs), and the triangle join is the ORIENTED
    // node-iterator: u<v edges joined e1.v=e2.u, closed by e3 — each
    // triangle counted exactly once as a<b<c. The edge list is
    // materialized once (eager localCheckpoint) because three join legs
    // consume it — the ccnet recompute lesson.
    Q("t_triangle_count",
      (s, dir) => {
        val e = rareGramEdges(s, dir)
        val tri = e
          .join(e.select(col("u").as("bu"), col("v").as("bv")), col("bu") === col("v"))
          .join(e.select(col("u").as("cu"), col("v").as("cv")),
            col("cu") === col("u") && col("cv") === col("bv"))
          .select(col("u").as("a"), col("v").as("b"), col("bv").as("c"))
        tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
      },
      Some(s"""WITH $RareEdgeCtes,
              |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              |        FROM e e1 JOIN e e2 ON e2.u = e1.v
              |             JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
              |x AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
              |SELECT doc_id, count(*) AS n_triangles FROM x GROUP BY 1""".stripMargin)),

    // Pseudo-relevance feedback (the RM3 shape): run BM25, take the top-10
    // docs as feedback, expand the query with the 5 highest-mass non-query
    // terms from those docs, score again with the expanded query, return
    // the reranked top-20. Both passes are the SAME parameterized scoring
    // body (bm25ScoresFor) — one engine path, two query frames — and both
    // query frames are broadcast (3 and 8 rows). The feedback and output
    // top-k are TakeOrderedAndProject on the rounded, oracle-exact score —
    // no global sorts. At 100 TB the second pass is the same
    // candidate-sized postings join as the first: cost scales with matched
    // postings, not corpus.
    Q("t_prf_rm3",
      (s, dir) => {
        // ONE corpus tokenize per invocation (r13): both BM25 passes, the
        // query-term census and the expansion-mass aggregate all read the
        // materialized tf frame — the r12 shape re-tokenized the corpus
        // per pass (≈6 full explode passes).
        val tf = tfFrame(s, dir).localCheckpoint(true)
        val qt = topQueryTermsFromTf(tf, 3)
        val fb = bm25ScoresFor(s, dir, qt, tf)
          .orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
          .select(col("doc_id"))
        val expTerms = tf.join(broadcast(fb), "doc_id")
          .join(qt, Seq("term"), "left_anti")
          .groupBy(col("term")).agg(sum(col("tf")).as("mass"))
          .orderBy(col("mass").desc, col("term").asc).limit(5)
          .select(col("term"))
        val q2 = qt.union(expTerms)
        bm25ScoresFor(s, dir, q2, tf)
          .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
          .select(col("doc_id"), col("rnk"), col("n_query_terms"),
            col("bm25").as("bm25_rm3"))
      },
      Some(s"""WITH $Bm25BaseCtes,
              |${bm25ContribCte("c1", "qt")},
              |s1 AS (SELECT doc_id,
              |    $Bm25RoundSql AS bm25
              |  FROM c1 GROUP BY doc_id),
              |fbd AS (SELECT doc_id FROM s1 ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
              |exp_ AS (SELECT term FROM (
              |    SELECT tf.term, CAST(sum(tf.tf) AS BIGINT) AS mass
              |    FROM tf JOIN fbd USING (doc_id)
              |    WHERE tf.term NOT IN (SELECT term FROM qt)
              |    GROUP BY tf.term ORDER BY mass DESC, term ASC LIMIT 5)),
              |q2 AS (SELECT term FROM qt UNION ALL SELECT term FROM exp_),
              |${bm25ContribCte("c2", "q2")},
              |s2 AS (SELECT doc_id, count(*) AS n_query_terms,
              |    $Bm25RoundSql AS bm25_rm3
              |  FROM c2 GROUP BY doc_id)
              |SELECT doc_id,
              |  CAST(row_number() OVER (ORDER BY bm25_rm3 DESC, doc_id ASC) AS BIGINT) AS rnk,
              |  n_query_terms, bm25_rm3
              |FROM s2 ORDER BY bm25_rm3 DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // Interpolated Kneser–Ney bigram language model (D = 0.75), scored as
    // per-doc mean negative log-likelihood — the published-standard
    // smoothing next to the add-k trigram entry (t_trigram_lm): the
    // continuation probability P_cont(w₂) = N₁₊(·w₂)/|bigram types| is what
    // distinguishes KN from plain absolute discounting. All model tables
    // (bigram counts, left-context totals + fan-outs, continuation counts)
    // are vocabulary-bounded aggregates; scoring joins each corpus bigram
    // occurrence back to them — at 100 TB the model frames shuffle
    // vocab-sized data and the scoring pass is one corpus-sized join
    // pipeline with a fixed-point (order-insensitive) per-doc sum.
    Q("t_kneser_ney",
      (s, dir) => {
        val b = docsSpread(s, dir)
          .select(col("doc_id"), explode(shingles(lower(col("text")), 2)).as("g"))
          .select(col("doc_id"), split(col("g"), " ").as("p"))
          .select(col("doc_id"), element_at(col("p"), 1).as("w1"),
            element_at(col("p"), 2).as("w2"))
        // the bigram count table feeds FOUR consumers (cu/cont/tt and the
        // scoring join) — materialized once per invocation
        // (wordBigramModel's eager localCheckpoint); the frame is
        // bigram-vocab-bounded
        val cb = wordBigramModel(s, dir)
        val cu = cb.groupBy(col("w1"))
          .agg(sum(col("c12")).as("c1"), count(lit(1)).as("fan"))
        val cont = cb.groupBy(col("w2")).agg(count(lit(1)).as("nprec"))
        val tt = cb.agg(count(lit(1)).as("t"))
        val pr = b.join(cb, Seq("w1", "w2")).join(cu, "w1").join(cont, "w2")
          .crossJoin(broadcast(tt))
          .withColumn("lp", log(
            greatest(col("c12").cast("double") - lit(0.75), lit(0.0))
              / col("c1").cast("double")
              + (lit(0.75) * col("fan").cast("double") / col("c1").cast("double"))
              * (col("nprec").cast("double") / col("t").cast("double"))))
        pr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bigrams"),
            sum(floor(col("lp") * lit(1e9)).cast("long")).as("slp"))
          .select(col("doc_id"), col("n_bigrams"),
            graft.operators.RelationalOps.round6(
              (-(col("slp").cast("double") / lit(1e9)))
                / col("n_bigrams").cast("double")).as("kn_nll"))
      },
      Some(s"""WITH hd AS (SELECT doc_id, $WSL AS ws FROM documents),
              |bg AS (SELECT doc_id, unnest($Shingles2) AS g FROM hd),
              |bsp AS (SELECT doc_id, string_split(g, ' ') AS p FROM bg),
              |b AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM bsp),
              |cb AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
              |cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS fan FROM cb GROUP BY 1),
              |cont AS (SELECT w2, count(*) AS nprec FROM cb GROUP BY 1),
              |tt AS (SELECT count(*) AS t FROM cb),
              |pr AS (
              |  SELECT b.doc_id,
              |    ln(
              |      (greatest(CAST(cb.c12 AS DOUBLE) - 0.75, 0.0) / CAST(cu.c1 AS DOUBLE))
              |      + (0.75 * CAST(cu.fan AS DOUBLE) / CAST(cu.c1 AS DOUBLE))
              |        * (CAST(cont.nprec AS DOUBLE) / CAST(tt.t AS DOUBLE))
              |    ) AS lp
              |  FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1) JOIN cont USING (w2), tt),
              |agg AS (SELECT doc_id, count(*) AS n_bigrams,
              |    CAST(sum(CAST(floor(lp * 1e9) AS BIGINT)) AS BIGINT) AS slp
              |  FROM pr GROUP BY 1)
              |SELECT doc_id, n_bigrams,
              |  floor((-(CAST(slp AS DOUBLE) / 1e9) / CAST(n_bigrams AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS kn_nll
              |FROM agg""".stripMargin)),

    // Degree structure + assortativity of the rare-shingle graph (shared
    // rareGramEdges/RareEdgeCtes image with t_triangle_count): degree
    // Pearson correlation over both edge orientations — the one-number
    // topology tell (clique-heavy boilerplate families are assortative;
    // hub-and-spoke syndication is disassortative). Every correlation
    // moment is an exact BIGINT sum over the edge list; the single double
    // expression at the end is shaped identically on both engines. Scale:
    // degrees are one partial-aggregable shuffle of the (capped) edge
    // list; the moments partial-aggregate to one row.
    Q("t_graph_degree_assort",
      (s, dir) => {
        val e = rareGramEdges(s, dir)
        val deg = e.select(col("u").as("node"))
          .union(e.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("d"))
          .localCheckpoint(true)
        val bi = e.select(col("u"), col("v"))
          .union(e.select(col("v").as("u"), col("u").as("v")))
        val xy = bi
          .join(deg.select(col("node").as("u"), col("d").as("x")), "u")
          .join(deg.select(col("node").as("v"), col("d").as("y")), "v")
        val mo = xy.agg(count(lit(1)).as("m"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        val heads = deg.agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_degree"))
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        val vprod = ((col("m").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          * (col("m").cast("double") * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double")))
        heads.crossJoin(mo).select(
          col("n_nodes"), col("n_edges"), col("max_degree"),
          when(vprod <= 0.0, lit(0.0)).otherwise(
            graft.operators.RelationalOps.round6(
              (col("m").cast("double") * col("sxy").cast("double")
                - col("sx").cast("double") * col("sy").cast("double"))
                / sqrt(vprod))).as("assortativity"))
      },
      Some(s"""WITH $RareEdgeCtes,
              |deg AS (SELECT node, count(*) AS d FROM
              |          (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
              |bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
              |xy AS (SELECT du.d AS x, dv.d AS y FROM bi
              |       JOIN deg du ON du.node = bi.u JOIN deg dv ON dv.node = bi.v),
              |s AS (SELECT count(*) AS m, CAST(sum(x) AS BIGINT) AS sx,
              |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*y) AS BIGINT) AS sxy,
              |        CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
              |      FROM xy)
              |SELECT (SELECT count(*) FROM deg) AS n_nodes,
              |  (SELECT count(*) FROM e) AS n_edges,
              |  (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree,
              |  CASE WHEN (CAST(m AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
              |            (CAST(m AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) <= 0.0 THEN 0.0
              |       ELSE floor(((CAST(m AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
              |   sqrt((CAST(m AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
              |        (CAST(m AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))) * 1000000 + 0.5) / 1000000 END AS assortativity
              |FROM s""".stripMargin)),

    // Per-doc Shannon token entropy (+ the type-count-normalized variant):
    // the information-density filter that catches templated/generated text
    // a length or repetition ratio misses (low entropy = few types carry
    // the mass even when the top token alone doesn't dominate). Per-term
    // −p·ln p contributions are fixed-point floored before the per-doc
    // BIGINT sum — order-insensitive, partial-aggregable; both shuffles
    // carry one row per (doc, distinct term).
    Q("t_token_entropy",
      (s, dir) => {
        val tf = docs(s, dir)
          .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        val dl = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
        val p = col("c").cast("double") / col("n").cast("double")
        val h = tf.join(dl, "doc_id")
          .select(col("doc_id"),
            floor((-p) * log(p) * lit(1e9)).cast("long").as("t"))
          .groupBy(col("doc_id"))
          .agg(sum(col("t")).as("hfx"), count(lit(1)).as("n_types"))
        h.join(dl, "doc_id").select(col("doc_id"), col("n_types"),
          col("n").as("n_tokens"),
          graft.operators.RelationalOps.round6(
            col("hfx").cast("double") / lit(1e9)).as("entropy"),
          when(col("n_types") === 1, lit(0.0)).otherwise(
            graft.operators.RelationalOps.round6(
              (col("hfx").cast("double") / lit(1e9))
                / log(col("n_types").cast("double")))).as("entropy_norm"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($WSL) AS term FROM documents),
              |tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
              |dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1),
              |h AS (SELECT tf.doc_id,
              |    CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS hfx,
              |    CAST(count(*) AS BIGINT) AS n_types
              |  FROM tf JOIN dl USING (doc_id) GROUP BY 1)
              |SELECT h.doc_id, n_types, dl.n AS n_tokens,
              |  floor((CAST(hfx AS DOUBLE) / 1e9) * 1000000 + 0.5) / 1000000 AS entropy,
              |  CASE WHEN n_types = 1 THEN 0.0
              |       ELSE floor(((CAST(hfx AS DOUBLE) / 1e9) / ln(CAST(n_types AS DOUBLE))) * 1000000 + 0.5) / 1000000 END AS entropy_norm
              |FROM h JOIN dl ON dl.doc_id = h.doc_id""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov drift test between releases (doc-id
    // parity split, the corpus_diff convention) over the doc-length
    // distribution — the distribution-level QA gate next to the per-scalar
    // data card: a release whose length histogram silently shifts fails
    // here even when means stay put. The supremum runs on the VALUE
    // histogram (one row per distinct length — bounded), never the corpus;
    // the decisive comparison |cumA·n_b − cumB·n_a| stays in exact
    // integers, with one division at the end. d_at is the smallest length
    // achieving the supremum (deterministic tiebreak).
    Q("t_ks_drift",
      (s, dir) => {
        val m = docs(s, dir).select(
          size(tokens(lower(col("text")))).cast("long").as("x"),
          pmod(col("doc_id"), lit(2L)).as("rel"))
        val n = m.agg(
          sum(when(col("rel") === 0L, 1L).otherwise(0L)).as("na"),
          sum(when(col("rel") === 1L, 1L).otherwise(0L)).as("nb"))
        val v = m.groupBy(col("x")).agg(
          sum(when(col("rel") === 0L, 1L).otherwise(0L)).as("ca"),
          sum(when(col("rel") === 1L, 1L).otherwise(0L)).as("cb"))
        val c = v
          .withColumn("cuma", sum(col("ca")).over(Window.orderBy(col("x"))))
          .withColumn("cumb", sum(col("cb")).over(Window.orderBy(col("x"))))
        val d = c.crossJoin(broadcast(n))
          .select(col("x"),
            abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("num"),
            col("na"), col("nb"))
          .localCheckpoint(true)
        val mx = d.agg(max(col("num")).as("mxnum"))
        d.crossJoin(broadcast(mx)).filter(col("num") === col("mxnum"))
          .groupBy(col("na"), col("nb"))
          .agg(min(col("x")).as("d_at"), max(col("num")).as("num"))
          .select(col("na").as("n_a"), col("nb").as("n_b"), col("d_at"),
            graft.operators.RelationalOps.round6(col("num").cast("double")
              / (col("na").cast("double") * col("nb").cast("double"))).as("d_stat"))
      },
      Some(s"""WITH m AS (SELECT len($WSL) AS x, doc_id % 2 AS rel FROM documents),
              |n AS (SELECT count(*) FILTER (rel = 0) AS na,
              |             count(*) FILTER (rel = 1) AS nb FROM m),
              |v AS (SELECT x, count(*) FILTER (rel = 0) AS ca,
              |             count(*) FILTER (rel = 1) AS cb FROM m GROUP BY 1),
              |c AS (SELECT x,
              |        CAST(sum(ca) OVER (ORDER BY x) AS BIGINT) AS cuma,
              |        CAST(sum(cb) OVER (ORDER BY x) AS BIGINT) AS cumb
              |      FROM v),
              |d AS (SELECT x, abs(cuma * n.nb - cumb * n.na) AS num, n.na, n.nb FROM c, n),
              |mx AS (SELECT max(num) AS mxnum FROM d)
              |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
              |  CAST(min(x) AS BIGINT) AS d_at,
              |  floor((CAST(mxnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS d_stat
              |FROM d, mx WHERE num = mxnum GROUP BY mxnum, na, nb""".stripMargin))
  )
}
