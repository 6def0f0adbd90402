package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale corpus pipelines: token
  * counting, shingling, language heuristics, quality scoring, fingerprinting.
  *
  * Everything here is built from `org.apache.spark.sql.functions._` higher-
  * order array functions, so it stays inside whole-stage codegen — no UDFs in
  * the hot path. Each builder returns a `Column` and composes freely with any
  * DataFrame plan.
  */
object TextFunctions {

  /** Whitespace tokenization. `split` on `\s+` after trim — the baseline
    * tokenizer for token-count/quality heuristics (a BPE-ish subword count is
    * `tokenCountBpeIsh`).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Rough byte-pair-ish token estimate without a vocab: count alphanumeric
    * runs and non-whitespace symbols separately, which tracks subword
    * tokenizers far better than whitespace on punctuated text. The word /
    * whitespace classes are spelled out as explicit ASCII sets (no `\w`,
    * no lookaround) so the SAME pattern means the same thing to Java
    * regex, RE2 (DuckDB oracle), and any other linear-time engine — and
    * `regexp_count` needs no intermediate array, keeping the kernel
    * codegen'd and allocation-free.
    */
  val bpeIshPattern = "[0-9A-Za-z_]+|[^0-9A-Za-z_ \\t\\n\\x0B\\f\\r]"

  def tokenCountBpeIsh(text: Column): Column =
    regexp_count(text, lit(bpeIshPattern)).cast("long")

  /** Word k-shingles (k consecutive tokens joined by a single space) —
    * native single-tokenization expression; texts with fewer than k tokens
    * yield an empty array. See [[graft.expressions.WordShingles]] for why
    * the composed transform-over-sequence form (kept below for the spec
    * that pins equivalence) is quadratic-ish under interpreted HOF
    * evaluation.
    */
  def shingles(text: Column, k: Int): Column =
    graft.expressions.WordShingles(text, k)

  /** The composed higher-order-function form of [[shingles]] — the shape
    * every DuckDB oracle mirrors. Retained as the equivalence reference
    * (TextFunctionsSpec asserts byte-identical output) and NOT used in hot
    * paths.
    */
  def shinglesComposed(text: Column, k: Int): Column = {
    val ws = tokens(text)
    when(size(ws) < k, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(1), size(ws) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(ws, i + lit(j))): _*)
      ))
  }

  def distinctShingleCount(text: Column, k: Int): Column =
    size(array_distinct(shingles(text, k))).cast("long")

  // ---- language identification (stopword-profile heuristic) ---------------

  /** Tiny per-language stopword profiles. A real deployment would swap in
    * character n-gram models; the operator shape (array filter + argmax, all
    * codegen'd, no shuffle) is what matters at 100 TB.
    */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "que", "por", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "zu", "von", "mit", "ist")
  )

  /** Argmax over language profiles; ties and all-zero break to "und"
    * (undetermined). Deterministic: profiles are scored in declared order and
    * a strictly-greater hit count is required to take the lead. The
    * when-fold duplicates each score subtree, so `scored` must be bound
    * attribute reads, never token-scan subtrees (see [[withLangGuess]]). */
  private def langArgmax(scored: Seq[(String, Column)]): Column =
    scored.foldLeft((lit("und"), lit(0L))) { case ((bl, bs), (lang, s)) =>
      (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }._1

  /** Staged language-ID over a DataFrame: token array, then per-language hit
    * counts, then the argmax — each bound as COLUMN ATTRIBUTES across
    * projection boundaries (CollapseProject keeps non-cheap expressions that
    * are referenced more than once un-inlined), so the fold duplicates
    * attribute reads instead of token-scan subtrees. Appends `out`; drops
    * nothing. */
  def withLangGuess(df: org.apache.spark.sql.DataFrame, textCol: String,
      out: String): org.apache.spark.sql.DataFrame = {
    require(!df.columns.exists(_.startsWith("__lg_")),
      "withLangGuess: input frame already carries __lg_-prefixed columns " +
        "(reserved for this builder's staged token/hit attributes)")
    val keep = df.columns.map(col).toSeq
    val ws = df.select(keep :+ tokens(lower(col(textCol))).as("__lg_ws"): _*)
    withLangGuessFromTokens(ws, "__lg_ws", out, keep)
  }

  /** [[withLangGuess]] over an ALREADY-BOUND lowercased token-array column —
    * for pipeline stages that tokenize once and feed several scorers (e.g.
    * lang-ID + the quality classifier in one pass). `keep` selects the
    * output columns (defaults to everything except the token column). */
  def withLangGuessFromTokens(df: org.apache.spark.sql.DataFrame, wsCol: String,
      out: String, keepCols: Seq[Column] = Nil): org.apache.spark.sql.DataFrame = {
    val keep =
      if (keepCols.nonEmpty) keepCols
      else df.columns.filter(_ != wsCol).map(col).toSeq
    val hitCols = stopwordProfiles.map { case (lang, stop) =>
      size(filter(col(wsCol), w => w.isin(stop.map(lit(_)): _*)))
        .cast("long").as(s"__lg_$lang")
    }
    val hits = df.select(keep ++ hitCols: _*)
    val best = langArgmax(stopwordProfiles.map { case (lang, _) =>
      lang -> col(s"__lg_$lang") })
    hits.select(keep :+ best.as(out): _*)
  }

  // ---- quality scoring -----------------------------------------------------

  /** Composite document-quality heuristic in [0,1]:
    * 0.4·min(tokens/100,1) + 0.3·distinct-token ratio + 0.3·min(meanLen/8,1).
    * All-integer counts with two final double divisions — deterministic.
    */
  def qualityScore(text: Column): Column = qualityScoreFromTokens(tokens(text))

  /** [[qualityScore]] over an already-bound token-array column — use with a
    * staged `.select(tokens(text).as("ws"))` so the four references below
    * read an attribute instead of re-tokenizing (see withLangGuess). */
  def qualityScoreFromTokens(ws: Column): Column = {
    val n = size(ws).cast("double")
    val distinctRatio = size(array_distinct(ws)).cast("double") / n
    val meanLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / n
    graft.operators.RelationalOps.round6(
      lit(0.4) * least(n / 100.0, lit(1.0)) +
        lit(0.3) * distinctRatio +
        lit(0.3) * least(meanLen / 8.0, lit(1.0)))
  }

  /** The t_quality_classifier linear model's 6-dp-rounded logit over an
    * already-bound lowercased token array (stage with
    * `tokens(lower(text)).as(...)`) — extracted so pipeline compositions
    * reuse the EXACT registry formula: each feature rounds to the shared
    * 6-dp grid FIRST, then the logit is a fixed-order affine combination
    * of those rounded doubles (identical IEEE arithmetic in any engine).
    * Keep decision = rounded logit >= 0. */
  def qualityClassifierLogit(text: Column, ws: Column): Column = {
    import graft.operators.RelationalOps.round6
    val n = size(ws).cast("double")
    val fLen = round6(least(n / 100.0, lit(1.0)))
    val fDistinct = round6(size(array_distinct(ws)).cast("double") / n)
    val fMeanLen = round6(least(
      (aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / n) / 8.0,
      lit(1.0)))
    val fPunct = round6(punctRatio(text))
    val fStop = round6(
      size(filter(ws, w => w.isin(stopwordProfiles.head._2.map(lit(_)): _*)))
        .cast("double") / n)
    round6(lit(-1.5) + lit(2.0) * fLen + lit(1.5) * fDistinct
      + lit(1.0) * fMeanLen - lit(2.0) * fPunct + lit(3.0) * fStop)
  }

  /** The five quality features on the 1e6 integer grid (micro longs) —
    * the trainable form of [[qualityClassifierLogit]]'s inputs, consumed
    * by the logistic-regression trainer (exact integer features are what
    * let an iterative trainer carry a byte oracle). Order matters: it is
    * the weight order of t_quality_lr's model. */
  def qualityFeatureMicros(text: Column, ws: Column): Seq[(String, Column)] = {
    def micro(c: Column): Column =
      floor(c * 1000000.0 + lit(0.5)).cast("long")
    val n = size(ws).cast("double")
    Seq(
      "f_len" -> micro(least(n / 100.0, lit(1.0))),
      "f_distinct" -> micro(size(array_distinct(ws)).cast("double") / n),
      "f_meanlen" -> micro(least(
        (aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / n) / 8.0,
        lit(1.0))),
      "f_punct" -> micro(punctRatio(text)),
      "f_stop" -> micro(
        size(filter(ws, w => w.isin(stopwordProfiles.head._2.map(lit(_)): _*)))
          .cast("double") / n))
  }

  /** Punctuation-character ratio (fixed class, identical across engines). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double") /
        length(text).cast("double"))

  // ---- fingerprinting ------------------------------------------------------

  /** Whitespace-normalized lowercase form — the canonical text for exact
    * near-duplicate fingerprints.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Content fingerprint: md5 of the normalized text. Exact-dedup key. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** 60-bit PORTABLE content hash: the integer value of the first 15 hex
    * chars of `md5(s)`. Reproducible by any engine with md5 + hex parsing —
    * DuckDB: `('0x' || substr(md5(s), 1, 15))::BIGINT` — which is what
    * upgrades the sketch queries (MinHash, SimHash) from rows-only to
    * full-oracle checks: the whole pipeline downstream of this hash is
    * deterministic, so both engines can compute identical sketches. Built
    * from codegen'd built-ins (md5/substring/conv); ~2-4× the cost of
    * xxhash64, which stays the default family for production sketches.
    * Always non-negative (fits 60 bits).
    */
  def portableHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Signed feature hashing (Weinberger et al. 2009, the HashingTF
    * shape): token → bucket via the portable 60-bit hash, ±1 sign from an
    * independent hash, summed per (doc, bucket) — a fixed-`dim` sparse
    * document vector with integer weights, no vocabulary pass at all
    * (the property that makes it THE text-featurizer at corpus scale:
    * TF-IDF needs the df table; this needs nothing). Emits nonzero
    * buckets only: (doc, bucket, w). One partial-aggregable shuffle of
    * O(nnz) integer rows; the sign makes bucket collisions cancel in
    * expectation instead of accumulating bias. */
  def hashedTf(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, dim: Int): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col(idCol),
        pmod(portableHash60(concat(lit("htf:"), col("tok"))), lit(dim.toLong)).as("bucket"),
        when(pmod(portableHash60(concat(lit("hsg:"), col("tok"))), lit(2L)) === 0L,
          1L).otherwise(-1L).as("sgn"))
      .groupBy(col(idCol), col("bucket")).agg(sum(col("sgn")).as("w"))
      .filter(col("w") =!= 0L)
}
