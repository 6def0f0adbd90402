package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.expressions._

/** Catalyst integration point: registers the engine's native expressions as
  * SQL functions, so `spark.sql("SELECT cosine_sim(a, b) ...")` works the
  * same as the Column API. Install via
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * - cosine_sim(array<float>, array<float>) → double  (fused, codegen'd)
  * - simhash64(array<string>) → bigint
  * - minhash_sig(array<bigint>, numPerm, seed) → array<bigint>
  * - hyperplane_bands(array<float>, dim, bands, bits, seed) → array<bigint>
  * - rademacher_bands(array<float>, dim, bands, bits) → array<bigint>
  *   (the engine-portable ±1-plane twin — replayable in any md5-capable engine)
  * - nfc_normalize(string) → string  (Unicode NFC, codegen'd)
  * - topk_by_score(score, id, k) → array<struct<score,id>>  (aggregate)
  * - count_by_key(int) → map<int,bigint>  (aggregate; observe()-compatible)
  * - multi_pattern_hits(string, array<string> literal) → array<int>
  *   (one Aho–Corasick pass per row, pattern-count-independent)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  def apply(e: SparkSessionExtensions): Unit = {
    // Operator-optimization rule: derived-time predicates (unix_micros
    // chains) gain an equivalent raw-column conjunct the parquet scan can
    // prune row groups with — see DerivedTimeFilterPushdown's scaladoc.
    e.injectOptimizerRule(_ => graft.plans.DerivedTimeFilterPushdown)
    GraftExtensions.functions.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        build))
    }
  }
}

object GraftExtensions {

  private[graft] def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }
  private[graft] def longLit(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** A SQL array-of-string literal (array('a','b') or a foldable array
    * literal) as a Seq[String] — the pattern-set argument of
    * multi_pattern_hits must be fixed at plan time (the automaton compiles
    * once per plan, not per row). */
  private[graft] def stringSeqLit(e: Expression, what: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    e match {
      case CreateArray(children, _) => children.map {
        case Literal(s: UTF8String, _) => s.toString
        case other => throw new IllegalArgumentException(
          s"$what must be string literals, got $other")
      }
      case Literal(a: ArrayData, _) =>
        a.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.asInstanceOf[UTF8String].toString).toSeq
      case other => throw new IllegalArgumentException(
        s"$what must be an array literal, got $other")
    }
  }

  /** Every SQL function the engine installs, as (name, usage, builder) —
    * the one table both [[GraftExtensions.apply]] (session extensions) and
    * [[register]] (an existing session) install from. */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors",
      args => CosineSimilarity(args(0), args(1))),
    ("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array",
      args => SimHash64(args.head)),
    ("minhash_sig", "minhash_sig(hashes, numPerm, seed) - MinHash signature",
      args => MinHashSignature(args(0),
        intLit(args(1), "numPerm"), longLit(args(2), "seed"))),
    ("hyperplane_bands", "hyperplane_bands(vec, dim, bands, bits, seed) - LSH band keys",
      args => HyperplaneBands(args(0),
        intLit(args(1), "dim"), intLit(args(2), "bands"),
        intLit(args(3), "bitsPerBand"), longLit(args(4), "seed"))),
    ("rademacher_bands",
      "rademacher_bands(vec, dim, bands, bits) - portable (md5 ±1-plane) LSH band keys",
      args => RademacherBands(args(0),
        intLit(args(1), "dim"), intLit(args(2), "bands"),
        intLit(args(3), "bitsPerBand"))),
    ("nfc_normalize", "nfc_normalize(str) - Unicode NFC canonicalization",
      args => NfcNormalize(args.head)),
    ("topk_by_score",
      "topk_by_score(score, id, k) - top-k (score,id) pairs per group, score desc",
      args => TopKByScore(args(0), args(1), intLit(args(2), "k"))),
    ("count_by_key",
      "count_by_key(key) - per-key row counts as one map<int,bigint> aggregate",
      args => CountByKey(args.head)),
    ("multi_pattern_hits",
      "multi_pattern_hits(text, array('p1','p2',...)) - sorted indexes of " +
        "patterns occurring as substrings (one Aho-Corasick pass)",
      args => MultiPatternHits(args(0), stringSeqLit(args(1), "patterns"))))

  /** Imperative registration on an existing session (tests, REPL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.DerivedTimeFilterPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DerivedTimeFilterPushdown
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
