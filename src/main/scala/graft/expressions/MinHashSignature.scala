package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature of a set of 64-bit element hashes.
  *
  * `numPerm` universal-hash permutations h_p(x) = a_p·x + b_p; the signature
  * is the per-permutation minimum over the element hashes. Imperative
  * kernel — the numPerm × |set| multiply/min loop is exactly the work, there
  * is no shuffle, and it runs once per row (CodegenFallback is fine here:
  * the loop dominates, not the call overhead).
  *
  * Two permutation families:
  *
  *  - default (`portable = false`): odd a_p and b_p drawn from a splitmix64
  *    stream seeded by `seed`, arithmetic wrapping mod 2^64 — the fast
  *    production family (pairs with xxhash64 element hashes).
  *  - `portable = true`: a_p = ((p+1)·2654435761) mod P, b_p =
  *    ((p+1)·1779033703) mod P over the prime P = 2^31−1, applied to
  *    x mod P. Every operation stays inside signed-64 range, so ANY SQL
  *    engine with BIGINT arithmetic reproduces the signature exactly —
  *    this is the family the DuckDB oracle checks (`seed` is unused).
  *    Pairs with [[graft.functions.TextFunctions.portableHash60]] element
  *    hashes (md5-derived, also engine-portable).
  *
  * Empty input yields Long.MaxValue sentinels, so empty docs never collide
  * into REAL buckets — but they do all collide with each other (identical
  * sentinel signatures in every band), and exact jaccard on two empty sets
  * is 0/0 = NaN, which Spark orders above every threshold. Callers must
  * exclude empty inputs before banding (TextDedup.nearDuplicatePairs does).
  */
case class MinHashSignature(child: Expression, numPerm: Int, seed: Long,
    portable: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  // In the case-class body so the SQL function path (GraftExtensions),
  // which constructs the expression directly, is validated too.
  require(numPerm >= 1, "numPerm must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val (as, bs): (Array[Long], Array[Long]) =
    if (portable) {
      val P = MinHashSignature.PortableP
      (Array.tabulate(numPerm)(p => ((p + 1) * 2654435761L) % P),
       Array.tabulate(numPerm)(p => ((p + 1) * 1779033703L) % P))
    } else {
      val rng = new graft.util.SplitMix64(seed)
      val a = Array.fill(numPerm)(rng.next() | 1L) // odd multiplier
      val b = Array.fill(numPerm)(rng.next())
      (a, b)
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numPerm)(Long.MaxValue)
    val P = MinHashSignature.PortableP
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      // defensive fold into [0, P) — a no-op for the non-negative
      // portableHash60 inputs the oracle family is defined over
      val hp = if (portable) ((h % P) + P) % P else h
      var p = 0
      while (p < numPerm) {
        val v = if (portable) (as(p) * hp + bs(p)) % P else as(p) * h + bs(p)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashSignature {
  /** 2^31 − 1, the Mersenne prime bounding portable-family arithmetic. */
  val PortableP: Long = 2147483647L

  def apply(hashes: Column, numPerm: Int, seed: Long): Column =
    apply(hashes, numPerm, seed, portable = false)

  def apply(hashes: Column, numPerm: Int, seed: Long, portable: Boolean): Column =
    ExpressionUtils.column(
      MinHashSignature(ExpressionUtils.expression(hashes), numPerm, seed, portable))
}
