package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Random-hyperplane LSH band keys for an `array<float>` embedding.
  *
  * `bands × bitsPerBand` signed projections against pseudo-random Gaussian
  * hyperplanes (deterministic from `seed` via splitmix64 + Box–Muller, so
  * every executor regenerates identical planes — nothing is shipped). Each
  * band's sign bits pack into a long, tagged with the band index in the high
  * bits so different bands never collide in a single join key.
  *
  * Cosine-similar vectors agree on sign bits with probability 1 − θ/π, so
  * near neighbors share at least one band key with high probability — the
  * candidate-join key for [[graft.similarity.SimilaritySearch.knnJoinLSH]]
  * and embedding near-dedup.
  */
case class HyperplaneBands(child: Expression, dim: Int, bands: Int, bitsPerBand: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  // Declared input type: analysis inserts the implicit element cast for an
  // array<double> argument (or fails loudly) instead of getFloat silently
  // misreading 8-byte slots into garbage keys.
  override def inputTypes = Seq(ArrayType(FloatType))
  // In the case-class body so EVERY construction path is validated — the
  // SQL function registration builds the expression directly, bypassing the
  // companion apply (GraftExtensions); sign bits above 48 would silently
  // collide with the band-index tag.
  require(bitsPerBand >= 1 && bitsPerBand <= 48,
    "bitsPerBand must be in [1,48]: the band index is packed into the high 16 bits")
  require(bands >= 1 && dim >= 1, "bands and dim must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val planes: Array[Array[Double]] = {
    val rng = new graft.util.SplitMix64(seed)
    def nextUniform(): Double = (rng.next() >>> 11) * (1.0 / (1L << 53)) // [0,1)
    def nextGaussian(): Double = {
      val u1 = math.max(nextUniform(), 1e-12)
      val u2 = nextUniform()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
    Array.fill(bands * bitsPerBand)(Array.fill(dim)(nextGaussian()))
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < bitsPerBand) {
        val plane = planes(b * bitsPerBand + j)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += v.getFloat(i) * plane(i); i += 1 }
        if (dot >= 0) key |= (1L << j)
        j += 1
      }
      keys(b) = (b.toLong << 48) | key
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HyperplaneBands {
  def apply(vec: Column, dim: Int, bands: Int, bitsPerBand: Int, seed: Long = 42L): Column =
    ExpressionUtils.column(
      HyperplaneBands(ExpressionUtils.expression(vec), dim, bands, bitsPerBand, seed))
}
