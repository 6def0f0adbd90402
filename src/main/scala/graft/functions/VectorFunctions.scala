package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over embedding columns (`array<float>`), built from Spark's
  * higher-order array functions (`zip_with`, `aggregate`) so everything is
  * expression-level: no UDF serialization, no Python boundary, full codegen.
  *
  * Accumulation is an in-order left fold over the array — deterministic for a
  * given row (unlike a shuffled double SUM), which makes results reproducible
  * and oracle-comparable. For the hot path there is also a fused native
  * Catalyst expression (see [[graft.expressions.CosineSimilarity]]); the two
  * are property-tested to agree.
  */
object VectorFunctions {

  /** Elementwise product folded in order, all in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity in double; 0.0 for zero-norm inputs. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, lit(0.0)).otherwise(d / nn)
  }

  def dim(a: Column): Column = size(a).cast("long")
}
