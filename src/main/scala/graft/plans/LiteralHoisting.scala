package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null literal whose generated code reads its value from the
  * generated class's `references` array instead of inlining it.
  *
  * `Literal` prints its value into the Java source (`1600000000000000000L`),
  * and the codegen cache is keyed by that source, so every new key of a
  * point lookup compiles a new class. This leaf reads the value once per
  * class instance into a primitive field: two plans that differ only in
  * such values generate the same source and share one compiled class. It
  * prints (`toString`, `sql`) and evaluates exactly as the literal it
  * replaces.
  */
final case class HoistedLiteral(literal: Literal) extends LeafExpression {
  require(literal.value != null, "a hoisted literal is never null")

  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("hoistedLiteral", literal.value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "hoistedLiteral", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.variable(v, dataType))
  }
}

/** Physical rule: the long, int, date and timestamp literals that are
  * direct operands of a comparison in a `FilterExec` condition become
  * [[HoistedLiteral]]s, so literal-parameterized reads (point lookups, time
  * windows) reuse one compiled class per query shape instead of compiling
  * one per key. The plan prints byte-identically with or without it.
  *
  * Installed by GraftExtensions through `injectColumnar` as a
  * pre-transition rule: Spark applies columnar rules to every physical plan,
  * inside and outside adaptive execution, whereas a post-planner strategy
  * rule runs only inside `AdaptiveSparkPlanExec`, which never wraps a plan
  * without an exchange (a point lookup).
  */
object LiteralHoisting extends Rule[SparkPlan] {

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = LiteralHoisting
  }

  private def hoistable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case LongType | IntegerType | DateType | TimestampType => true
    case _ => false
  })

  private[plans] def hoist(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => c.mapChildren {
      case l: Literal if hoistable(l) => HoistedLiteral(l)
      case other => other
    }
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = hoist(f.condition)
      if (c.fastEquals(f.condition)) f else f.copy(condition = c)
  }
}
