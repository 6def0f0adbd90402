package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression,
  GenericInternalRow, TimeZoneAwareExpression, TryEval, UnBase64, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** Typed image of a leaf-string parse — `from_json` against a schema whose
  * scalars are all strings (`TransactionTransform.stringified`) — as ONE
  * Catalyst node. The composed form (`when(isNull)` + `struct` per struct,
  * a `transform` lambda per array, `try_cast` or `unbase64` per leaf) is
  * ~870 expression nodes for the transaction payload, analyzed, optimized
  * and code-generated afresh for every micro-batch; this node is one, and
  * its converter tree is built once per plan instance.
  *
  * Semantics, those of the composed form, by construction:
  *  - a null struct stays null; a struct is rebuilt field by field, input
  *    fields matched by name (extra input fields — the parse's corrupt-record
  *    column — are ignored);
  *  - an array maps element by element, and null elements stay null;
  *  - a leaf is Spark's own `Cast` in TRY mode (a malformed numeric is null,
  *    never an ANSI error), and a BINARY leaf is Spark's `UnBase64` under
  *    `TryEval`: base64 the decoder accepts decodes to the same bytes, and a
  *    value it rejects is null — one bad BYTES field must not kill the batch
  *    any more than a bad numeric does.
  *
  * The leaves are evaluated interpreted, straight off their parent row (a
  * `BoundReference` at the field's ordinal, so no per-row state); the
  * generated code is a single call into the converter, which keeps the
  * surrounding stage whole-stage code-generated.
  */
case class CastToSchema(child: Expression, dataType: DataType, timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (CastToSchema.fits(child.dataType, dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"cast_to_schema cannot cast " +
      s"${child.dataType.simpleString} to ${dataType.simpleString}")

  override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Some(tz))

  @transient private lazy val converter: Any => Any = value(child.dataType, dataType)

  /** Non-null parse value → typed value; the entry point of the generated code. */
  def convert(v: Any): Any = converter(v)

  override def nullSafeEval(input: Any): Any = convert(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("castToSchema", this)
    defineCodeGen(ctx, ev, c => s"(${CodeGenerator.boxedType(dataType)}) $self.convert($c)")
  }

  private def leaf(in: Expression, to: DataType): Expression =
    if (to == BinaryType) TryEval(UnBase64(in)) else Cast(in, to, timeZoneId, EvalMode.TRY)

  /** Converter of a non-null value of type `from`. */
  private def value(from: DataType, to: DataType): Any => Any = (from, to) match {
    case (f: StructType, t: StructType) =>
      val fields = t.fields.map { x =>
        val i = f.fieldIndex(x.name)
        field(f(i).dataType, x.dataType, i)
      }
      v => {
        val row = v.asInstanceOf[InternalRow]
        new GenericInternalRow(fields.map(_(row)))
      }
    case (ArrayType(fe, _), ArrayType(te, _)) =>
      val elem = value(fe, te)
      v => {
        val a = v.asInstanceOf[ArrayData]
        new GenericArrayData(Array.tabulate[Any](a.numElements()) { i =>
          if (a.isNullAt(i)) null else elem(a.get(i, fe))
        })
      }
    case _ => // an array's leaf element: a one-slot row per value
      val e = leaf(BoundReference(0, from, nullable = true), to)
      v => e.eval(InternalRow(v))
  }

  /** Converter of the field at `ordinal` of a row. */
  private def field(from: DataType, to: DataType, ordinal: Int): InternalRow => Any = to match {
    case _: StructType | _: ArrayType =>
      val conv = value(from, to)
      row => if (row.isNullAt(ordinal)) null else conv(row.get(ordinal, from))
    case _ => leaf(BoundReference(ordinal, from, nullable = true), to).eval
  }

  override def prettyName: String = "cast_to_schema"

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CastToSchema {
  /** Column builder: cast the leaf-string parse `parsed` to `to`. */
  def apply(parsed: Column, to: DataType): Column =
    ExpressionUtils.column(CastToSchema(ExpressionUtils.expression(parsed), to))

  /** `from` is a leaf-string image of `to`: same structure (every field of
    * `to` present by name in `from`), strings where `to` has scalars. */
  private def fits(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f: StructType, t: StructType) =>
      t.fields.forall(x => f.fieldNames.contains(x.name) && fits(f(x.name).dataType, x.dataType))
    case (ArrayType(fe, _), ArrayType(te, _)) => fits(fe, te)
    case (_: StringType, _: StructType | _: ArrayType | _: MapType) => false
    case (_: StringType, t) => t == BinaryType || Cast.canTryCast(from, t)
    case _ => false
  }
}
