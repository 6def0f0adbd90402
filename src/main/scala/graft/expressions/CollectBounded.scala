package graft.expressions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** The non-null values of a struct column gathered into ONE aggregate value
  * (`array<struct>`), up to a bound on rows and on bytes — built, like
  * [[CountByKey]], for `observe()`: a job carries a small set of rows (the
  * ingest write pass's dead letters) to the driver on the CollectMetrics
  * side channel instead of running a second pass for them. The caller maps
  * the rows it does not want to null.
  *
  * Past either bound the gathered rows are dropped and the value is NULL: a
  * null means "too many to carry", never "none" (that is an empty array),
  * and the caller must take the rows another way. Memory stays at the bound
  * per task, and at most twice it on the driver while it merges a task.
  *
  * Exact only where Spark applies accumulator updates once per partition:
  * a CollectMetrics node in a RESULT stage. Below an exchange the node runs
  * in a shuffle-map stage, whose updates a resubmitted partition re-applies
  * (see CountByKey) — rows would be gathered twice.
  */
case class CollectBounded(
    child: Expression,
    maxRows: Int,
    maxBytes: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CollectBounded.Buffer] {
  import CollectBounded.Buffer

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"collect_bounded expects a struct, got ${t.simpleString}")
  }

  @transient private lazy val toUnsafe =
    UnsafeProjection.create(child.dataType.asInstanceOf[StructType])

  override def createAggregationBuffer(): Buffer = new Buffer(ArrayBuffer.empty, 0L)

  private def add(buf: Buffer, row: UnsafeRow): Unit = if (buf.rows != null) {
    buf.rows += row
    buf.bytes += row.getSizeInBytes
    if (buf.rows.length > maxRows || buf.bytes > maxBytes) buf.rows = null
  }

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null && buf.rows != null)
      add(buf, toUnsafe(v.asInstanceOf[InternalRow]).copy())
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = {
    if (other.rows == null) buf.rows = null
    else other.rows.foreach(add(buf, _))
    buf
  }

  override def eval(buf: Buffer): Any =
    if (buf.rows == null) null else new GenericArrayData(buf.rows.toArray[Any])

  /** `-1` for a buffer past the bound, else the row count, then each row as
    * its length and bytes. */
  override def serialize(buf: Buffer): Array[Byte] =
    if (buf.rows == null) ByteBuffer.allocate(4).putInt(-1).array()
    else {
      val bb = ByteBuffer.allocate(4 + buf.rows.length * 4 + buf.bytes.toInt)
      bb.putInt(buf.rows.length)
      buf.rows.foreach { r => bb.putInt(r.getSizeInBytes); bb.put(r.getBytes) }
      bb.array()
    }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    if (n < 0) new Buffer(null, 0L)
    else {
      val buf = createAggregationBuffer()
      val nFields = child.dataType.asInstanceOf[StructType].length
      (0 until n).foreach { _ =>
        val b = new Array[Byte](bb.getInt)
        bb.get(b)
        val r = new UnsafeRow(nFields)
        r.pointTo(b, b.length)
        add(buf, r)
      }
      buf
    }
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectBounded =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectBounded =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object CollectBounded {
  /** Gathered rows and their bytes; `rows == null` once past the bound. */
  final class Buffer(var rows: ArrayBuffer[UnsafeRow], var bytes: Long)

  /** Column builder: gather the non-null values of struct column `row`. */
  def apply(row: Column, maxRows: Int, maxBytes: Long): Column =
    ExpressionUtils.column(
      CollectBounded(ExpressionUtils.expression(row), maxRows, maxBytes).toAggregateExpression())
}
