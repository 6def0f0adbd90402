package graft.hedera

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

/** Differential spec of the one-node payload cast
  * ([[graft.expressions.CastToSchema]] inside `TransactionTransform.typedRows`)
  * against the composed column tree it replaced, kept here as the
  * reference: `to_json(struct(*))` of every typed row must be byte-identical
  * on the golden fixture plus generated lines that put nulls at every
  * nesting level, null and empty arrays, null elements, quoted and unquoted
  * int64s and malformed numeric leaves. */
class TransactionCastDiffSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  /** The recursive cast as it was built before the one-node expression:
    * `when(isNull)` + `struct` per struct, `transform` per array,
    * `unbase64` / `try_cast` per leaf. */
  private object Reference {
    def castToSchema(c: Column, dt: DataType): Column = dt match {
      case StructType(fields) =>
        when(c.isNull, lit(null).cast(dt)).otherwise(
          struct(fields.map(f => castToSchema(c.getField(f.name), f.dataType).as(f.name)): _*))
      case ArrayType(elem, _) => transform(c, x => castToSchema(x, elem))
      case BinaryType => unbase64(c)
      case _ => c.try_cast(dt)
    }

    private def okPredicate =
      !(col("j").isNull || col("j._corrupt").isNotNull) &&
        !col("j.consensusTimestamp").isNull &&
        !col("j.consensusTimestamp").try_cast(LongType).isNull

    def typedRows(parsed: DataFrame): DataFrame =
      parsed.filter(okPredicate)
        .select(castToSchema(col("j").dropFields("_corrupt"), TransactionSchema.payload).as("t"))
        .select(col("t.*"))
        .withColumn("consensusTimestampTruncated",
          timestamp_micros(expr("consensusTimestamp div 1000")))
        .withColumn("dedupe", lit(null).cast(LongType))
        .withColumn("day", to_date(col("consensusTimestampTruncated")))
        .select(TransactionSchema.table.fields.map(f => col(f.name).as(f.name, f.metadata)): _*)
  }

  private val edgeLines = Seq(
    """{"consensusTimestamp":1,"transactionType":"14","transactionRecord":{"transactionFee":7}}""",
    """{"consensusTimestamp":"2","transactionType":14,"transactionRecord":{"transactionFee":"7"}}""",
    """{"consensusTimestamp":3,"transactionType":"1x","entity":{"shardNum":"zero"}}""",
    """{"consensusTimestamp":4,"nonFeeTransfers":null}""",
    """{"consensusTimestamp":5,"nonFeeTransfers":[]}""",
    """{"consensusTimestamp":6,"nonFeeTransfers":[null,{"amount":"5"},{"accountID":null}]}""",
    """{"consensusTimestamp":7,"entity":null,"transaction":{"body":null}}""",
    """{"consensusTimestamp":8,"transactionRecord":{"transferList":{"accountAmounts":[null]}}}""",
    """{"consensusTimestamp":9,"transactionRecord":{"transactionHash":"AAEC"}}""",
    """{"consensusTimestamp":10,"transactionRecord":{"transactionHash":"YW Jj"}}""",
    """{"consensusTimestamp":11,"transactionType":99999999999999999999}""",
    """{"consensusTimestamp":12,"transactionType":1.5,"transaction":{"body":{"memo":42}}}""")

  /** A JSON value for `dt`: nulls, absent fields, empty arrays and null
    * elements at every level; int64s quoted, unquoted and malformed. */
  private def gen(r: Random, dt: DataType): String = dt match {
    case _ if r.nextInt(10) == 0 => "null"
    case StructType(fields) =>
      fields.filter(_ => r.nextInt(5) != 0)
        .map(f => s""""${f.name}":${gen(r, f.dataType)}""").mkString("{", ",", "}")
    case ArrayType(elem, _) =>
      Seq.fill(r.nextInt(4))(if (r.nextInt(6) == 0) "null" else gen(r, elem))
        .mkString("[", ",", "]")
    case LongType => r.nextInt(6) match {
      case 0 => s""""${r.nextLong()}""""
      case 1 => "\"12x\""
      case 2 => "\"\""
      case _ => r.nextLong().toString
    }
    case BinaryType =>
      val bytes = Array.fill(r.nextInt(40))(r.nextInt(256).toByte)
      s""""${java.util.Base64.getEncoder.encodeToString(bytes)}""""
    case _ => if (r.nextBoolean()) s""""s${r.nextInt(1000)}"""" else r.nextInt(1000).toString
  }

  /** Lines whose key is mostly valid (quoted or not), sometimes malformed
    * or absent, so the ok-filter is exercised too. */
  private def generatedLines(n: Int): Seq[String] = {
    val r = new Random(42)
    (1 to n).map { i =>
      val key = r.nextInt(20) match {
        case 0 => Seq("\"consensusTimestamp\":\"bad\"")
        case 1 => Nil
        case k => Seq(if (k % 2 == 0) s""""consensusTimestamp":"$i"""" else s""""consensusTimestamp":$i""")
      }
      val fields = TransactionSchema.payload.fields.tail.filter(_ => r.nextInt(5) != 0)
        .map(f => s""""${f.name}":${gen(r, f.dataType)}""")
      (key ++ fields).mkString("{", ",", "}")
    }
  }

  private def typedJson(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).sorted.toSeq

  test("one-node cast is byte-identical to the recursive cast tree") {
    import spark.implicits._
    val golden = spark.read.text(getClass.getResource("/golden/transactions.jsonl").getPath)
    val raw = golden.union((edgeLines ++ generatedLines(600)).toDF("value"))
    val parsed = TransactionTransform.parseRaw(raw)
    val typed = TransactionTransform.typedRows(parsed)
    assert(typed.schema === TransactionSchema.table)
    typed.schema.zip(TransactionSchema.table).foreach { case (a, b) =>
      assert(a.metadata === b.metadata, a.name)
    }
    val got = typedJson(typed)
    val want = typedJson(Reference.typedRows(parsed))
    assert(got.size > 500, "most generated lines carry a valid key")
    assert(got === want)
  }

  test("edge lines: null struct stays null, null elements stay null, bad leaf is null") {
    import spark.implicits._
    val typed = TransactionTransform.typedRows(TransactionTransform.parseRaw(edgeLines.toDF("value")))
    def at(ts: Long) = typed.filter(col("consensusTimestamp") === ts)
    assert(at(3).select(col("transactionType"), col("entity.shardNum")).head().toSeq === Seq(null, null))
    assert(at(6).select(to_json(col("nonFeeTransfers"))).head().getString(0) ===
      """[null,{"amount":5},{}]""")
    assert(at(7).select(col("entity").isNull, col("transaction.body").isNull).head().toSeq ===
      Seq(true, true))
    assert(at(9).select(col("transactionRecord.transactionHash")).head().getAs[Array[Byte]](0)
      .toSeq === Seq[Byte](0, 1, 2))
  }
}
