package graft.hedera

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expressions.CastToSchema

/** The T of the ETL: raw JSON line → typed nested row + derived columns,
  * with a dead-letter split. Mirrors the semantics of the reference's
  * TransactionJsonToTableRow (hedera-etl-bigquery/src/main/java/com/hedera/
  * etl/TransactionJsonToTableRow.java:52-66) + BigQueryErrorsSink error rows
  * (BigQueryErrorsSink.java:67-90):
  *
  *  - int64s arrive both quoted and unquoted (the protobuf-JSON convention —
  *    see the reference fixture transactions.txt): parse with a string-leaf
  *    image of the schema, then cast it to the payload schema in one
  *    Catalyst node ([[graft.expressions.CastToSchema]]: Spark's own TRY
  *    cast per leaf), which accepts both forms exactly as BigQuery ingest
  *    does.
  *  - unknown fields (sigMap, exchangeRate, generateRecord, …) are silently
  *    dropped (`ignoreUnknownValues` parity, PubSubToBigQueryPipeline.java:46)
  *    — from_json keeps only schema fields.
  *  - BYTES fields are base64 → Spark's `UnBase64` to BinaryType; a value
  *    the decoder rejects is null, like a malformed numeric leaf.
  *  - derived: consensusTimestampTruncated = µs-floor of the ns long
  *    (TransactionJsonToTableRow.java:57-58); day = its DATE (the write
  *    partition column); dedupe flag = null.
  *  - rejected rows → errors DataFrame {tableRow, errors} (errors-schema.json
  *    shape), never dropped, with the failure CAUSE distinguished the way the
  *    reference surfaces per-row insert errors (BigQueryErrorsSink.java:67-90
  *    carries BigQuery's reason/message pairs): malformed JSON vs missing
  *    required key vs key cast failure. The same classification and
  *    message build both the standalone dead-letter branch (`errorRows`) and
  *    the per-row dead letter the ingest write pass captures
  *    (`deadLetterOrNull`), so the taxonomy lives in one place.
  */
object TransactionTransform {

  /** Leaf-stringified image of a schema (structure kept, scalars → string):
    * the lenient parse target. */
  def stringified(dt: DataType): DataType = dt match {
    case StructType(fields) =>
      StructType(fields.map(f => f.copy(dataType = stringified(f.dataType))))
    case ArrayType(elem, n) => ArrayType(stringified(elem), n)
    case _ => StringType
  }

  private val parsedSchema: StructType =
    stringified(TransactionSchema.payload).asInstanceOf[StructType]
      .add("_corrupt", StringType)

  /** Lenient parse stage: raw `value` + parsed struct `j`. */
  def parseRaw(raw: DataFrame): DataFrame =
    raw.select(
      col("value"),
      from_json(col("value"), parsedSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")).as("j"))


  // Rejection taxonomy (checked in order; a row is rejected iff any holds):
  //  1. malformed  — the line is not parseable JSON at all;
  //  2. missing key — valid JSON without the required consensusTimestamp
  //     (TransactionJsonToTableRow.java:54 throws on the missing key);
  //  3. cast failure — the key is present but not a valid int64, so the
  //     typed row would carry a null identity (the column is REQUIRED in
  //     the reference schema, transactions-schema.json).
  private def malformed = col("j").isNull || col("j._corrupt").isNotNull
  private def missingKey = col("j.consensusTimestamp").isNull
  private def keyCastFails = col("j.consensusTimestamp").try_cast(LongType).isNull

  private def okPredicate = !malformed && !missingKey && !keyCastFails

  /** Typed branch of a parsed frame. The cast is ONE expression
    * ([[graft.expressions.CastToSchema]]) whose semantics are the lenient
    * half of `ignoreUnknownValues` ingest: null structs stay null, arrays
    * map element by element, and every leaf is Spark's TRY cast (BYTES:
    * base64 decode), so a malformed leaf is null — under ANSI mode (Spark 4
    * default) a plain cast THROWS, and one bad field in one row must never
    * kill the batch. Only the required key is validated, in the
    * ok-predicate: a row whose key fails the cast is dead-lettered
    * (BigQuery insert-error parity). */
  def typedRows(parsed: DataFrame): DataFrame =
    parsed.filter(okPredicate)
      .select(CastToSchema(col("j"), TransactionSchema.payload).as("t"))
      .select(col("t.*"))
      .withColumn("consensusTimestampTruncated",
        timestamp_micros(expr("consensusTimestamp div 1000")))
      .withColumn("dedupe", lit(null).cast(LongType))
      .withColumn("day", to_date(col("consensusTimestampTruncated")))
      .select(TransactionSchema.table.fields.map(f => col(f.name).as(f.name, f.metadata)): _*)

  /** A parsed row's dead letter (errors-schema.json shape): the raw line
    * plus a JSON list of {reason, message} mirroring the insert errors the
    * reference records (BigQueryErrorsSink.java:67-90). */
  private def deadLetter: Seq[Column] = {
    val message =
      when(malformed, lit("Unable to parse transaction json"))
        .when(missingKey, lit("Missing required field: consensusTimestamp"))
        .otherwise(concat(lit("Invalid int64 for consensusTimestamp: "),
          col("j.consensusTimestamp")))
    Seq(col("value").as("tableRow"),
      to_json(array(struct(lit("invalid").as("reason"), message.as("message")))).as("errors"))
  }

  /** Dead-letter branch of a parsed frame. */
  def errorRows(parsed: DataFrame): DataFrame =
    parsed.filter(!okPredicate).select(deadLetter: _*)

  /** A parsed row's dead letter as one struct, null for an accepted row —
    * the `errorRows` row of a rejected line, in the form a per-row
    * aggregate can gather ([[graft.expressions.CollectBounded]]). */
  private[hedera] def deadLetterOrNull: Column = when(!okPredicate, struct(deadLetter: _*))

  /** Raw lines (`value` string column) → (typed rows, error rows). */
  def parse(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = parseRaw(raw)
    (typedRows(parsed), errorRows(parsed))
  }
}
