package graft.hedera

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The T of the ETL: raw JSON line → typed nested row + derived columns,
  * with a dead-letter split. Mirrors the semantics of the reference's
  * TransactionJsonToTableRow (hedera-etl-bigquery/src/main/java/com/hedera/
  * etl/TransactionJsonToTableRow.java:52-66) + BigQueryErrorsSink error rows
  * (BigQueryErrorsSink.java:67-90):
  *
  *  - int64s arrive both quoted and unquoted (the protobuf-JSON convention —
  *    see the reference fixture transactions.txt): parse with a string-leaf
  *    image of the schema, then cast leaf-by-leaf (`castToSchema`), which
  *    accepts both forms exactly as BigQuery ingest does.
  *  - unknown fields (sigMap, exchangeRate, generateRecord, …) are silently
  *    dropped (`ignoreUnknownValues` parity, PubSubToBigQueryPipeline.java:46)
  *    — from_json keeps only schema fields.
  *  - BYTES fields are base64 → `unbase64` to BinaryType.
  *  - derived: consensusTimestampTruncated = µs-floor of the ns long
  *    (TransactionJsonToTableRow.java:57-58); day = its DATE (the write
  *    partition column); dedupe flag = null.
  *  - rejected rows → errors DataFrame {tableRow, errors} (errors-schema.json
  *    shape), never dropped, with the failure CAUSE distinguished the way the
  *    reference surfaces per-row insert errors (BigQueryErrorsSink.java:67-90
  *    carries BigQuery's reason/message pairs): malformed JSON vs missing
  *    required key vs key cast failure.
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

  /** Recursive cast from the stringified parse to the target schema. Null
    * structs stay null (a bare `struct(children)` would resurrect them as
    * structs-of-nulls). Leaf casts are `try_cast`: under ANSI mode (Spark 4
    * default) a plain cast THROWS on a malformed numeric, and one bad field
    * in one row must dead-letter that row (BigQuery insert-error parity),
    * never kill the batch. The required key field is validated explicitly
    * in the ok-predicate; other malformed leaves null out, the lenient
    * half of `ignoreUnknownValues` ingest. */
  def castToSchema(c: Column, dt: DataType): Column = dt match {
    case StructType(fields) =>
      when(c.isNull, lit(null).cast(dt)).otherwise(
        struct(fields.map(f => castToSchema(c.getField(f.name), f.dataType).as(f.name)): _*))
    case ArrayType(elem, _) => transform(c, x => castToSchema(x, elem))
    case BinaryType => unbase64(c)
    case _ => c.try_cast(dt)
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

  /** Typed branch of a parsed frame. */
  def typedRows(parsed: DataFrame): DataFrame =
    parsed.filter(okPredicate)
      .select(castToSchema(col("j").dropFields("_corrupt"), TransactionSchema.payload).as("t"))
      .select(col("t.*"))
      .withColumn("consensusTimestampTruncated",
        timestamp_micros(expr("consensusTimestamp div 1000")))
      .withColumn("dedupe", lit(null).cast(LongType))
      .withColumn("day", to_date(col("consensusTimestampTruncated")))
      .select(TransactionSchema.table.fields.map(f => col(f.name).as(f.name, f.metadata)): _*)

  /** Dead-letter branch of a parsed frame (errors-schema.json shape): the
    * raw line plus a JSON list of {reason, message} mirroring the insert
    * errors the reference records (BigQueryErrorsSink.java:67-90). */
  def errorRows(parsed: DataFrame): DataFrame = {
    val message =
      when(malformed, lit("Unable to parse transaction json"))
        .when(missingKey, lit("Missing required field: consensusTimestamp"))
        .otherwise(concat(lit("Invalid int64 for consensusTimestamp: "),
          col("j.consensusTimestamp")))
    parsed.filter(!okPredicate)
      .select(col("value").as("tableRow"),
        to_json(array(struct(lit("invalid").as("reason"), message.as("message"))))
          .as("errors"))
  }

  /** Raw lines (`value` string column) → (typed rows, error rows). */
  def parse(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = parseRaw(raw)
    (typedRows(parsed), errorRows(parsed))
  }
}
