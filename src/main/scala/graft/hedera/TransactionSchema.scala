package graft.hedera

import org.apache.spark.sql.types._

/** Canonical nested schema of the `transactions` fact table, transcribed
  * from the reference's BigQuery schema
  * (hedera-etl-bigquery/src/main/resources/transactions-schema.json:1-402):
  * INTEGER→Long, STRING→String, BYTES→Binary (base64 in the JSON wire form),
  * TIMESTAMP→TimestampType (µs), RECORD→Struct, REPEATED RECORD→Array.
  *
  * `consensusTimestamp` stays LongType *nanoseconds* — nanos are the
  * uniqueness source for dedup (AbstractDeduplication.java:52) and exceed
  * both BigQuery and Spark timestamp precision; only the derived
  * `consensusTimestampTruncated` is a real timestamp
  * (TransactionJsonToTableRow.java:57-58).
  *
  * The engine-side table adds a `day` DATE partition column (reference: DAY
  * partitioning on the truncated timestamp, scripts/create-tables.sh:14-15)
  * and the `dedupe` INTEGER flag.
  */
object TransactionSchema {

  private def s(fields: StructField*): StructType = StructType(fields)
  private def f(name: String, t: DataType): StructField = StructField(name, t, nullable = true)

  val accountId: StructType = s(
    f("shardNum", LongType), f("realmNum", LongType), f("accountNum", LongType))

  private val timestampSec: StructType = s(f("seconds", LongType), f("nanos", LongType))

  val entity: StructType = s(
    f("shardNum", LongType), f("realmNum", LongType),
    f("entityNum", LongType), f("type", LongType))

  val body: StructType = s(
    f("transactionID", s(
      f("transactionValidStart", timestampSec),
      f("accountID", accountId))),
    f("nodeAccountID", accountId),
    f("transactionFee", LongType),
    f("transactionValidDuration", s(f("seconds", LongType))),
    f("memo", StringType),
    f("cryptoCreateAccount", s(
      f("initialBalance", LongType),
      f("proxyAccountID", accountId))),
    f("contractCall", s(
      f("gas", LongType), f("amount", LongType),
      f("functionParameters", BinaryType))),
    f("contractCreateInstance", s(
      f("gas", LongType), f("initialBalance", LongType),
      f("proxyAccountID", accountId),
      f("constructorParameters", BinaryType),
      f("memo", StringType))),
    f("cryptoAddClaim", s(f("claim", s(f("hash", BinaryType))))),
    f("consensusSubmitMessage", s(f("message", BinaryType))),
    f("fileCreate", s(f("contents", BinaryType))),
    f("fileAppend", s(f("contents", BinaryType))),
    f("fileUpdate", s(f("contents", BinaryType))))

  val accountAmount: StructType = s(f("accountID", accountId), f("amount", LongType))

  val transactionRecord: StructType = s(
    f("receipt", s(
      f("status", StringType),
      f("topicSequenceNumber", LongType),
      f("topicRunningHash", BinaryType))),
    f("transactionHash", BinaryType),
    f("transactionFee", LongType),
    f("contractCallResult", s(
      f("contractCallResult", BinaryType),
      f("errorMessage", StringType),
      f("gasUsed", LongType))),
    f("contractCreateResult", s(
      f("contractCallResult", BinaryType),
      f("errorMessage", StringType),
      f("gasUsed", LongType))),
    f("transferList", s(
      f("accountAmounts", ArrayType(accountAmount))))
  )

  /** Wire-facing payload schema (what arrives as JSON). */
  val payload: StructType = s(
    f("consensusTimestamp", LongType),
    f("transactionType", LongType),
    f("entity", entity),
    f("transaction", s(f("body", body))),
    f("transactionRecord", transactionRecord),
    f("nonFeeTransfers", ArrayType(accountAmount)))

  /** At-rest table schema: payload + derived/partition/bookkeeping columns. */
  val table: StructType = StructType(
    f("consensusTimestampTruncated", TimestampType) +:
      payload.fields :+
      f("dedupe", LongType) :+
      f("day", DateType))

  /** errors dead-letter table (errors-schema.json:1-12). */
  val errors: StructType = s(f("tableRow", StringType), f("errors", StringType))

  /** transaction_types dimension seed
    * (transaction-types.csv:1-21, seeded by scripts/create-tables.sh:32-59). */
  val transactionTypes: Seq[(Long, String)] = Seq(
    7L -> "CONTRACTCALL", 8L -> "CONTRACTCREATEINSTANCE",
    9L -> "CONTRACTUPDATEINSTANCE", 10L -> "CRYPTOADDLIVEHASH",
    11L -> "CRYPTOCREATEACCOUNT", 12L -> "CRYPTODELETE",
    13L -> "CRYPTODELETELIVEHASH", 14L -> "CRYPTOTRANSFER",
    15L -> "CRYPTOUPDATEACCOUNT", 16L -> "FILEAPPEND", 17L -> "FILECREATE",
    18L -> "FILEDELETE", 19L -> "FILEUPDATE", 20L -> "SYSTEMDELETE",
    21L -> "SYSTEMUNDELETE", 22L -> "CONTRACTDELETEINSTANCE", 23L -> "FREEZE",
    24L -> "CONSENSUSCREATETOPIC", 25L -> "CONSENSUSUPDATETOPIC",
    26L -> "CONSENSUSDELETETOPIC", 27L -> "CONSENSUSSUBMITMESSAGE")
}
