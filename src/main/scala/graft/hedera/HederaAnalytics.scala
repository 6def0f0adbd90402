package graft.hedera

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing analytics over the transactions table — the queries the
  * reference's warehouse exists to serve (SURVEY.md §7.1.6): type-decoded
  * rollups via the transaction_types dimension (created+seeded by
  * scripts/create-tables.sh:32-59), transfer-list explodes (the flattening
  * the design doc chose not to materialize — docs/design/1_hedera_etl.md:
  * 93-94), and per-day/per-entity aggregates.
  *
  * Plan shapes: the dimension is broadcast (21 rows); explodes stay inside
  * whole-stage codegen; day-grouped rollups aggregate partially before the
  * single shuffle. Filters on `day`, and time predicates on
  * `consensusTimestamp` or `consensusTimestampTruncated` (through the `day`
  * range DerivedTimeFilterPushdown derives), prune `day` partitions;
  * filters on `transactionType` prune parquet row groups (the write layer
  * clusters by transactionType).
  */
object HederaAnalytics {

  /** The transaction_types dimension as a DataFrame. */
  def transactionTypes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    TransactionSchema.transactionTypes.toDF("id", "name")
  }

  /** Transactions with the type decoded (J3). */
  def withTypeName(spark: SparkSession, txns: DataFrame): DataFrame =
    txns.join(broadcast(transactionTypes(spark)),
      txns("transactionType") === col("id"), "left")
      .drop("id")
      .withColumnRenamed("name", "transactionTypeName")

  /** Daily transaction counts and fees per decoded type. */
  def dailyTypeRollup(spark: SparkSession, txns: DataFrame): DataFrame =
    withTypeName(spark, txns)
      .groupBy(col("day"), col("transactionTypeName"))
      .agg(
        count(lit(1)).as("n_txns"),
        sum(col("transactionRecord.transactionFee")).as("total_fee"))

  /** Flattened transfer list: one row per (txn, accountAmount). */
  def explodedTransfers(txns: DataFrame): DataFrame =
    txns.select(
      col("consensusTimestamp"),
      col("day"),
      explode(col("transactionRecord.transferList.accountAmounts")).as("aa"))
      .select(
        col("consensusTimestamp"),
        col("day"),
        col("aa.accountID.shardNum").as("shardNum"),
        col("aa.accountID.realmNum").as("realmNum"),
        col("aa.accountID.accountNum").as("accountNum"),
        col("aa.amount").as("amount"))

  /** Net tinybar flow per account (credit/debit rollup over transfers). */
  def accountNetFlow(txns: DataFrame): DataFrame =
    explodedTransfers(txns)
      .groupBy(col("shardNum"), col("realmNum"), col("accountNum"))
      .agg(
        sum(col("amount")).as("net_amount"),
        sum(when(col("amount") > 0, col("amount")).otherwise(0L)).as("credited"),
        sum(when(col("amount") < 0, -col("amount")).otherwise(0L)).as("debited"),
        count(lit(1)).as("n_transfers"))

  /** Per-entity activity (entity struct populated by the importer). */
  def entityActivity(txns: DataFrame): DataFrame =
    txns.filter(col("entity").isNotNull)
      .groupBy(col("entity.entityNum").as("entityNum"))
      .agg(
        count(lit(1)).as("n_txns"),
        min(col("consensusTimestamp")).as("first_seen_ns"),
        max(col("consensusTimestamp")).as("last_seen_ns"))
}
