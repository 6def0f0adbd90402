package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source layer (SURVEY.md §2.1): the engine's readers, batch and streaming.
  *
  * | Reference source | Here |
  * |---|---|
  * | S1 PubSub JSON stream  | `streamJsonLines` (file source + checkpoint; Kafka drop-in where available) |
  * | S2 warehouse table scan | `parquetTable` (schema-pinned) |
  * | S3 classpath resource   | `resourceCsv` |
  * | S4 CSV seed dimension   | `transactionTypesDim` (transaction-types.csv, seeded like scripts/create-tables.sh:32-59) |
  */
object Sources {

  /** Streaming JSONL lines (exactly-once with a checkpointed writer). */
  def streamJsonLines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir)

  /** Schema-pinned parquet table scan. */
  def parquetTable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** CSV with an explicit schema (no inference pass — a schema-inference
    * scan over a 100 TB input is a full extra read). */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** Classpath-resource CSV (the reference loads its schemas/seeds from
    * resources — Utility.java:32-38). Small by definition: parsed on the
    * driver, parallelized as a local relation.
    */
  def resourceCsv(spark: SparkSession, resource: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing resource $resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split(",").map(_.trim)).toList
    finally in.close()
  }

  /** The transaction_types dimension from its CSV seed
    * (src/main/resources/transaction-types.csv, after the reference's
    * transaction-types.csv + create-tables.sh:32-59 seeding). */
  def transactionTypesDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    resourceCsv(spark, "/transaction-types.csv")
      .map(r => (r(0).toLong, r(1).stripPrefix("\"").stripSuffix("\"")))
      .toDF("id", "name")
  }
}
