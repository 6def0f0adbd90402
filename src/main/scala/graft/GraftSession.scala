package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession configuration for the Graft engine.
  *
  * Every entry point (Verify, Bench, tests, user code) goes through here so
  * that the semantics-bearing configs are applied uniformly:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the `events` test table (and
  *    any nanosecond-precision event stream) stores parquet TIMESTAMP(NANOS).
  *    Nanos exceed Spark's microsecond TimestampType exactly as they exceed
  *    BigQuery TIMESTAMP precision; the reference therefore keeps the raw
  *    nanosecond value as an int64 and derives a truncated TIMESTAMP column
  *    (reference: hedera-etl-bigquery/src/main/java/com/hedera/etl/
  *    TransactionJsonToTableRow.java:57-58). Reading nanos as LongType is the
  *    same discipline: the long is the identity/dedup key, truncation is
  *    explicit and opt-in.
  *  - UTC session timezone: deterministic timestamp/date derivations.
  *  - AQE on: runtime coalescing + skew-join handling — the knobs we rely on
  *    for the 100 TB target where static partition counts are always wrong.
  *  - dynamic partitionOverwriteMode: partition-scoped replace is the engine's
  *    MERGE-ON-FALSE analog (reference RemoveDuplicatesTemplateQuery.java:29-43
  *    rewrites only the windowed partition range, never the table).
  */
object GraftSession {

  /** Apply Graft's semantic configs to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Catalyst extensions: native SQL functions + the derived-time
      // predicate pushdown rule (graft.plans.DerivedTimeFilterPushdown).
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Static conf, default 100: a workload with dozens of concurrent plans
      // (the registry alone codegens >100 whole-stage kernels) evicts live
      // entries, so a repeated query re-generates + re-loads a fresh class
      // that starts interpreted and queues behind a saturated C2 compiler —
      // observed as intermittent 5-30x CPU blowups with zero GC. A long-
      // running engine re-runs near-identical plans constantly; size the
      // cache for the working set.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")

  /** Local session sized for this machine; `cpus` doubles as the shuffle
    * parallelism (local mode: one JVM, `cpus` executor threads — 200 default
    * shuffle partitions would be pure scheduling overhead).
    */
  def local(cpus: Int, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cpus]").appName(appName),
      shufflePartitions = cpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def localFromEnv(appName: String): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors())), appName)
}
