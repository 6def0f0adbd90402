package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.hedera._

/** Pipeline-rate measurements against BASELINE.md's engine-side targets:
  * batch ingest ≥100k rows/s at sf0.1, one incremental dedupe run well
  * inside the reference's 5-minute schedule.
  *
  * The ingest corpus is synthesized distributed (events → hedera-shaped
  * JSON via `to_json(struct(...))`), so the measurement covers the real
  * path: text scan → lenient parse → nested cast → derive → day-partitioned
  * clustered parquet write + dead-letter split.
  */
object PipelineBench {

  final case class Rates(
      ingestRows: Long, ingestSec: Double, ingestRowsPerSec: Double,
      dedupeSec: Double, dedupeDuplicates: Long,
      ingestCpuSec: Double, dedupeCpuSec: Double,
      windowedDedupeSec: Double = -1)

  /** events columns → minimal hedera-shaped JSON payload struct (ns key,
    * nested body, transfer list). Shared by the uniform corpus here and the
    * adversarial-skew corpus (GenSkew). */
  private[graft] def hederaPayload: org.apache.spark.sql.Column = struct(
      col("ts").as("consensusTimestamp"),
      (col("event_id") % 21 + 7).as("transactionType"),
      struct(struct(
        col("props").as("memo"),
        col("user_id").as("transactionFee")).as("body")).as("transaction"),
      struct(
        struct(lit("SUCCESS").as("status")).as("receipt"),
        (col("value") * 100).cast("long").as("transactionFee"),
        struct(array(
          struct(struct(lit(0L).as("shardNum"), lit(0L).as("realmNum"),
            col("user_id").as("accountNum")).as("accountID"),
            (-col("value") * 100).cast("long").as("amount")),
          struct(struct(lit(0L).as("shardNum"), lit(0L).as("realmNum"),
            lit(3L).as("accountNum")).as("accountID"),
            (col("value") * 100).cast("long").as("amount"))
        ).as("accountAmounts")).as("transferList")).as("transactionRecord"))

  /** Uniform corpus: every 5th row duplicated, the reference generator's
    * recipe (TransactionsGenerator.java:70-81). */
  private[graft] def jsonCorpus(spark: SparkSession, sfDir: String, outDir: String): Long = {
    val ev = Tables.load(spark, sfDir, "events")
    val withDups = ev.select(to_json(hederaPayload).as("value"), col("event_id"))
      .withColumn("copies", when(col("event_id") % 5 === 0, 2).otherwise(1))
      .select(explode(array_repeat(col("value"), col("copies"))).as("value"))
    val n = withDups.count()
    withDups.select("value").write.mode("overwrite").text(outDir)
    n
  }

  def run(spark: SparkSession, sfDir: String, listener: TaskMetricsListener): Rates =
    BenchUtil.withTempDir("graft-pipebench") { base =>
      jsonCorpus(spark, sfDir, s"$base/in")
      measure(spark, base, s"$base/in", listener)
    }

  /** Ingest + one incremental dedupe over a prepared JSONL corpus dir —
    * shared by the uniform run above and the skewed run (GenSkew.bench),
    * so the two rates are measured by identical machinery. */
  private[graft] def measure(spark: SparkSession, base: String, inDir: String,
      listener: TaskMetricsListener): Rates = {
    def cpuNs: Long = listener.settled().cpuNs

    val table = new TransactionsTable(spark, s"$base/transactions")
    val errors = new ErrorsTable(spark, s"$base/errors")
    // preDedupe off: the dedupe JOB is what we measure downstream
    val pipe = new IngestPipeline(spark, table, errors, preDedupe = false)

    // Warmup: one small batch into a throwaway table pays the one-time
    // codegen + JIT of the parse/cast/write kernels (~1-2 s on a cold JVM),
    // exactly like the query loop's untimed warmup run. The streaming
    // pipeline this measures runs micro-batch after micro-batch on a warm
    // JVM, so steady-state throughput is the honest number.
    locally {
      val wuDir = s"$base/warmup-in"
      spark.read.text(inDir).limit(2000).write.mode("overwrite").text(wuDir)
      val wuTable = new TransactionsTable(spark, s"$base/warmup-transactions")
      val wuErrors = new ErrorsTable(spark, s"$base/warmup-errors")
      new IngestPipeline(spark, wuTable, wuErrors, preDedupe = false).ingestBatch(wuDir)
      // Warm the DEDUPE kernels too: codegen sources depend on schema +
      // operators (not paths), so this tiny run compiles exactly the
      // classes the timed incremental run reuses. Without it, the timed
      // dedupe occasionally lands on a saturated C2 queue and executes
      // interpreted end-to-end (observed: 1194 task-CPU-s vs 85 on
      // identical data — a 14x bimodal blowup, not noise).
      val wuState = new StateStore(spark, s"$base/warmup-state")
      new Deduplication.Job(spark, wuTable, wuState,
        Deduplication.Config(catchupIntervalUs = Long.MaxValue / 4)).runIncremental()
    }
    // The corpus generation just before this leaves the young gen full of
    // shuffle/codegen debris; without a collection here the timed batch
    // starts by paying that GC debt (measured: ~21k rows/s in-bench vs ~34k
    // isolated on the same code). Collect outside the timed window.
    System.gc()

    val c0 = cpuNs
    val t0 = System.nanoTime()
    val (landed, _) = pipe.ingestBatch(inDir)
    val ingestSec = (System.nanoTime() - t0) / 1e9
    val ingestCpu = (cpuNs - c0) / 1e9

    // O(window) evidence: one DEFAULT-config incremental run (6 h catch-up
    // window) in the STEADY-STATE shape — checkpoint parked 12 h behind the
    // ingested head, the scheduled job's position after any tick. It runs
    // BEFORE the backfill below so the window still contains its share of
    // planted duplicates and the timed wall covers a REAL repair (probe +
    // detect + day rewrite), all pruned to the head days — proportional to
    // the window, not the table, so near-constant as the corpus scales
    // 10×/100× while the backfill number grows linearly. (A zero
    // checkpoint would instead measure the backfill probe: an O(table)
    // min/max scan by design.)
    val maxTsUs = table.read()
      .agg(max(unix_micros(col("consensusTimestampTruncated")))).head().getLong(0)
    val wState = new StateStore(spark, s"$base/state-windowed")
    wState.set(Deduplication.IncrementalStateKey,
      (maxTsUs - 12L * 3600 * 1000000).toString)
    val wJob = new Deduplication.Job(spark, table, wState)
    val t2 = System.nanoTime()
    val wRes = wJob.runIncremental()
    val windowedSec = (System.nanoTime() - t2) / 1e9

    val state = new StateStore(spark, s"$base/state")
    val job = new Deduplication.Job(spark, table, state,
      Deduplication.Config(catchupIntervalUs = Long.MaxValue / 4))
    val c1 = cpuNs
    val t1 = System.nanoTime()
    val res = job.runIncremental()
    val dedupeSec = (System.nanoTime() - t1) / 1e9
    val dedupeCpu = (cpuNs - c1) / 1e9

    // Deletion of the ~0.5 GB corpus + tables is the CALLER's finally
    // (run / GenSkew.bench): leaking them across bench runs builds
    // dirty-page writeback pressure that shows up as wall-time inflation
    // at constant CPU in later runs' write phases.
    Rates(landed, ingestSec, landed / ingestSec, dedupeSec,
      res.duplicatesRemoved + wRes.duplicatesRemoved, ingestCpu, dedupeCpu,
      windowedSec)
  }
}
