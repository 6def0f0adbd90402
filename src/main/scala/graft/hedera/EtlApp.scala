package graft.hedera

import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.metrics.Metrics

/** The application entry point a reference user switches to — the analog of
  * the reference's two deployables in one process: the ingest pipeline
  * (HederaETLApplication.java:27-29 — subscription in, fact + errors out)
  * and the scheduled deduplication service (IncrementalDeduplication.java:66
  * / FullDeduplication.java:62, fixed-rate with queued overruns).
  *
  * Usage:
  * {{{
  *   graft.hedera.EtlApp --input DIR --warehouse DIR [--checkpoint DIR]
  *     [--once] [--incremental-ms 300000] [--full-ms 86400000]
  *     [--trigger-ms 1000] [--pre-dedupe false]
  *     [--max-files-per-trigger 256]   (0 = unbounded intake)
  * }}}
  *
  *  - continuous (default): file-stream the input dir, start the dedupe
  *    scheduler at the reference's default rates, run until terminated.
  *    Concurrent ingest appends and dedupe day-swaps are safe against each
  *    other: the repair reads a pinned snapshot, the swap preserves files
  *    appended after it, and both serialize on the table's process-level
  *    write lock (TransactionsTable; proven by TableStoreCrashSpec's
  *    concurrent test, measured by StreamBench's `streaming` bench
  *    section).
  *  - `--once`: drain the input (Trigger.AvailableNow), run one
  *    incremental + full dedupe pair, print a summary line, exit — the
  *    cron-style invocation, and what EtlAppSpec drives end-to-end.
  *
  * Layout under `--warehouse`: `transactions/` (day-partitioned fact),
  * `errors/` (dead letters), `state/` (dedupe checkpoints). The checkpoint
  * dir defaults under the warehouse so a relocated warehouse carries its
  * replay ledger with it.
  */
object EtlApp {

  final case class Args(
      input: String = "", warehouse: String = "", checkpoint: String = "",
      once: Boolean = false, incrementalMs: Long = 300000L,
      fullMs: Long = 86400000L, triggerMs: Long = 1000L,
      preDedupe: Boolean = false,
      // Bounded intake by default: after an outage (or under a burst) the
      // backlog drains as a queue of ≤256-file batches instead of one
      // giant catch-up batch (see IngestPipeline.startStream). 0 = unbounded.
      maxFilesPerTrigger: Int = 256)

  private[hedera] def parse(argv: Array[String]): Args = {
    def loop(a: Args, rest: List[String]): Args = rest match {
      case "--input" :: v :: t => loop(a.copy(input = v), t)
      case "--warehouse" :: v :: t => loop(a.copy(warehouse = v), t)
      case "--checkpoint" :: v :: t => loop(a.copy(checkpoint = v), t)
      case "--once" :: t => loop(a.copy(once = true), t)
      case "--incremental-ms" :: v :: t => loop(a.copy(incrementalMs = v.toLong), t)
      case "--full-ms" :: v :: t => loop(a.copy(fullMs = v.toLong), t)
      case "--trigger-ms" :: v :: t => loop(a.copy(triggerMs = v.toLong), t)
      case "--pre-dedupe" :: v :: t => loop(a.copy(preDedupe = v.toBoolean), t)
      case "--max-files-per-trigger" :: v :: t => loop(a.copy(maxFilesPerTrigger = v.toInt), t)
      case Nil => a
      case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
    }
    val a = loop(Args(), argv.toList)
    require(a.input.nonEmpty && a.warehouse.nonEmpty, "--input and --warehouse are required")
    if (a.checkpoint.isEmpty) a.copy(checkpoint = s"${a.warehouse}/checkpoint") else a
  }

  /** Running handles of the continuous deployable — returned by [[start]]
    * so callers (main, tests) can await or stop it. `stop` also removes
    * the ingest metrics listener, so a later start in the same session
    * counts its rows once. */
  final case class Handles(
      query: org.apache.spark.sql.streaming.StreamingQuery,
      scheduler: DedupeScheduler,
      table: TransactionsTable,
      private val listener: Metrics.IngestListener) {
    def stop(): Unit = {
      scheduler.stop(); query.stop()
      query.sparkSession.streams.removeListener(listener)
    }
  }

  private def intakeBound(a: Args): Option[Int] =
    if (a.maxFilesPerTrigger > 0) Some(a.maxFilesPerTrigger) else None

  /** The warehouse wiring both modes share — one copy, so the layout can
    * never drift between continuous and `--once`. */
  private def wire(spark: org.apache.spark.sql.SparkSession, a: Args,
      dedupeCfg: Deduplication.Config):
      (TransactionsTable, IngestPipeline, Deduplication.Job) = {
    val table = new TransactionsTable(spark, s"${a.warehouse}/transactions")
    // Recover any crash-interrupted day swap BEFORE the stream can append:
    // recovery decides direction from on-disk markers either way, but
    // running it first keeps the common restart path (append into a day
    // whose swap died mid-rename) from ever observing the torn state.
    table.recoverSwaps()
    val errors = new ErrorsTable(spark, s"${a.warehouse}/errors")
    val state = new StateStore(spark, s"${a.warehouse}/state")
    val pipe = new IngestPipeline(spark, table, errors, preDedupe = a.preDedupe)
    (table, pipe, new Deduplication.Job(spark, table, state, dedupeCfg))
  }

  /** Wire and start continuous mode: a ProcessingTime-triggered file stream
    * that KEEPS WATCHING the input dir (an AvailableNow trigger here would
    * silently turn the service into a drain-and-exit batch job), plus the
    * fixed-rate dedupe scheduler. */
  def start(spark: org.apache.spark.sql.SparkSession, a: Args): Handles = {
    val (table, pipe, job) = wire(spark, a, Deduplication.Config())
    val listener = Metrics.installListener(spark)
    val q = pipe.startStream(a.input, a.checkpoint,
      Trigger.ProcessingTime(a.triggerMs), intakeBound(a))
    val sched = new DedupeScheduler(job, a.incrementalMs, a.fullMs)
    sched.start()
    Handles(q, sched, table, listener)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = GraftSession.localFromEnv("graft-etl")
    if (a.once) {
      // --once is a backfill: the whole ingested span must dedupe in THIS
      // invocation, so the catch-up cap is lifted (the bounded two-interval
      // probe is the scheduled service's behavior — the reference catches
      // up 6 h per 5-min tick; a cron-style one-shot would silently leave
      // old windows dirty).
      val (table, pipe, job) = wire(spark, a,
        Deduplication.Config(catchupIntervalUs = Long.MaxValue / 4))
      Metrics.installListener(spark)
      val q = pipe.startStream(a.input, a.checkpoint, Trigger.AvailableNow(),
        intakeBound(a))
      q.awaitTermination()
      val (inc, full) = new DedupeScheduler(job, a.incrementalMs, a.fullMs).runOnceNow()
      println(s"etl-once: rows=${table.read().count()} " +
        s"dupes_removed=${inc.duplicatesRemoved + full.duplicatesRemoved}")
      spark.stop()
    } else {
      val handles = start(spark, a)
      sys.addShutdownHook { handles.scheduler.stop() }
      handles.query.awaitTermination()
    }
  }
}
