package graft.hedera

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

/** Drives the application entry point end-to-end in `--once` mode over a
  * generated corpus with planted duplicates: ingest drains the input,
  * dedupe repairs the planted dupes, re-running on the same checkpoint is
  * a no-op (replay ledger), and arg parsing rejects garbage. */
class EtlAppSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  test("arg parsing: required args, defaults, unknown flags") {
    val a = EtlApp.parse(Array("--input", "/i", "--warehouse", "/w", "--once"))
    assert(a.once && a.input == "/i" && a.checkpoint == "/w/checkpoint")
    assert(a.incrementalMs == 300000L && a.fullMs == 86400000L && !a.preDedupe)
    assert(a.triggerMs == 1000L)
    intercept[IllegalArgumentException](EtlApp.parse(Array("--input", "/i")))
    intercept[IllegalArgumentException](EtlApp.parse(Array("--bogus")))
  }

  test("continuous mode: stream keeps watching the input; scheduler dedupes live") {
    val base = GraftTestSpark.tmpDir("graft-etlapp-cont")
    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val staged0 = s"$base/staged0"
    graft.PipelineBench.jsonCorpus(spark, GraftTestSpark.sfDir, staged0)
    val staged = s"$base/staged"
    // pin 4 files so the two feed waves are both non-empty at every SF
    spark.read.text(staged0).repartition(4).write.text(staged)
    val corpus = spark.read.text(staged)
    val distinctKeys = corpus.distinct().count()
    val corpusRows = corpus.count()
    val files = new java.io.File(staged).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val (wave1, wave2) = files.splitAt(math.max(1, files.length / 2))
    def feed(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(in, f.getName)): Unit
    }
    // An ad-hoc reader concurrent with a repair can catch a day swap
    // between its file listing and its scan (plain-parquet semantics —
    // see TransactionsTable.read scaladoc); like any such reader it
    // simply retries on the next tick.
    def safely(cond: => Boolean): Boolean =
      try cond catch { case _: org.apache.spark.SparkException => false }
    def poll(deadlineMs: Long = 120000)(cond: => Boolean): Boolean = {
      val end = System.currentTimeMillis() + deadlineMs
      var ok = safely(cond)
      while (!ok && System.currentTimeMillis() < end) { Thread.sleep(250); ok = safely(cond) }
      ok
    }
    // a VALUE read racing the scheduler's day swaps: retry like poll does
    def countRetrying(table: TransactionsTable): Long = {
      var attempts = 0
      while (true) {
        try return table.read().count()
        catch {
          case e: org.apache.spark.SparkException =>
            attempts += 1; if (attempts > 20) throw e; Thread.sleep(250)
        }
      }
      -1 // unreachable
    }

    val invocations0 = graft.metrics.Metrics.global.get(
      graft.metrics.Metrics.DedupeInvocations)
    val rows0 = graft.metrics.Metrics.global.get("ingest.rows")
    val h = EtlApp.start(spark, EtlApp.Args(
      input = in, warehouse = s"$base/wh", checkpoint = s"$base/wh/checkpoint",
      incrementalMs = 500L, fullMs = 3600000L, triggerMs = 100L))
    try {
      feed(wave1)
      assert(poll()(h.table.exists() && h.table.read().count() > 0),
        "wave 1 must land")
      val afterWave1 = countRetrying(h.table)
      // THE continuous-mode property: files arriving AFTER the first drain
      // are still picked up (an AvailableNow trigger would have terminated
      // the query and silently ignored them).
      feed(wave2)
      assert(poll()(h.table.read().count() > afterWave1),
        "wave 2 (fed after the first drain) must land — the stream must keep watching")
      // the fixed-rate scheduler is live alongside the stream
      assert(poll()(graft.metrics.Metrics.global.get(
        graft.metrics.Metrics.DedupeInvocations) > invocations0),
        "the dedupe scheduler must fire while the stream runs")
      // no interleaving may lose a key: every distinct corpus key is present
      assert(poll()(
        h.table.read().select("consensusTimestamp").distinct().count() == distinctKeys),
        "every distinct key must survive concurrent ingest + dedupe")
      // the deployable feeds its streaming metrics: every fed line counted once
      assert(poll()(graft.metrics.Metrics.global.get("ingest.rows") - rows0 == corpusRows),
        s"ingest.rows must rise by the $corpusRows ingested rows, rose by " +
          s"${graft.metrics.Metrics.global.get("ingest.rows") - rows0}")
    } finally h.stop()
  }

  test("kill mid-batch without drain: restart replays idempotently, dedupe leaves exactly-once") {
    // The ungraceful-death drill: stop() the continuous app with files still
    // in flight and the dedupe scheduler firing (no processAllAvailable, no
    // drain), restart on the same checkpoint, feed more. The batch-id
    // ledger must make replayed committed batches no-ops; the one genuine
    // duplicate window (crash between append and ledger mark) plus the
    // corpus's planted dups are repaired by dedupe — the end state is every
    // distinct key exactly once.
    val base = GraftTestSpark.tmpDir("graft-etlapp-kill")
    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val staged0 = s"$base/staged0"
    graft.PipelineBench.jsonCorpus(spark, GraftTestSpark.sfDir, staged0)
    val staged = s"$base/staged"
    spark.read.text(staged0).repartition(6).write.text(staged)
    val distinctKeys = spark.read.text(staged).distinct().count()
    val files = new java.io.File(staged).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val Array(wave1, wave2, wave3) = Array(files.slice(0, 2), files.slice(2, 4),
      files.slice(4, files.length))
    def feed(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(in, f.getName)): Unit
    }
    def poll(deadlineMs: Long = 120000)(cond: => Boolean): Boolean = {
      val end = System.currentTimeMillis() + deadlineMs
      def safely = try cond catch { case _: org.apache.spark.SparkException => false }
      var ok = safely
      while (!ok && System.currentTimeMillis() < end) { Thread.sleep(250); ok = safely }
      ok
    }
    val args = EtlApp.Args(
      input = in, warehouse = s"$base/wh", checkpoint = s"$base/wh/checkpoint",
      incrementalMs = 400L, fullMs = 3600000L, triggerMs = 50L)

    val h1 = EtlApp.start(spark, args)
    feed(wave1)
    assert(poll()(h1.table.exists() && h1.table.read().count() > 0), "wave 1 must land")
    feed(wave2) // in flight at the kill
    h1.stop()   // ungraceful: no drain — wave 2 may be mid-batch right now

    val h2 = EtlApp.start(spark, args) // same checkpoint: replay + resume
    try {
      feed(wave3)
      assert(poll()(h2.table.read().select("consensusTimestamp").distinct().count()
        == distinctKeys), "every distinct key must land across the kill/restart")
    } finally h2.stop()

    // quiesce deterministically: unbounded catch-up incremental + one full
    // pass for any replay below the checkpoint
    val job = new Deduplication.Job(spark, h2.table,
      new StateStore(spark, s"$base/wh/state"),
      Deduplication.Config(catchupIntervalUs = Long.MaxValue / 4))
    job.runIncremental()
    job.runFull()
    val totalRows = h2.table.read().count()
    val distinctRows = h2.table.read().select("consensusTimestamp").distinct().count()
    assert(distinctRows === distinctKeys, "no key lost")
    assert(totalRows === distinctKeys,
      "no duplicate survives: ledger-replayed batches were no-ops, the rest deduped")
  }

  test("--once pipeline: drain input, dedupe planted duplicates, idempotent rerun") {
    val base = GraftTestSpark.tmpDir("graft-etlapp")
    val in = s"$base/in"
    val rows = graft.PipelineBench.jsonCorpus(spark, GraftTestSpark.sfDir, in)
    assert(rows > 0)

    // The corpus generator duplicates every 5th row; after ingest + dedupe
    // the fact table must hold exactly the distinct keys.
    val warehouse = s"$base/wh"
    val table = new TransactionsTable(spark, s"$warehouse/transactions")
    val errors = new ErrorsTable(spark, s"$warehouse/errors")
    val state = new StateStore(spark, s"$warehouse/state")
    val pipe = new IngestPipeline(spark, table, errors, preDedupe = false)
    // same wiring as EtlApp --once: unbounded catch-up (backfill semantics)
    val job = new Deduplication.Job(spark, table, state,
      Deduplication.Config(catchupIntervalUs = Long.MaxValue / 4))

    val q = pipe.startStream(in, s"$warehouse/checkpoint",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val (inc, full) = new DedupeScheduler(job).runOnceNow()
    val landed = table.read().count()
    val distinctKeys = table.read().select("consensusTimestamp").distinct().count()
    assert(inc.duplicatesRemoved + full.duplicatesRemoved > 0,
      "planted duplicates must be removed")
    assert(landed == distinctKeys, "post-dedupe table holds one row per key")

    // Re-running the drained stream appends nothing (checkpoint + ledger).
    val q2 = pipe.startStream(in, s"$warehouse/checkpoint",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination()
    assert(table.read().count() == landed, "replay of a drained input is a no-op")
  }
}
