package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.hedera._
import graft.metrics.MetricsRegistry

/** `etl_stream`: the reference's deployed shape. An open-loop generator
  * drops time-ordered JSONL files at a fixed offered rate into the feed of
  * `IngestPipeline(preDedupe = false).startStream` (ProcessingTime trigger,
  * bounded `maxFilesPerTrigger`); a benchmark thread runs
  * `Deduplication.Job.runIncremental()` after every [[DedupeEvery]]
  * committed micro-batches with a pinned window span. Once the live files
  * are committed the job runs [[QuietRuns]] more times with the stream
  * idle, and a backlog phase offers [[BacklogFiles]] files at once,
  * [[BacklogRounds]] times, timing each drain. */
object EtlStream {
  /** Many short days: a repair rewrites whole days, so with short days a
    * pinned-span window rewrites about the same rows wherever it falls. */
  val Days = 12
  val LinesPerFile = 40
  val LiveFiles = 100
  val BacklogFiles = 32
  val BacklogRounds = 3
  val IntakeBound = 32
  /** The trigger clocks the live phase: each batch takes what arrived in the
    * last interval (~30 files) and finishes well inside it, so a slower host
    * lengthens batches without letting them grow their own next intake.
    * Back-to-back triggers amplified a 20 % slower host into +40 % freshness. */
  val TriggerMs = 2000L
  val DedupeEvery = 2
  val QuietRuns = 3
  val SetupReps = 3
  private val DayUs = 86400L * 1000000L
  private val Phases = Seq("probe", "detect", "repair", "setState")
  private def totalFiles = LiveFiles + BacklogFiles * BacklogRounds
  /** Event time of ~2 files: less than what arrives between two dedupe
    * runs, so every live run covers the full span and does the same work. */
  private def spanUs = Days * DayUs / totalFiles * 2

  final case class DedupeRun(wallS: Double, spanUs: Long, days: Int, repaired: Boolean,
      phasesMs: Map[String, Long], t0: Long, t1: Long)

  final case class Pass(wallS: Double, freshnessS: Seq[Double], drains: Seq[(Long, Double)],
      runs: Seq[DedupeRun], quietRuns: Seq[DedupeRun], progress: Seq[Progress], lateMs: Seq[Double],
      backlogAtDrop: Seq[Int], gcMs: Long, failures: Long, liveValid: Boolean, wh: String)

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spec = HederaGen.Spec(Days, totalFiles, LinesPerFile)
    val stage = s"${ctx.work}/stage"
    var feed: HederaGen.Feed = null
    // Setup, repeated: input generation + staging of every feed file.
    val buildS = (1 to SetupReps).map { _ =>
      Stats.deleteTree(stage)
      Stats.timeS {
        feed = HederaGen.generate(ctx.seed, spec)
        Files.createDirectories(Paths.get(stage))
        feed.files.zipWithIndex.foreach { case (lines, i) =>
          HederaGen.writeFile(Paths.get(stage, f"part-$i%05d.json"), lines)
        }
      }._2
    }
    val warmS = Stats.timeS(warmUp(ctx))._2
    val gcS = Stats.timeS(System.gc())._2
    val setupS = ctx.sessionReadyS + Stats.median(buildS) + warmS + gcS

    val untraced = timedPass(ctx, feed, stage, "a")
    val pass =
      if (!ctx.trace) untraced
      else {
        val t = ctx.tracer.get
        t.install()
        try timedPass(ctx, feed, stage, "b") finally t.uninstall()
      }
    val heapMb = Stats.heapMb()
    // the layout as the stream left it, before the final drain rewrites days
    val shape = tableShape(ctx, s"${pass.wh}/transactions", feed.truth.uniqueKeys)

    verify(ctx, feed.truth, pass, out)
    out.ops += pass.freshnessS.size + pass.runs.size + pass.quietRuns.size + pass.drains.size
    out.failedOps += pass.failures
    out.check("live phase on schedule and backlog not growing", pass.liveValid)

    val fresh = pass.freshnessS
    val full = pass.quietRuns.filter(_.spanUs >= spanUs).map(_.wallS)
    out.endToEnd ++= Seq(
      "setup_s" -> setupS,
      "latency_s" -> Stats.median(fresh),
      "latency_p90_s" -> Stats.quantile(fresh, 0.9),
      "throughput_per_s" -> Stats.median(pass.drains.map { case (rows, s) => rows / s }),
      "dedupe_s" -> (if (full.nonEmpty) Stats.median(full) else Double.NaN),
      "heap_mb" -> heapMb)
    out.info ++= Seq(
      "offered_rows_per_s" -> ctx.offeredRowsPerS, "files" -> totalFiles,
      "lines_per_file" -> LinesPerFile, "live_files" -> LiveFiles,
      "freshness_samples" -> fresh.size, "dedupe_runs" -> pass.runs.size,
      "dedupe_quiet_full_span_runs" -> full.size, "drain_rounds_s" -> pass.drains.map(_._2),
      "dedupe_concurrent_s" -> pass.runs.map(_.wallS), "dedupe_quiet_s" -> pass.quietRuns.map(_.wallS),
      "gen_late_ms_max" -> (if (pass.lateMs.isEmpty) 0.0 else pass.lateMs.max),
      "backlog_files_max" -> (if (pass.backlogAtDrop.isEmpty) 0 else pass.backlogAtDrop.max),
      "setup_build_s" -> buildS, "setup_warmup_s" -> warmS,
      "truth_unique" -> feed.truth.uniqueKeys, "truth_dups" -> feed.truth.duplicates,
      "truth_malformed" -> feed.truth.malformed)
    if (ctx.trace) {
      layers(ctx, feed, pass, untraced, out)
      out.perLayer ++= shape
    }
    Stats.deleteTree(stage)
    out
  }

  /** One untimed pass of every op type: a short stream, an incremental
    * dedupe, and the ingest-split calls of the traced run. Codegen
    * classes depend on plan shape, not paths, so these are the kernels the
    * timed region reuses. */
  private def warmUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val wu = ctx.dir("warmup")
    val wfeed = HederaGen.generate(ctx.seed ^ 0x5DEECE66DL, HederaGen.Spec(1, 8, LinesPerFile))
    val in = ctx.dir("warmup/in")
    wfeed.files.zipWithIndex.foreach { case (l, i) =>
      HederaGen.writeFile(Paths.get(in, f"part-$i%05d.json"), l)
    }
    val table = new TransactionsTable(spark, s"$wu/transactions")
    val pipe = new IngestPipeline(spark, table, new ErrorsTable(spark, s"$wu/errors"),
      preDedupe = false, new MetricsRegistry)
    val q = pipe.startStream(in, s"$wu/checkpoint", Trigger.AvailableNow(), Some(2))
    q.awaitTermination(120000)
    q.stop()
    val job = new Deduplication.Job(spark, table, new StateStore(spark, s"$wu/state"),
      Deduplication.Config(steadyStateIntervalUs = spanUs, catchupIntervalUs = spanUs),
      new MetricsRegistry)
    (1 to 2).foreach(_ => job.runIncremental())
    table.read().agg(count(lit(1)), bit_xor(col("consensusTimestamp"))).collect()
    if (ctx.trace) ingestSplit(ctx, in, reps = 1)
    Stats.deleteTree(wu)
  }

  private def timedPass(ctx: Ctx, feed: HederaGen.Feed, stage: String, tag: String): Pass = {
    val spark = ctx.spark
    val wh = ctx.dir(s"wh-$tag")
    val feedDir = ctx.dir(s"feed-$tag")
    val reg = new MetricsRegistry
    val table = new TransactionsTable(spark, s"$wh/transactions")
    val pipe = new IngestPipeline(spark, table, new ErrorsTable(spark, s"$wh/errors"),
      preDedupe = false, reg)
    val job = new Deduplication.Job(spark, table, new StateStore(spark, s"$wh/state"),
      Deduplication.Config(steadyStateIntervalUs = spanUs, catchupIntervalUs = spanUs), reg)

    val nFiles = feed.files.size
    val commitNs = Array.fill(nFiles)(-1L)
    val filesDone = new AtomicLong(0)
    val batchesDone = new AtomicLong(0)
    val queryId = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val progress = new ConcurrentLinkedQueue[Progress]()
    val sourceLog = s"$wh/checkpoint/sources/0"
    // Which files a micro-batch read comes from the file source's own log
    // (numInputRows counts source rows per scan, and the ingest batch scans
    // its input twice when it holds dead letters).
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val now = System.nanoTime()
        val p = e.progress
        if (p.id == queryId.get) {
          val files = batchFiles(sourceLog, p.batchId)
          if (files.nonEmpty) {
            progress.add(Progress(p.batchId, files.map(feed.files(_).length.toLong).sum,
              p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, now))
            files.foreach(f => commitNs(f) = now)
            filesDone.addAndGet(files.size)
            batchesDone.incrementAndGet()
          }
        }
      }
    }

    val firstUs = feed.truth.minTsNs / 1000
    val runs = new ConcurrentLinkedQueue[DedupeRun]()
    val failures = new AtomicLong(0)
    val stop = new AtomicBoolean(false)
    // The deduper runs once the committed-batch count reaches `nextAt`; the
    // backlog phase parks the trigger (see below).
    val nextAt = new AtomicLong(DedupeEvery)
    val dedupeBusy = new AtomicBoolean(false)
    /** One timed `runIncremental()`, kept when it covered a window. */
    def dedupeRun(into: ConcurrentLinkedQueue[DedupeRun]): Unit = {
      Span.set(spark, "dedupe")
      Phases.foreach(p => reg.set(s"dedupe.job.runtime.$p", -1))
      val t0 = System.nanoTime()
      try {
        val r = job.runIncremental()
        val t1 = System.nanoTime()
        val phases = Phases.map(p => p -> reg.get(s"dedupe.job.runtime.$p")).toMap
        val days = (Math.floorDiv(r.windowEndUs, DayUs) -
          Math.floorDiv(math.max(r.windowStartUs, firstUs), DayUs) + 1).toInt
        if (r.windowEndUs > r.windowStartUs)
          into.add(DedupeRun((t1 - t0) / 1e9, r.windowEndUs - r.windowStartUs, days,
            phases("repair") >= 0, phases, t0, t1))
      } catch {
        case e: Throwable =>
          failures.incrementAndGet()
          System.err.println(s"perfbench: dedupe run failed: $e")
      }
    }
    val deduper = new Thread(() => {
      while (!stop.get()) {
        if (batchesDone.get() < nextAt.get) Thread.sleep(5)
        else {
          dedupeBusy.set(true)
          nextAt.set(batchesDone.get() + DedupeEvery)
          try dedupeRun(runs) finally dedupeBusy.set(false)
        }
      }
    }, "perfbench-dedupe")
    deduper.setDaemon(true)

    // A drop copies under a hidden name, then renames into the feed: the
    // file source never sees a partial file, and a whole backlog round
    // appears within the renames' ~1 ms instead of the copies' ~60 ms, so
    // the 100 ms trigger does not split it into an extra micro-batch.
    def drop(files: Range): Unit = {
      files.foreach { i =>
        val src = Paths.get(stage, f"part-$i%05d.json")
        Files.setLastModifiedTime(src, FileTime.fromMillis(System.currentTimeMillis()))
        Files.copy(src, Paths.get(feedDir, s".part-$i.tmp"), StandardCopyOption.REPLACE_EXISTING)
      }
      files.foreach { i =>
        Files.move(Paths.get(feedDir, s".part-$i.tmp"), Paths.get(feedDir, f"part-$i%05d.json"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    }
    def awaitFiles(n: Int, deadlineS: Double): Boolean = {
      val end = System.nanoTime() + (deadlineS * 1e9).toLong
      while (filesDone.get < n && System.nanoTime() < end) Thread.sleep(2)
      filesDone.get >= n
    }

    spark.streams.addListener(listener)
    val interval = (1e9 * LinesPerFile / ctx.offeredRowsPerS).toLong
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Int]
    val drains = mutable.ArrayBuffer.empty[(Long, Double)]
    val gc0 = Tracer.gcMs()
    val q = Span(spark, "stream") {
      pipe.startStream(feedDir, s"$wh/checkpoint",
        Trigger.ProcessingTime(TriggerMs), Some(IntakeBound))
    }
    queryId.set(q.id)
    val wall0 = System.nanoTime()
    var wallS = 0.0
    try {
      deduper.start()
      // live phase: open loop, one file per interval on a fixed schedule
      val t0 = System.nanoTime() + 200000000L
      val sched = Array.tabulate(LiveFiles)(i => t0 + i * interval)
      var i = 0
      while (i < LiveFiles) {
        val wait = sched(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        drop(i to i)
        lateMs += (System.nanoTime() - sched(i)) / 1e6
        backlog += i + 1 - filesDone.get.toInt
        i += 1
      }
      if (!awaitFiles(LiveFiles, 120)) failures.incrementAndGet()
      val fresh = (0 until LiveFiles).map(k => (commitNs(k) - sched(k)) / 1e9)
      val liveDoneNs = commitNs.take(LiveFiles).max
      // Backlog phase: each round offers BacklogFiles files at once. The
      // dedupe job sits it out, so every drain does the same work: with
      // dedupe running, whether a run overlaps a 2-batch drain depends on
      // where the live phase left the batch count.
      val end = System.nanoTime() + 120000000000L
      while ((dedupeBusy.get || batchesDone.get >= nextAt.get) && System.nanoTime() < end)
        Thread.sleep(2)
      nextAt.set(Long.MaxValue)
      // Quiet dedupe: the checkpoint trails ingest, so each of these runs
      // repairs one full pinned span with the stream idle.
      val quiet = new ConcurrentLinkedQueue[DedupeRun]()
      (1 to QuietRuns).foreach(_ => dedupeRun(quiet))
      Span.set(spark, null)
      (0 until BacklogRounds).foreach { r =>
        val first = LiveFiles + r * BacklogFiles
        val last = first + BacklogFiles
        drop(first until last)
        if (!awaitFiles(last, 120)) failures.incrementAndGet()
        else {
          // from the start of the round's first micro-batch to the commit of
          // its last: the wait for the next trigger is the clock, not ingest
          val commits = (first until last).map(commitNs).toSet
          val start = progress.asScala.filter(p => commits(p.atNs))
            .map(p => p.atNs - p.durations.getOrElse("triggerExecution", 0L) * 1000000L).min
          drains += (((first until last).map(feed.files(_).length.toLong).sum,
            (commits.max - start) / 1e9))
        }
      }
      wallS = (System.nanoTime() - wall0) / 1e9
      stop.set(true)
      deduper.join(120000)
      val gcMs = Tracer.gcMs() - gc0
      if (q.exception.isDefined) failures.incrementAndGet()
      // validity: the generator kept its schedule and the live backlog did
      // not grow (last third of drops vs the first third)
      val third = LiveFiles / 3
      val liveValid = lateMs.max < interval / 1e6 &&
        backlog.takeRight(third).max <= backlog.take(third).max + IntakeBound
      // dedupe runs that started while the live stream was still ingesting
      val concurrent = runs.asScala.toSeq.filter(_.t0 < liveDoneNs)
      Pass(wallS, fresh, drains.toSeq, concurrent, quiet.asScala.toSeq, progress.asScala.toSeq,
        lateMs.toSeq, backlog.toSeq, gcMs, failures.get(), liveValid, wh)
    } finally {
      stop.set(true)
      q.stop()
      deduper.join(120000)
      spark.streams.removeListener(listener)
      Span.set(spark, null)
    }
  }

  private val LogEntry = "part-(\\d+)\\.json\".*\"batchId\":(\\d+)".r.unanchored

  /** Feed-file indices the file source logged for `batchId`: its own log
    * file, or the compacted one that absorbed it. */
  private def batchFiles(log: String, batchId: Long): Seq[Int] = {
    val f = Seq(Paths.get(log, batchId.toString), Paths.get(log, s"$batchId.compact"))
      .find(Files.exists(_))
    f.toSeq.flatMap(p => Files.readAllLines(p).asScala).collect {
      case LogEntry(i, b) if b.toLong == batchId => i.toInt
    }.distinct
  }

  /** Final dedupe drain, then the table must equal the truth record. */
  private def verify(ctx: Ctx, truth: HederaGen.Truth, pass: Pass, out: Outcome): Unit = {
    val spark = ctx.spark
    val table = new TransactionsTable(spark, s"${pass.wh}/transactions")
    val job = new Deduplication.Job(spark, table, new StateStore(spark, s"${pass.wh}/state"),
      Deduplication.Config(steadyStateIntervalUs = Long.MaxValue / 4,
        catchupIntervalUs = Long.MaxValue / 4), new MetricsRegistry)
    val pre = table.read().agg(count(lit(1)), countDistinct(col("consensusTimestamp"))).head()
    out.info("rows_before_drain") = pre.getLong(0)
    out.info("distinct_before_drain") = pre.getLong(1)
    var n = 0
    while (n < 8 && { val r = job.runIncremental(); r.windowEndUs > r.windowStartUs }) n += 1
    val r = table.read().agg(count(lit(1)), countDistinct(col("consensusTimestamp")),
      bit_xor(col("consensusTimestamp"))).head()
    val keyXor = truth.keys.foldLeft(0L)(_ ^ _)
    out.check("table rows = unique keys", r.getLong(0) == truth.uniqueKeys,
      s"${r.getLong(0)} vs ${truth.uniqueKeys}")
    out.check("no key appears twice", r.getLong(0) == r.getLong(1))
    out.check("key set = truth keys", r.getLong(2) == keyXor)
    val dead = new ErrorsTable(spark, s"${pass.wh}/errors").read().count()
    out.check("dead-letter rows = planted malformed lines", dead == truth.malformed,
      s"$dead vs ${truth.malformed}")
  }

  /** The `IngestProfile` split as timed public calls on a fixed sample. */
  private def ingestSplit(ctx: Ctx, sample: String, reps: Int): Map[String, Double] = {
    val spark = ctx.spark
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def raw = spark.read.text(sample).repartition(spark.sparkContext.defaultParallelism)
    def med(body: Int => Unit): Double =
      Stats.median((1 to reps).map(i => Stats.timeS(body(i))._2 * 1e3))
    val scan = med(_ => noop(raw))
    val parse = med(_ => noop(TransactionTransform.parseRaw(raw)))
    val cast = med(_ => noop(TransactionTransform.typedRows(TransactionTransform.parseRaw(raw))))
    val write = med { i =>
      val d = ctx.dir(s"split-$i")
      new IngestPipeline(spark, new TransactionsTable(spark, s"$d/t"),
        new ErrorsTable(spark, s"$d/e"), preDedupe = false, new MetricsRegistry)
        .ingestBatch(sample)
      Stats.deleteTree(d)
    }
    Map("scan" -> scan, "parse" -> math.max(0, parse - scan),
      "cast" -> math.max(0, cast - parse), "write" -> math.max(0, write - cast))
  }

  private def layers(ctx: Ctx, feed: HederaGen.Feed, pass: Pass, untraced: Pass,
      out: Outcome): Unit = {
    val t = ctx.tracer.get
    t.settle()
    val L = out.perLayer
    val ps = pass.progress
    def dur(k: String) = ps.map(_.durations.getOrElse(k, 0L).toDouble)
    val known = Seq("addBatch", "queryPlanning", "commitOffsets", "walCommit",
      "latestOffset", "getBatch")
    L("streaming.trigger_ms") = Stats.median(dur("triggerExecution"))
    L("streaming.planning_ms") = Stats.median(dur("queryPlanning"))
    L("streaming.commit_ms") = Stats.median(ps.map(p =>
      (p.durations.getOrElse("commitOffsets", 0L) + p.durations.getOrElse("walCommit", 0L)).toDouble))
    L("streaming.add_batch_ms") = Stats.median(dur("addBatch"))
    L("streaming.other_ms") = Stats.median(ps.map(p =>
      (p.durations.getOrElse("triggerExecution", 0L) - known.map(p.durations.getOrElse(_, 0L)).sum)
        .toDouble))
    L("streaming.rows_per_batch") = Stats.median(ps.map(_.rows.toDouble))
    L("streaming.backlog_files") = pass.backlogAtDrop.sum.toDouble / pass.backlogAtDrop.size
    L("gen.late_ms") = pass.lateMs.max

    val batches = math.max(1, ps.size).toDouble
    val st = t.stats("stream")
    L("hedera.ingest.jobs") = st.jobs.get / batches
    L("hedera.ingest.tasks") = st.tasks.get / batches
    L("hedera.ingest.shuffle_mb") = st.shuffleBytes.get / batches / 1048576
    L("hedera.ingest.cpu_s") = st.cpuNs.get / batches / 1e9
    L("hedera.ingest.gc_ms") = st.gcMs.get / batches
    val sample = ctx.dir("split-sample")
    feed.files.take(16).zipWithIndex.foreach { case (l, i) =>
      HederaGen.writeFile(Paths.get(sample, f"part-$i%05d.json"), l)
    }
    ingestSplit(ctx, sample, reps = 3).foreach { case (k, v) => L(s"hedera.ingest.${k}_ms") = v }

    // phase times from the quiet runs (the ones dedupe_s reads); scheduler
    // totals per run over every run; overlap over the concurrent runs
    val all = pass.runs ++ pass.quietRuns
    val nRuns = math.max(1, all.size).toDouble
    val dd = t.stats("dedupe")
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def phase(p: String) = med(pass.quietRuns.map(_.phasesMs(p)).filter(_ >= 0).map(_.toDouble))
    L("hedera.dedupe.probe_ms") = phase("probe")
    L("hedera.dedupe.detect_ms") = phase("detect")
    L("hedera.dedupe.repair_ms") = phase("repair")
    L("hedera.dedupe.set_state_ms") = phase("setState")
    L("hedera.dedupe.other_ms") = med(pass.quietRuns.map(r =>
      r.wallS * 1e3 - r.phasesMs.values.filter(_ >= 0).sum))
    L("hedera.dedupe.jobs") = dd.jobs.get / nRuns
    L("hedera.dedupe.shuffle_mb") = dd.shuffleBytes.get / nRuns / 1048576
    L("hedera.dedupe.cpu_s") = dd.cpuNs.get / nRuns / 1e9
    L("hedera.dedupe.overlap_batches") = pass.runs.map(r =>
      ps.count(p => p.atNs >= r.t0 && p.atNs <= r.t1)).sum / math.max(1, pass.runs.size).toDouble
    L("hedera.dedupe.dirty_run_ratio") = all.count(_.repaired) / nRuns
    val repaired = all.filter(_.repaired)
    L("hedera.table.swap_days_per_run") =
      if (repaired.isEmpty) 0.0 else repaired.map(_.days).sum.toDouble / repaired.size
    L("jvm.gc_ms") = pass.gcMs / math.max(1, pass.freshnessS.size).toDouble
    L("trace.overhead_ratio") = pass.wallS / untraced.wallS
  }

  /** Physical layout of the fact table: parquet files per day partition and
    * bytes per row. */
  def tableShape(ctx: Ctx, path: String, rows: Long): Map[String, Double] = {
    val days = new java.io.File(path).listFiles().filter(f => f.isDirectory && f.getName.startsWith("day="))
    val files = days.flatMap(_.listFiles().filter(f => f.getName.endsWith(".parquet")))
    Map("hedera.table.files_per_day" -> files.length.toDouble / math.max(1, days.length),
      "hedera.table.bytes_per_row" -> files.map(_.length).sum.toDouble / math.max(1L, rows))
  }
}
