package perfbench

import java.nio.file.Paths
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.hedera._
import graft.metrics.MetricsRegistry

/** `analyst_queries`: a closed loop with one client over a warehouse built
  * the way the ETL writes it (`IngestPipeline.ingestBatch`, then one full
  * dedupe). The timed region runs a fixed seeded sequence of the five query
  * classes below; each op is one query built, planned and collected. */
object AnalystQueries {
  val Days = 4
  val FeedFiles = 8
  val LinesPerFile = 800
  val SetupReps = 3
  val Ops = 100
  val WarmUpPerClass = 8
  /** Class weights (of 20). Point lookups are the fastest class and 60 % of
    * the sequence, so the median sits inside their range; the slowest class
    * (type_rollup) holds 15 %, so the p90 sits inside its range. */
  val Weights: Seq[(String, Int)] = Seq(
    "point_lookup" -> 12, "window_scan" -> 2, "entity_activity" -> 1,
    "net_flow" -> 2, "type_rollup" -> 3)

  final case class Op(cls: String, arg: Long)
  final case class Sample(cls: String, wallS: Double, planMs: Double, execMs: Double,
      gcMs: Long, scan: Option[ScanStats])

  /** The fixed op sequence: exactly `w / 20 * n` ops of each class, in a
    * seeded order, each with its argument (a key for lookups, a window
    * start for scans). The mix is the same for every seed, so the median and
    * p90 sit at the same rank inside the same classes in every run. */
  def sequence(seed: Long, n: Int, truth: HederaGen.Truth): IndexedSeq[Op] = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    val classes = Weights.flatMap { case (c, w) => Seq.fill(w * n / 20)(c) }.toArray
    for (i <- classes.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val c = classes(i); classes(i) = classes(j); classes(j) = c
    }
    val span = truth.maxTsNs - truth.minTsNs
    classes.toIndexedSeq.map {
      case "point_lookup" => Op("point_lookup", truth.keys(rnd.nextInt(truth.keys.length)))
      case "window_scan" => Op("window_scan", truth.minTsNs + (rnd.nextDouble() * span * 0.9).toLong)
      case c => Op(c, 0L)
    }
  }

  val WindowNs: Long = 3L * 3600 * 1000000000L

  /** The query of one op, as an analyst writes it against the table. */
  def query(spark: SparkSession, txns: DataFrame, op: Op): DataFrame = op.cls match {
    case "type_rollup" => HederaAnalytics.dailyTypeRollup(spark, txns)
    case "net_flow" => HederaAnalytics.accountNetFlow(txns)
    case "entity_activity" => HederaAnalytics.entityActivity(txns)
    case "window_scan" =>
      val lo = op.arg / 1000
      // a predicate on a derived image of the truncated timestamp: the
      // shape DerivedTimeFilterPushdown turns into a scan-level filter
      txns.filter(unix_micros(col("consensusTimestampTruncated")).between(lo, lo + WindowNs / 1000))
        .agg(count(lit(1)).as("n"), sum(col("transactionRecord.transactionFee")).as("fees"))
    case "point_lookup" =>
      txns.filter(col("consensusTimestamp") === op.arg)
        .select(col("consensusTimestamp"), col("transactionType"), col("day"),
          col("transactionRecord.transactionFee"))
  }

  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Builds the warehouse under `dir`; returns the full-dedupe wall. */
  private def build(ctx: Ctx, feed: HederaGen.Feed, dir: String): Double = {
    val spark = ctx.spark
    val in = ctx.dir(s"${Paths.get(dir).getFileName}-in")
    feed.files.zipWithIndex.foreach { case (l, i) =>
      HederaGen.writeFile(Paths.get(in, f"part-$i%05d.json"), l)
    }
    val reg = new MetricsRegistry
    val table = new TransactionsTable(spark, s"$dir/transactions")
    new IngestPipeline(spark, table, new ErrorsTable(spark, s"$dir/errors"),
      preDedupe = false, reg).ingestBatch(in)
    Stats.deleteTree(in)
    val state = new StateStore(spark, s"$dir/state")
    // the full job dedupes up to the incremental checkpoint: park it at the head
    state.set(Deduplication.IncrementalStateKey, (feed.truth.maxTsNs / 1000).toString)
    Stats.timeS(new Deduplication.Job(spark, table, state, Deduplication.Config(), reg).runFull())._2
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val spec = HederaGen.Spec(Days, FeedFiles, LinesPerFile)
    // Setup, repeated: generation, ingest and one full dedupe, each into a
    // fresh warehouse; the last one is queried. The first repetition pays
    // the cold ingest and dedupe paths; the median is a warm one.
    var feed: HederaGen.Feed = null
    var wh = ""
    val reps = (1 to SetupReps).map { i =>
      if (wh.nonEmpty) Stats.deleteTree(wh)
      wh = ctx.dir(s"wh-$i")
      var dedupeS = 0.0
      val s = Stats.timeS { feed = HederaGen.generate(ctx.seed, spec); dedupeS = build(ctx, feed, wh) }._2
      (s, dedupeS)
    }
    val truth = feed.truth
    val table = new TransactionsTable(spark, s"$wh/transactions")
    val ops = sequence(ctx.seed, Ops, truth)
    // warm-up: untimed ops of every class, with arguments of their own
    val warmS = Stats.timeS {
      sequence(ctx.seed + 1, 300, truth).groupBy(_.cls).values
        .flatMap(_.take(WarmUpPerClass)).foreach(op => query(spark, table.read(), op).collect())
    }._2
    val gcS = Stats.timeS(System.gc())._2
    val setupS = ctx.sessionReadyS + Stats.median(reps.map(_._1)) + warmS + gcS

    val untraced = timed(ctx, table, ops, traced = false)
    val (samples, results) =
      if (!ctx.trace) untraced
      else {
        val t = ctx.tracer.get
        t.install()
        try timed(ctx, table, ops, traced = true) finally t.uninstall()
      }
    val heapMb = Stats.heapMb()
    verify(ctx, truth, ops, results, out)
    out.ops += ops.size

    val lat = samples.map(_.wallS)
    out.endToEnd ++= Seq(
      "setup_s" -> setupS,
      "latency_s" -> Stats.median(lat),
      "latency_p90_s" -> Stats.quantile(lat, 0.9),
      "throughput_per_s" -> ops.size / lat.sum,
      "dedupe_s" -> Stats.median(reps.map(_._2)),
      "heap_mb" -> heapMb)
    out.info ++= Seq(
      "ops" -> ops.size, "ops_per_class" -> ops.groupBy(_.cls).map { case (c, v) => c -> v.size },
      "median_s_per_class" -> samples.groupBy(_.cls).map { case (c, v) => c -> Stats.median(v.map(_.wallS)) },
      "max_s_per_class" -> samples.groupBy(_.cls).map { case (c, v) => c -> v.map(_.wallS).max },
      "setup_rep_s" -> reps.map(_._1), "full_dedupe_s" -> reps.map(_._2),
      "setup_warmup_s" -> warmS, "truth_unique" -> truth.uniqueKeys)
    if (ctx.trace) {
      val t = ctx.tracer.get
      t.settle()
      val L = out.perLayer
      samples.groupBy(_.cls).foreach { case (c, ss) =>
        val n = ss.size.toDouble
        val st = t.stats(s"q.$c")
        L(s"queries.$c.plan_ms") = Stats.median(ss.map(_.planMs))
        L(s"queries.$c.exec_ms") = Stats.median(ss.map(_.execMs))
        L(s"queries.$c.other_ms") = Stats.median(ss.map(x => x.wallS * 1e3 - x.planMs - x.execMs))
        L(s"queries.$c.jobs") = st.jobs.get / n
        L(s"queries.$c.tasks") = st.tasks.get / n
        L(s"queries.$c.shuffle_mb") = st.shuffleBytes.get / n / 1048576
        L(s"queries.$c.cpu_s") = st.cpuNs.get / n / 1e9
        val scans = ss.flatMap(_.scan)
        if (scans.nonEmpty) {
          L(s"queries.$c.files_read") = Stats.median(scans.map(_.files.toDouble))
          L(s"queries.$c.scan_mb") = Stats.median(scans.map(_.bytes / 1048576.0))
        }
      }
      EtlStream.tableShape(ctx, s"$wh/transactions", truth.uniqueKeys).foreach { case (k, v) => L(k) = v }
      L("jvm.gc_ms") = samples.map(_.gcMs).sum.toDouble / samples.size
      L("trace.overhead_ratio") = samples.map(_.wallS).sum / untraced._1.map(_.wallS).sum
      // the curation side is traced here: its ~50 s runs do not fit the
      // benchmark's run budget as a workload of its own
      CurationBatches.traceInto(ctx, out)
    }
    out
  }

  private def timed(ctx: Ctx, table: TransactionsTable, ops: Seq[Op], traced: Boolean)
      : (Seq[Sample], Seq[Array[Row]]) = {
    val spark = ctx.spark
    val samples = mutable.ArrayBuffer.empty[Sample]
    val results = mutable.ArrayBuffer.empty[Array[Row]]
    ops.foreach { op =>
      Span(spark, s"q.${op.cls}") {
        val g0 = Tracer.gcMs()
        val t0 = System.nanoTime()
        val df = query(spark, table.read(), op)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val seen = ctx.tracer.map(_.actions.get).getOrElse(0L)
        val rows = df.collect()
        val t3 = System.nanoTime()
        val scan = if (traced) ctx.tracer.flatMap(_.nextAction(seen)).map(_._2) else None
        samples += Sample(op.cls, (t3 - t0) / 1e9, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
          Tracer.gcMs() - g0, scan)
        results += rows
      }
    }
    (samples.toSeq, results.toSeq)
  }

  /** Results against the truth record, and repeated queries against each other. */
  private def verify(ctx: Ctx, truth: HederaGen.Truth, ops: Seq[Op],
      results: Seq[Array[Row]], out: Outcome): Unit = {
    val byClass = ops.zip(results).groupBy(_._1.cls)
    def first(c: String) = byClass.get(c).map(_.head._2)
    first("type_rollup").foreach { rows =>
      val perDay = rows.groupBy(_.getAs[java.sql.Date]("day").toString)
        .map { case (d, rs) => d -> rs.map(_.getAs[Long]("n_txns")).sum }
      val names = TransactionSchema.transactionTypes.toMap
      val perType = rows.groupBy(_.getAs[String]("transactionTypeName"))
        .map { case (n, rs) => n -> rs.map(_.getAs[Long]("n_txns")).sum }
      out.check("per-day counts = truth", perDay == truth.rowsPerDay, s"$perDay vs ${truth.rowsPerDay}")
      out.check("per-type counts = truth",
        perType == truth.rowsPerType.map { case (t, n) => names(t) -> n })
    }
    first("net_flow").foreach { rows =>
      val net = rows.map(r => r.getAs[Long]("accountNum") -> r.getAs[Long]("net_amount")).toMap
      out.check("account net flows = truth and sum to 0",
        net == truth.netByAccount && net.values.sum == 0L)
    }
    Seq("type_rollup", "net_flow", "entity_activity").foreach { c =>
      byClass.get(c).foreach { rs =>
        out.check(s"$c digest stable across repetitions", rs.map(x => digest(x._2)).distinct.size == 1)
      }
    }
    val sorted = truth.keys.sorted
    def countIn(loNs: Long, hiNs: Long): Long = {
      val lo = java.util.Arrays.binarySearch(sorted, loNs)
      val hi = java.util.Arrays.binarySearch(sorted, hiNs)
      val a = if (lo >= 0) lo else -lo - 1
      val b = if (hi >= 0) hi + 1 else -hi - 1
      (b - a).toLong
    }
    var badWindows, badLookups = 0
    ops.zip(results).foreach {
      case (Op("window_scan", start), rows) =>
        // the filter is on µs: [floor_us(start), floor_us(start) + window]
        val loNs = start / 1000 * 1000
        if (rows.head.getLong(0) != countIn(loNs, loNs + WindowNs + 999)) badWindows += 1
      case (Op("point_lookup", key), rows) =>
        if (rows.length != 1 || rows.head.getLong(0) != key) badLookups += 1
      case _ =>
    }
    out.check("window scan counts = truth", badWindows == 0, s"$badWindows wrong")
    out.check("point lookups return exactly their row", badLookups == 0, s"$badLookups wrong")
  }
}
