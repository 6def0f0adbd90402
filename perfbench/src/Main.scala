package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: String, val offeredRowsPerS: Double,
    val sessionReadyS: Double) {
  val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None
  def dir(name: String): String = {
    val p = Paths.get(work, name); Files.createDirectories(p); p.toString
  }
}

/** What one workload run reports. End-to-end metrics are filled in both
  * modes; per-layer metrics only when traced. */
final class Outcome {
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  var ops = 0L
  var failedOps = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = ok
    if (!ok) System.err.println(s"perfbench: check FAILED: $name $detail")
  }
  def attempted: Long = ops + checks.size
  def failed: Long = failedOps + checks.count(!_._2)
}

object Main {

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "latency_s" -> "s", "latency_p90_s" -> "s",
    "throughput_per_s" -> "1/s", "dedupe_s" -> "s", "heap_mb" -> "MB",
    "hedera.table.bytes_per_row" -> "B")

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, cores: Int = 0, offered: Double = 0, work: String = "",
      record: String = "")

  @annotation.tailrec
  private def parse(a: Args, rest: List[String]): Args = rest match {
    case "--workload" :: v :: t => parse(a.copy(workload = v), t)
    case "--seed" :: v :: t => parse(a.copy(seed = v.toLong), t)
    case "--seconds" :: v :: t => parse(a.copy(seconds = v.toInt), t)
    case "--trace" :: v :: t => parse(a.copy(trace = v == "1"), t)
    case "--cores" :: v :: t => parse(a.copy(cores = v.toInt), t)
    case "--offered-rows-per-s" :: v :: t => parse(a.copy(offered = v.toDouble), t)
    case "--work" :: v :: t => parse(a.copy(work = v), t)
    case "--record" :: v :: t => parse(a.copy(record = v), t)
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Wall ms of a fixed single-thread CPU loop, median of 5: how fast the
    * host ran around this run (shared hosts drift by tens of percent). */
  private def hostProbeMs(): Double = Stats.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 50000000) { x += (i.toLong * i) ^ (x >>> 7); i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  })

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(Args(), argv.toList)) catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.exit(code)
  }

  private def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg()
    require(a.cores > 0 && a.work.nonEmpty && a.record.nonEmpty,
      "--cores, --work and --record are required")
    System.setProperty("spark.local.dir", s"${a.work}/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
    System.setProperty("derby.system.home", s"${a.work}/derby")
    val spark = graft.GraftSession.local(a.cores, "perfbench")
    val ctx = new Ctx(spark, a.seed, a.seconds, a.trace, a.work, a.offered,
      (System.currentTimeMillis() - jvmStartMs) / 1e3)
    val probe0 = hostProbeMs()
    val out = a.workload match {
      case "etl_stream" => EtlStream.run(ctx)
      case "analyst_queries" => AnalystQueries.run(ctx)
      case "curation_batches" => CurationBatches.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val sc = spark.sparkContext
    val meta = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> sc.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).mkString("+"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "load_avg_start" -> load0, "load_avg_end" -> loadAvg(),
      "host_probe_ms_start" -> probe0, "host_probe_ms_end" -> hostProbeMs())
    spark.stop()

    val metrics =
      if (a.trace) Layers.names.map(n => n -> out.perLayer.getOrElse(n, 0.0))
      else out.endToEnd.toSeq
    val metricJson = mutable.LinkedHashMap.from(metrics.map { case (k, v) =>
      k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> unitOf(k))
    })
    val record = mutable.LinkedHashMap[String, Any](
      "meta" -> meta, "checks" -> out.checks, "info" -> out.info,
      "end_to_end" -> out.endToEnd, "per_layer" -> out.perLayer)
    Files.createDirectories(Paths.get(a.record).getParent)
    Files.write(Paths.get(a.record), Json(record).getBytes("UTF-8"))
    println("perfbench meta " + Json(meta))
    println("perfbench info " + Json(out.info))
    val correct = out.failed == 0
    println(Json(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metricJson)))
    0
  }

  def unitOf(metric: String): String = Units.getOrElse(metric, {
    val m = metric
    if (m.endsWith("_ms")) "ms" else if (m.endsWith("_s")) "s"
    else if (m.endsWith("_mb")) "MB" else if (m.endsWith("_ratio")) "ratio"
    else "count"
  })
}

/** Every per-layer metric, in BENCHMARK.json order. A workload reports the
  * layers it exercises; a layer it leaves idle reads 0. */
object Layers {
  val names: Seq[String] = Seq(
    "streaming.trigger_ms", "streaming.planning_ms", "streaming.commit_ms",
    "streaming.add_batch_ms", "streaming.other_ms", "streaming.rows_per_batch",
    "streaming.backlog_files", "gen.late_ms", "hedera.ingest.scan_ms",
    "hedera.ingest.parse_ms", "hedera.ingest.cast_ms", "hedera.ingest.write_ms",
    "hedera.ingest.jobs", "hedera.ingest.tasks", "hedera.ingest.shuffle_mb",
    "hedera.ingest.cpu_s", "hedera.ingest.gc_ms", "hedera.table.files_per_day",
    "hedera.table.bytes_per_row", "hedera.table.swap_days_per_run", "hedera.dedupe.probe_ms",
    "hedera.dedupe.detect_ms", "hedera.dedupe.repair_ms", "hedera.dedupe.set_state_ms",
    "hedera.dedupe.other_ms", "hedera.dedupe.jobs", "hedera.dedupe.shuffle_mb",
    "hedera.dedupe.cpu_s", "hedera.dedupe.overlap_batches", "hedera.dedupe.dirty_run_ratio",
    "queries.type_rollup.plan_ms", "queries.type_rollup.exec_ms",
    "queries.type_rollup.other_ms", "queries.type_rollup.jobs", "queries.type_rollup.tasks",
    "queries.type_rollup.shuffle_mb", "queries.type_rollup.cpu_s",
    "queries.type_rollup.files_read", "queries.type_rollup.scan_mb",
    "queries.net_flow.plan_ms", "queries.net_flow.exec_ms", "queries.net_flow.other_ms",
    "queries.net_flow.jobs", "queries.net_flow.tasks", "queries.net_flow.shuffle_mb",
    "queries.net_flow.cpu_s", "queries.net_flow.files_read", "queries.net_flow.scan_mb",
    "queries.entity_activity.plan_ms", "queries.entity_activity.exec_ms",
    "queries.entity_activity.other_ms", "queries.entity_activity.jobs",
    "queries.entity_activity.tasks", "queries.entity_activity.shuffle_mb",
    "queries.entity_activity.cpu_s", "queries.entity_activity.files_read",
    "queries.entity_activity.scan_mb", "queries.window_scan.plan_ms",
    "queries.window_scan.exec_ms", "queries.window_scan.other_ms", "queries.window_scan.jobs",
    "queries.window_scan.tasks", "queries.window_scan.shuffle_mb", "queries.window_scan.cpu_s",
    "queries.window_scan.files_read", "queries.window_scan.scan_mb",
    "queries.point_lookup.plan_ms", "queries.point_lookup.exec_ms",
    "queries.point_lookup.other_ms", "queries.point_lookup.jobs", "queries.point_lookup.tasks",
    "queries.point_lookup.shuffle_mb", "queries.point_lookup.cpu_s",
    "queries.point_lookup.files_read", "queries.point_lookup.scan_mb",
    "operators.curation.audit_ms", "dedup.index.curate_ms", "curation.other_ms",
    "curation.jobs", "curation.stages", "curation.shuffle_mb", "curation.cpu_s",
    "curation.materialized_mb", "dedup.index.files", "dedup.index.survivor_ratio", "jvm.gc_ms",
    "trace.overhead_ratio")
}

/** Minimal JSON writer for the record and result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Order statistics shared by the workloads. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Used heap after full collections, MB. */
  def heapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def timeS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(path: String): Unit = graft.BenchUtil.deleteRecursively(new java.io.File(path))
}
