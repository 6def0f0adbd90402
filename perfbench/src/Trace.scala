package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing. The benchmark sets the local property [[Span.Key]]
  * on the calling thread before each call into a public engine function;
  * the three listeners below attribute what Spark reports back to that
  * span. Nothing is written while a run measures: spans live in memory and
  * are read once at the end. */
object Span {
  val Key = "perfbench.span"

  def set(spark: SparkSession, name: String): Unit =
    spark.sparkContext.setLocalProperty(Key, name)

  def apply[A](spark: SparkSession, name: String)(body: => A): A = {
    val prev = spark.sparkContext.getLocalProperty(Key)
    set(spark, name)
    try body finally set(spark, prev)
  }
}

/** Per-span totals from the Spark scheduler. */
final class SpanStats {
  val jobs, stages, tasks, cpuNs, gcMs, shuffleBytes, materializedBytes = new AtomicLong
}

/** Scan-node metrics of one executed plan. */
final case class ScanStats(files: Long, bytes: Long)

/** One micro-batch progress event, stamped when the listener received it. */
final case class Progress(batchId: Long, rows: Long, durations: Map[String, Long], atNs: Long)

final class Tracer(spark: SparkSession) {
  private val spans = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  /** Block updates carry no job properties: they go to the span the
    * benchmark's main thread is in (the workloads that read this metric
    * run one call at a time). */
  @volatile var blockSpan: String = "none"

  def stats(span: String): SpanStats = spans.computeIfAbsent(span, _ => new SpanStats)

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Span.Key))).getOrElse("none")

  val scheduler: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      stats(s).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => stats(s).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val s = stageSpan.get(e.stageId)
      if (m != null && s != null) {
        val st = stats(s)
        st.tasks.incrementAndGet()
        st.cpuNs.addAndGet(m.executorCpuTime)
        st.gcMs.addAndGet(m.jvmGCTime)
        st.shuffleBytes.addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid)
        stats(blockSpan).materializedBytes.addAndGet(i.memSize + i.diskSize)
    }
  }

  /** Completed actions: how many, and the last one's listener duration and
    * scan-node metrics. */
  val actions = new AtomicLong
  @volatile private var lastAction: (Long, ScanStats) = (0L, ScanStats(0, 0))

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastAction = (durationNs, Tracer.scanStats(qe.executedPlan))
      actions.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  /** The action completed after the count read `seen`, waiting (bounded) for
    * the asynchronous listener bus. Callers run one action at a time. */
  def nextAction(seen: Long): Option[(Long, ScanStats)] = {
    val deadline = System.nanoTime() + 5000000000L
    while (actions.get <= seen && System.nanoTime() < deadline) Thread.sleep(1)
    if (actions.get > seen) Some(lastAction) else None
  }

  /** The scheduler and query-execution listeners. The streaming listener
    * is owned by the stream workload, which needs its progress events for
    * end-to-end freshness in untraced runs too. */
  def install(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(queries)
  }

  /** Listener-bus delivery is asynchronous: poll until task totals stop
    * moving, so a read right after an action includes that action. */
  def settle(): Unit = {
    def total = spans.values().asScala.map(s => s.tasks.get + s.jobs.get).sum
    var prev = total
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(20)
      val cur = total
      if (cur == prev) quiet += 1 else { quiet = 0; prev = cur }
    }
  }
}

object Tracer {
  /** Scan metrics summed over every file scan in the final (post-AQE) plan. */
  def scanStats(plan: SparkPlan): ScanStats = {
    var files, bytes = 0L
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case _ =>
          if (p.nodeName.startsWith("Scan") || p.getClass.getSimpleName.startsWith("FileSourceScan")) {
            p.metrics.get("numFiles").foreach(m => files += m.value)
            p.metrics.get("filesSize").foreach(m => bytes += m.value)
          }
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    ScanStats(files, bytes)
  }

  /** Total collector time of every JVM garbage collector, ms. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
