package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Engine metrics under the reference's metric names (SURVEY.md §2.7):
  * Beam counters/distributions → driver-side atomics fed by job results and
  * a StreamingQueryListener; Micrometer gauges → the same registry.
  *
  * Reference names reproduced:
  *  - latestConsensusTimestamp, ingestionDelay, jsonToTableRowErrors
  *    (TransactionJsonToTableRow.java:42-49, Utility.java:40-46)
  *  - dedupe.invocations/failures/start.timestamp/end.timestamp/runtime/
  *    delay, dedupe.duplicates.count, dedupe.job.runtime/rows
  *    (AbstractDeduplication.java:128-160, TemplateQuery.java:67-89)
  */
final class MetricsRegistry {
  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  def counter(name: String): AtomicLong =
    counters.computeIfAbsent(name, _ => new AtomicLong(0))

  def inc(name: String, by: Long = 1): Unit = counter(name).addAndGet(by)
  def set(name: String, v: Long): Unit = counter(name).set(v)
  def get(name: String): Long = counter(name).get()
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.get() }.toMap
  }
}

object Metrics {
  val LatestConsensusTimestamp = "latestConsensusTimestamp"
  val IngestionDelay = "ingestionDelay"
  val JsonToTableRowErrors = "jsonToTableRowErrors"
  val DedupeInvocations = "dedupe.invocations"
  val DedupeFailures = "dedupe.failures"
  val DedupeStartTimestamp = "dedupe.start.timestamp"
  val DedupeEndTimestamp = "dedupe.end.timestamp"
  val DedupeRuntime = "dedupe.runtime"
  val DedupeDelay = "dedupe.delay"
  val DuplicatesCount = "dedupe.duplicates.count"

  /** Rows silently discarded by stateful operators because they arrived
    * behind the watermark (extension metric): the ONE data-loss channel a
    * watermarked streaming pipeline has that no batch replay repairs —
    * late rows never reach the sink OR the dead-letter table, so without
    * this counter the loss is invisible. Fed from each progress event's
    * per-operator `numRowsDroppedByWatermark`. */
  val LateRowsDropped = "streaming.late.dropped"

  /** Per-day ingested-row counter name (extension metric, not a reference
    * name): fed by the ingest `observe()` pass's map-typed
    * [[graft.expressions.CountByKey]] aggregate — one counter per event
    * day touched, monitoring-grade (may over-count under shuffle-map
    * retries; see CountByKey's scaladoc). */
  def ingestRowsDay(day: java.time.LocalDate): String = s"ingest.rows.day.$day"

  /** Dirty ingest batches whose dead letters took the second parse
    * (extension metric): more rejected rows than the write pass carries to
    * the driver, or the `preDedupe` route (IngestPipeline.writeBatch). A
    * rising count on the single-shuffle route means bursts of bad input. */
  val DeadLetterReparses = "ingest.deadletter.reparses"

  val global = new MetricsRegistry

  /** Streaming ingest progress → metric registry (rows/sec, batch rows). */
  final class IngestListener(private[metrics] val reg: MetricsRegistry = global)
      extends StreamingQueryListener {
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      reg.inc("ingest.batches")
      reg.inc("ingest.rows", event.progress.numInputRows)
      val late = event.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum
      if (late > 0) reg.inc(LateRowsDropped, late)
    }
  }

  /** Registers an [[IngestListener]] feeding `reg` on `spark`'s streams
    * and returns it — or returns the one already registered there for
    * `reg`, so a second install in the same session cannot double-count.
    * Remove it with `spark.streams.removeListener` when its pipeline stops. */
  def installListener(spark: SparkSession, reg: MetricsRegistry = global): IngestListener =
    synchronized {
      spark.streams.listListeners().collectFirst {
        case l: IngestListener if l.reg eq reg => l
      }.getOrElse {
        val l = new IngestListener(reg)
        spark.streams.addListener(l)
        l
      }
    }
}
