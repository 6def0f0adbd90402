package graft.hedera

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.expressions.CollectBounded
import graft.metrics.{Metrics, MetricsRegistry}
import graft.util.{BatchLedger, Fs}

/** Ingest pipeline: JSON lines → transform → day-partitioned fact table +
  * dead-letter errors table. Batch and Structured Streaming entry points
  * share one `foreachBatch` body, so the streaming path is exactly the
  * batch path applied per micro-batch (PubSubToBigQueryPipeline.java:37-55
  * re-expressed).
  *
  * Delivery guarantee: at-least-once plus periodic dedupe, the reference's
  * own model (README.md:21-22 — retried streaming inserts + dedupe jobs).
  * The streaming checkpoint makes batch REPLAY exactly-once, but the two
  * appends inside a batch (fact table, then errors) are not atomic: a crash
  * between them replays the batch, and the duplicate fact rows are repaired
  * by the dedupe job exactly as duplicated inserts are in the reference.
  *
  * Optional `preDedupe` reproduces S1's `withIdAttribute(consensusTimestamp)`
  * broker dedup (PubSubToBigQueryPipeline.java:41) as a within-batch
  * dropDuplicates — best-effort, exactly like the original; the periodic
  * dedupe jobs remain the guarantee.
  *
  * Ingest metrics ride the write pass via `observe()` (no extra scan),
  * under the reference's names (TransactionJsonToTableRow.java:42-49,
  * Utility.java:40-46): `latestConsensusTimestamp` (max ns key seen),
  * `ingestionDelay` (wall clock at batch commit − latest event time, ms),
  * `jsonToTableRowErrors` (dead-letter rows).
  *
  * Dead letters come out of the same parse as the facts, the way the
  * reference takes them from the insert's own result
  * (`getFailedInsertsWithErr`, PubSubToBigQueryPipeline.java:53-55): on
  * the single-shuffle route the rejected rows ride the write pass's
  * `observe()` too, up to a bound, and land as one small file. See
  * [[writeBatch]] for the bound and for the `preDedupe` route.
  */
object IngestPipeline {
  /** Cheap pre-parse extraction of the int64 consensus key from a raw JSON
    * line — shared by the single-shuffle ingest keying below and the
    * stream bench's corpus time-ordering (StreamBench). */
  private[graft] val TsPattern = "\"consensusTimestamp\"\\s*:\\s*\"?(-?\\d+)"

  /** Bound on the dead letters one batch carries to the driver on its
    * write pass: rows, and bytes of the gathered rows (the raw line plus
    * its error list). ~1 % of an ~800-row micro-batch is ~8 rows; a batch
    * past either bound re-parses its input for them instead, the one path
    * that handles any number without holding them on the driver (the
    * ConnectedComponents.MaxDriverEdges discipline). */
  private[hedera] val MaxCapturedDeadLetters: Int = 1024
  private[hedera] val MaxCapturedDeadLetterBytes: Long = 4L << 20
}

final class IngestPipeline(
    spark: SparkSession,
    table: TransactionsTable,
    errors: ErrorsTable,
    preDedupe: Boolean = true,
    reg: MetricsRegistry = Metrics.global) {

  /** One batch: typed write in a single uncached pass — ok-row count, max
    * event time AND the total line count all ride the write via `observe()`
    * (two CollectMetrics nodes, one above the parse and one above the
    * ok-filter; filters are not pushed through CollectMetrics, so the first
    * sees every line). A clean batch therefore reads its input exactly once
    * and writes no dead-letter file.
    *
    * Dead letters: on the single-shuffle route (`prePartitioned`) the node
    * above the parse also gathers every rejected row's dead letter
    * ([[TransactionTransform.deadLetterOrNull]] through
    * [[graft.expressions.CollectBounded]], bounded by
    * [[IngestPipeline.MaxCapturedDeadLetters]] rows and
    * [[IngestPipeline.MaxCapturedDeadLetterBytes]] bytes). That node runs in
    * the write job's result stage, whose accumulator updates Spark applies
    * once per partition, so each row is gathered exactly once; a dirty
    * batch appends them as one local relation written to one file — no
    * second scan, shuffle or parse. Two cases re-parse the batch for its
    * dead letters instead (counted by `Metrics.DeadLetterReparses`):
    *  - more rejected rows than the bound (null capture);
    *  - `preDedupe`: the parse sits below the dropDuplicates exchange, in a
    *    shuffle-map stage whose updates a fetch-failure resubmit re-applies,
    *    so a capture there could gather a row twice.
    * The re-parse classifies with the SAME full-schema parse as the typed
    * branch: a row corrupt only under the full schema (scalar where a
    * nested struct is expected) is clean under a reduced parse and would
    * silently vanish from both tables.
    */
  private def writeBatch(fanned: DataFrame, prePartitioned: Boolean): (Long, Long) = {
    val obsAll = Observation()
    val obs = Observation()
    val capture =
      if (prePartitioned) Seq(CollectBounded(TransactionTransform.deadLetterOrNull,
        IngestPipeline.MaxCapturedDeadLetters, IngestPipeline.MaxCapturedDeadLetterBytes)
        .as("dead_letters"))
      else Nil
    val parsed = TransactionTransform.parseRaw(fanned)
      .observe(obsAll, count(lit(1)).as("n_lines"), capture: _*)
    val typed = TransactionTransform.typedRows(parsed)
      .observe(obs,
        count(lit(1)).as("ok_rows"),
        max(col("consensusTimestamp")).as("max_ts_ns"),
        // Per-day ingested-row counts as ONE map-typed metric
        // (graft.expressions.CountByKey) — monitoring, where its
        // documented over-count-under-retry semantics are acceptable;
        // exact manifests count committed output instead (ShardWriter).
        // The key domain is bounded (days touched by the batch).
        graft.expressions.CountByKey(
          expr("consensusTimestamp div 86400000000000").cast("int"))
          .as("rows_by_day"))
    val out = if (preDedupe) typed.dropDuplicates("consensusTimestamp") else typed
    if (prePartitioned) table.appendPrePartitioned(out) else table.append(out)
    val m = obs.get
    val ok = m("ok_rows").asInstanceOf[Long]
    m.get("max_ts_ns").collect { case ts: Long =>
      reg.set(Metrics.LatestConsensusTimestamp, ts)
      reg.set(Metrics.IngestionDelay, System.currentTimeMillis() - ts / 1000000)
    }
    m.get("rows_by_day").collect { case byDay: scala.collection.Map[_, _] =>
      byDay.foreach { case (day: Int, n: Long) =>
        reg.inc(Metrics.ingestRowsDay(java.time.LocalDate.ofEpochDay(day.toLong)), n)
      }
    }
    val all = obsAll.get
    val nBad = all("n_lines").asInstanceOf[Long] - ok
    if (nBad > 0) all.get("dead_letters") match {
      // a capture that disagrees with the line counts is not trusted
      case Some(rows: Seq[Row @unchecked]) if rows.length == nBad =>
        errors.append(spark.createDataFrame(rows.asJava, TransactionSchema.errors).coalesce(1))
      case _ =>
        reg.inc(Metrics.DeadLetterReparses)
        errors.append(TransactionTransform.errorRows(TransactionTransform.parseRaw(fanned)))
    }
    reg.inc(Metrics.JsonToTableRowErrors, nBad)
    (ok, nBad)
  }

  /** Batch ingest of a directory of JSONL files.
    *
    * NOTE: un-ledgered — a crash between the fact append and the
    * dead-letter append inside [[writeBatch]] leaves the error rows of
    * this run unwritten, and the caller has no safe way to re-run (a
    * blind re-run duplicates every fact row of the directory with no
    * marker saying the batch was half-applied). Production batch ingest
    * should use [[ingestBatchOnce]]; this entry remains for benches and
    * tests where the process owns the whole lifecycle. */
  def ingestBatch(inputDir: String): (Long, Long) =
    writeRouted(spark.read.text(inputDir))

  /** Batch ingest with the streaming path's replay guarantee: the whole
    * directory runs as ONE ledgered batch. A crash anywhere inside it —
    * including the window between the fact append and the dead-letter
    * append — leaves no done-mark, so re-running the SAME invocation
    * replays the batch: the error rows land on the replay (the
    * reference's never-drop contract, BigQueryErrorsSink.java:43-47
    * `alwaysRetry`), and the duplicated fact rows are repaired by the
    * periodic dedupe jobs exactly like a retried streaming insert. Both
    * tables are at-least-once under replay, never at-most-once. A
    * completed invocation (mark present) is a no-op, so callers can
    * retry unconditionally. Proven by IngestCrashSpec's crash injection. */
  def ingestBatchOnce(inputDir: String, ledgerDir: String): (Long, Long) =
    writeBatchOnce(spark.read.text(inputDir), batchId = 0L, ledgerDir)

  /** Shuffle strategy per config:
    *
    *  - `preDedupe = false` (the at-scale config — the dedupe jobs are the
    *    delivery guarantee, the reference's own model): ONE shuffle total.
    *    Raw lines are keyed by (day, file-salt) extracted with a cheap
    *    regex on the int64 key, so the parse fan-out and the table's write
    *    layout are the SAME exchange, and the wide typed rows are never
    *    shuffled — parse, cast, sort and parquet encode all run in a
    *    single post-shuffle stage. A line whose key defies the regex (a
    *    dead letter, or an escaping variant the full parse still accepts)
    *    merely lands in an approximate bucket: layout becomes best-effort
    *    for that row, correctness is untouched.
    *  - `preDedupe = true` (S1's withIdAttribute parity): the within-batch
    *    dropDuplicates needs its own exchange on the key anyway, so the
    *    input is fanned out to full parallelism for the parse and the
    *    table's layout shuffle restores clustering afterwards.
    */
  private def writeRouted(raw: DataFrame): (Long, Long) =
    if (preDedupe) {
      val parallelism = spark.sparkContext.defaultParallelism
      val fanned =
        if (raw.rdd.getNumPartitions < parallelism) raw.repartition(parallelism)
        else raw
      writeBatch(fanned, prePartitioned = false)
    } else {
      val keyed = raw
        .withColumn("__ts", regexp_extract(col("value"),
          IngestPipeline.TsPattern, 1).try_cast("long"))
        .withColumn("__day", to_date(timestamp_micros(expr("__ts div 1000"))))
        // EXACTLY the layout salt (TransactionsTable.layout): same hash of
        // the same long → the pre-shuffle and the write layout agree.
        // The partition count is pinned (REPARTITION_BY_NUM): a by-column
        // repartition is AQE-coalescible, and a micro-batch under the 64 MB
        // advisory size collapses to ONE task — serializing the parse +
        // sort + parquet encode that all run post-shuffle (measured 1.6x
        // slower at sf0.1; worse the more cores). Each (day, salt) combo
        // still lands in exactly one task, so the files-per-day bound holds.
        .withColumn("__salt", pmod(xxhash64(col("__ts")), lit(table.filesPerDay)))
        .repartition(spark.sparkContext.defaultParallelism, col("__day"), col("__salt"))
        .select(col("value"))
      writeBatch(keyed, prePartitioned = true)
    }

  /** Batch-id ledger: replaying an already-committed micro-batch must not
    * append its rows again. The ledger mark is written AFTER both appends,
    * so the remaining duplicate window is a crash between the last append
    * and the mark — exactly the reference's retried-insert window, repaired
    * by the periodic dedupe jobs. Once the new mark lands, marks below it
    * are pruned, so the ledger stays one mark deep (a 1 s trigger would
    * otherwise leave 86,400 files a day). */
  def writeBatchOnce(raw: DataFrame, batchId: Long, ledgerDir: String): (Long, Long) = {
    val (fs, dir) = Fs(spark, ledgerDir)
    val mark = new org.apache.hadoop.fs.Path(dir, BatchLedger.mark("batch-", batchId))
    if (fs.exists(mark)) (0L, 0L)
    else {
      val r = writeRouted(raw)
      fs.mkdirs(dir)
      fs.create(mark, true).close()
      BatchLedger.pruneBelow(fs, dir, batchId, "batch-")
      r
    }
  }

  /** Streaming ingest: file source + checkpoint → at-least-once appends,
    * made idempotent under batch REPLAY by the batch-id ledger and repaired
    * to effective exactly-once by the dedupe jobs (see class doc).
    *
    * `maxFilesPerTrigger` bounds each micro-batch's intake: without it, a
    * feed burst (or a long stream outage) makes the NEXT batch swallow the
    * whole backlog — one giant write job whose memory, latency, and
    * failure blast-radius grow with the outage instead of staying constant.
    * Bounded, a backlog drains as a queue of same-sized batches (and
    * `Trigger.AvailableNow` honors the limit too, so a `--once` backfill
    * is bounded-memory as well). Deployments should set it; the default
    * stays unbounded for drop-in compatibility. */
  def startStream(inputDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val src = spark.readStream
    maxFilesPerTrigger.foreach(n => src.option("maxFilesPerTrigger", n.toLong))
    src.text(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeBatchOnce(batch, id, s"$checkpointDir/graft-batch-ledger"); ()
      }
      .start()
  }
}
