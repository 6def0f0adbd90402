package graft.hedera

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory
import graft.metrics.{Metrics, MetricsRegistry}
import graft.operators.RelationalOps

/** The deduplication jobs: incremental (frequent, windowed) and full
  * (infrequent, whole-history) — the Spark re-expression of the reference's
  * AbstractDeduplication state machine (hedera-deduplication-bigquery/.../
  * AbstractDeduplication.java:94-126):
  *
  *   get state → compute window → detect (A1) → repair (A2+J2) → save state.
  *
  * Windows are µs epoch values over `consensusTimestampTruncated`; state
  * lives in the KV StateStore under the reference's key names
  * (AbstractDeduplication.java:60-61). The reference's streaming-buffer
  * UPDATE-probe (IncrementalDeduplication.java:89-107) has no Spark analog —
  * its *role* (never dedupe in-flight data) maps to capping the window at
  * the max ingested timestamp; the steady-state/catch-up two-interval
  * escalation is kept (DedupeProperties.java:48-49 defaults). Repaired
  * in-window rows get `dedupe = 1`, the reference's processed-window marker
  * (UpdateDedupeColumnTemplateQuery.java:29-30).
  *
  * Scale shape: detection is one partial-aggregated group-count over only
  * the window's `day=` partitions (pruned at scan); repair is ONE pass over
  * those partitions — keep-one is a row_number over the key, the
  * before/after counts fold into the same pass as `observe()` metrics, and
  * the result is staged then swapped in (TransactionsTable.overwriteDays),
  * so nothing ever re-reads the path being replaced. Both jobs are
  * O(window), never O(table); only the window-end probe aggregates the full
  * table (a parquet-footer max, no row materialization).
  *
  * Per-run observability mirrors the reference's job metrics
  * (TemplateQuery.java:67-89 `dedupe.job.runtime/rows`, logged duplicate
  * groups GetDuplicatesTemplateQuery.java:52-72, run-level counters
  * AbstractDeduplication.java:128-160).
  */
object Deduplication {

  val IncrementalStateKey = "incrementalLatestEndTimestamp"
  val FullStateKey = "fullLatestEndTimestamp"

  private val log = LoggerFactory.getLogger(getClass)

  final case class Config(
      steadyStateIntervalUs: Long = 600L * 1000000,   // 10 min (DedupeProperties.java:49)
      catchupIntervalUs: Long = 21600L * 1000000)     // 6 h  (DedupeProperties.java:48)

  final case class Result(
      windowStartUs: Long, windowEndUs: Long,
      duplicateGroups: Long, duplicatesRemoved: Long)

  final class Job(spark: SparkSession, table: TransactionsTable, state: StateStore,
      cfg: Config = Config(), reg: MetricsRegistry = Metrics.global) {

    private def tsUs = unix_micros(col("consensusTimestampTruncated"))

    /** Time one phase, recording the reference's per-query job metrics
      * (TemplateQuery.java:67-89: `dedupe.job.runtime.<name>` ms and
      * `dedupe.job.rows.<name>`). */
    private def phase[A](name: String)(body: => (A, Long)): A = {
      val t0 = System.nanoTime()
      val (a, rows) = body
      reg.set(s"dedupe.job.runtime.$name", (System.nanoTime() - t0) / 1000000)
      reg.set(s"dedupe.job.rows.$name", rows)
      a
    }

    /** µs-epoch → partition day (UTC): the listing bound of [[repair]]'s
      * snapshot. */
    private def epochDay(us: Long): java.time.LocalDate =
      java.time.LocalDate.ofEpochDay(Math.floorDiv(us, 86400000000L))

    /** Window scan, row-bounded by µs. The table declares `day` as the UTC
      * image of `consensusTimestampTruncated`, so DerivedTimeFilterPushdown
      * adds the window's day range and the scan lists only those `day=`
      * directories, however large the table is. */
    def windowScan(startUs: Long, endUs: Long) =
      table.read().filter(tsUs.between(startUs, endUs))

    /** A1: duplicate key groups inside [startUs, endUs]. */
    def detect(startUs: Long, endUs: Long) =
      RelationalOps.duplicateGroups(windowScan(startUs, endUs), Seq("consensusTimestamp"))

    /** A2+J2: keep one row per consensusTimestamp inside the window and
      * replace the window's days with the deduped content — one pass.
      *
      * Whole affected days must rewrite together (a day can straddle the
      * window edge): in-window rows dedupe via `row_number() = 1` over the
      * key, out-of-window rows pass through untouched. A duplicate group
      * lives entirely on one side of the window edge (its rows share one
      * timestamp), so partitioning the row_number by key across the whole
      * day range is safe. The removed/group counts ride the same pass as
      * `observe()` aggregates — no separate before/after count scans — and
      * kept in-window rows are flagged `dedupe = 1`
      * (UpdateDedupeColumnTemplateQuery.java:29-30 parity).
      *
      * Returns (duplicateGroups, duplicatesRemoved) as observed in-pass.
      *
      * The scan is a PINNED-listing snapshot and the listing rides along to
      * `overwriteDays`: rows a concurrent micro-batch appends between this
      * read and the day swap are preserved through the swap (as-is, possibly
      * duplicated — the next incremental/full run repairs them), never lost.
      */
    def repair(startUs: Long, endUs: Long): (Long, Long) = {
      val obs = Observation()
      val w = Window.partitionBy(col("consensusTimestamp"))
        .orderBy(col("consensusTimestamp"))
      // Snapshot only the window's days: they are the only days the swap
      // below can touch, and listing the whole table per tick would be
      // O(table-days) driver metadata calls for a fixed-size window.
      val (snapDf, snapshot) =
        table.readSnapshot(Some((epochDay(startUs), epochDay(endUs))))
      val marked = snapDf
        .withColumn("_inwin", tsUs.between(startUs, endUs))
        .withColumn("_rn", row_number().over(w))
        .observe(obs,
          coalesce(sum(when(col("_inwin") && col("_rn") === 2, 1L)), lit(0L)).as("dup_groups"),
          coalesce(sum(when(col("_inwin") && col("_rn") > 1, 1L)), lit(0L)).as("removed"))
      val kept = marked.filter(!col("_inwin") || col("_rn") === 1)
        .withColumn("dedupe", when(col("_inwin"), lit(1L)).otherwise(col("dedupe")))
        .drop("_inwin", "_rn")
      table.overwriteDays(kept, Some(snapshot))
      val m = obs.get
      (m("dup_groups").asInstanceOf[Long], m("removed").asInstanceOf[Long])
    }

    /** Window-end selection with steady-state → catch-up escalation, capped
      * at the latest ingested row (the in-flight-data guard).
      *
      * One aggregate over the rows past the checkpoint, which yields BOTH
      * the first timestamp past it and the global max. The µs bound prunes
      * the scan to `day >= day(checkpoint)` (DerivedTimeFilterPushdown), so
      * the probe is O(unprocessed data), never O(table). */
    def probeEnd(startUs: Long): Long = {
      val r = table.read().filter(tsUs > startUs)
        .agg(min(tsUs).as("mn"), max(tsUs).as("mx")).first()
      if (r.isNullAt(0)) return startUs
      val base = r.getLong(0)
      val maxTs = r.getLong(1)
      val steady = base + cfg.steadyStateIntervalUs
      if (steady >= maxTs) maxTs
      else math.min(base + cfg.catchupIntervalUs, maxTs)
    }

    /** Shared run skeleton: detect → repair-if-dirty → checkpoint, with the
      * reference's run counters (AbstractDeduplication.java:128-160) and
      * duplicate-group logging (GetDuplicatesTemplateQuery.java:52-72). */
    private def run(stateKey: String, start: Long, end: Long): Result = {
      reg.inc(Metrics.DedupeInvocations)
      reg.set(Metrics.DedupeStartTimestamp, System.currentTimeMillis())
      val t0 = System.nanoTime()
      try {
        if (end == start) return Result(start, end, 0, 0)
        // Detection is a BOUNDED take, not a count: it only gates whether a
        // repair runs (and feeds the duplicate-group log), while the exact
        // group/removed counts ride the repair pass itself via observe() —
        // so a dirty window pays ONE full detection-equivalent scan, not two.
        val sample = phase("detect") {
          val s = detect(start, end).limit(100).collect(); (s, s.length.toLong)
        }
        val (groups, removed) =
          if (sample.nonEmpty) {
            log.info(s"dedupe: duplicate groups in [$start,$end]; first ${sample.length}: " +
              sample.map(r => s"${r.get(0)}->${r.get(1)}").mkString(", "))
            phase("repair") { val gr = repair(start, end); (gr, gr._2) }
          } else (0L, 0L)
        phase("setState") { state.set(stateKey, end.toString); ((), 1L) }
        reg.inc(Metrics.DuplicatesCount, removed)
        // dedupe.delay: how far behind real time the processed window ends
        // (AbstractDeduplication.java:128-160)
        reg.set(Metrics.DedupeDelay, math.max(0L, System.currentTimeMillis() - end / 1000))
        Result(start, end, groups, removed)
      } finally {
        reg.set(Metrics.DedupeEndTimestamp, System.currentTimeMillis())
        reg.set(Metrics.DedupeRuntime, (System.nanoTime() - t0) / 1000000)
      }
    }

    /** Failure accounting for a whole invocation — covers the probe and
      * recovery phases too, which run before the detect/repair skeleton. */
    private def counted(body: => Result): Result =
      try body
      catch { case e: Throwable => reg.inc(Metrics.DedupeFailures); throw e }

    /** One incremental run (IncrementalDeduplication.java:66-107). Crash
      * recovery runs FIRST: a swap interrupted mid-repair can have backed a
      * day out of the live table, and the window probe must see the
      * restored data (not an artificially empty/short table). */
    def runIncremental(): Result = counted {
      table.recoverSwaps()
      val start = state.get(IncrementalStateKey).map(_.toLong).getOrElse(0L)
      val end = phase("probe") { (probeEnd(start), 1L) }
      run(IncrementalStateKey, start, end)
    }

    /** One full run over everything the incremental job has checkpointed
      * (FullDeduplication.java:62-80). */
    def runFull(): Result = counted {
      table.recoverSwaps()
      val end = state.get(IncrementalStateKey).map(_.toLong).getOrElse(0L)
      if (end == 0L) Result(0, 0, 0, 0)
      else run(FullStateKey, 0L, end)
    }
  }
}
