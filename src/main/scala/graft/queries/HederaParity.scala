package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.RelationalOps._

/** Reference-parity operators (SURVEY.md §2), exercised over the driver's
  * `events` table, which plays the `transactions` role: `ts` is a raw
  * nanosecond long (the `consensusTimestamp` discipline), `event_id` the
  * unique key, `props` a JSON payload column.
  *
  * Every query names the reference operator it reproduces (S/P/A/J/K ids from
  * SURVEY.md §2) and carries a DuckDB oracle.
  *
  * Oracle-visible time values are microsecond-floored (`ts div 1000` ⟷
  * DuckDB `epoch_us(ts)`): parquet TIMESTAMP(NANOS) reaches DuckDB µs-
  * truncated, exactly as it reaches BigQuery TIMESTAMP in the reference —
  * which is why the reference derives `consensusTimestampTruncated` the same
  * way (TransactionJsonToTableRow.java:57-58). Floor composition keeps every
  * coarser truncation (seconds, hours, days) consistent between a ns source
  * and a µs one. The engine itself keeps full nanos internally.
  */
object HederaParity {

  // Fixed window literals (µs since epoch, UTC): 2024-01-10 .. 2024-01-17.
  // events spans January 2024 at every scale factor.
  private val WinLoUs = 1704844800000000L
  private val WinHiUs = 1705449600000000L
  // 2024-01-15, the A3/A4 checkpoint stand-in (µs).
  private val CkptUs = 1705276800000000L

  /** Microsecond image of the nanosecond event time (floor division). */
  private val tsUs = expr("ts div 1000")

  private def events(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "events")

  /** The one oracle of h_day_rollup and h_day_rollup_incremental: the
    * incrementally maintained view must equal the one-shot rollup. */
  private val DayRollupSql =
    """SELECT strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d') AS day,
      |  event_type, count(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  val all: Seq[Q] = Seq(
    // P1+P2 (+S1's parse step): JSON-era ingest projection — µs-truncated
    // numeric + timestamp + day partition string derived from the raw ns
    // long, JSON field extracted. Reference: TransactionJsonToTableRow.java:52-66.
    Q("h_ingest_project",
      (s, dir) => Tables.loadSpread(s, dir, "events").select(
        col("event_id"),
        tsUs.as("ts_us"),
        timestamp_micros(tsUs).cast("timestamp_ntz").as("ts_stamp"),
        date_format(timestamp_micros(tsUs), "yyyy-MM-dd").as("day"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("""SELECT event_id, epoch_us(ts) AS ts_us,
             |  make_timestamp(epoch_us(ts)) AS ts_stamp,
             |  strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d') AS day,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events""".stripMargin),
      headline = true),

    // P4: BETWEEN predicate on the time column (partition-pruning shape).
    // Reference: GetDuplicatesTemplateQuery.java:35.
    Q("h_filter_window",
      (s, dir) => events(s, dir)
        .filter(tsUs.between(WinLoUs, WinHiUs))
        .select(col("event_id"), tsUs.as("ts_us")),
      Some(s"""SELECT event_id, epoch_us(ts) AS ts_us FROM events
              |WHERE epoch_us(ts) BETWEEN $WinLoUs AND $WinHiUs""".stripMargin)),

    // P6: UNIX_SECONDS scalar — ns → epoch seconds.
    Q("h_unix_seconds",
      (s, dir) => events(s, dir).select(
        col("event_id"), expr("ts div 1000000000").as("ts_sec")),
      Some("SELECT event_id, epoch_us(ts) // 1000000 AS ts_sec FROM events")),

    // A1: duplicate detection = group-count-having.
    // Reference: GetDuplicatesTemplateQuery.java:33-36.
    Q("h_dup_groups",
      (s, dir) => duplicateGroups(events(s, dir), Seq("user_id")),
      Some("SELECT user_id, count(*) AS num FROM events GROUP BY user_id HAVING count(*) > 1")),

    // A2 (deterministic variant): keep-one-per-key via row_number.
    // Reference: RemoveDuplicatesTemplateQuery.java:33-36.
    Q("h_dedupe_keepone",
      (s, dir) => dedupKeepFirst(events(s, dir), Seq("user_id"),
        Seq(tsUs, col("event_id")))
        .select(col("event_id"), col("user_id"), tsUs.as("ts_us")),
      Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM (
             |  SELECT event_id, user_id, ts, row_number() OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
             |  FROM events) WHERE rn = 1""".stripMargin),
      headline = true),

    // A3: MIN after checkpoint. Reference: GetNextTimestampTemplateQuery.java:29-30.
    Q("h_next_ts",
      (s, dir) => events(s, dir).filter(tsUs > CkptUs)
        .agg(min(tsUs).as("next_ts_us")),
      Some(s"SELECT min(epoch_us(ts)) AS next_ts_us FROM events WHERE epoch_us(ts) > $CkptUs")),

    // A4: MAX under flag predicate. Reference: GetLatestDedupeRowTemplateQuery.java:29-30.
    Q("h_latest_ts",
      (s, dir) => events(s, dir).filter(col("event_type") === "purchase")
        .agg(max(tsUs).as("latest_ts_us")),
      Some("SELECT max(epoch_us(ts)) AS latest_ts_us FROM events WHERE event_type = 'purchase'")),

    // A5: table cardinality. Reference: GetRowCountTemplateQuery.java:30.
    Q("h_count",
      (s, dir) => events(s, dir).agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM events")),

    // J1: MERGE-upsert on key, rewritten as broadcast anti-join + union.
    // Reference: SetStateQuery.java:34-40.
    Q("h_state_upsert",
      (s, dir) => {
        import s.implicits._
        val state = Tables.load(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("v"))
        upsert(state, Seq((3L, "GRAFTLAND")).toDF("k", "v"), "k")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v FROM nation
             |WHERE CAST(n_nationkey AS BIGINT) <> 3
             |UNION ALL SELECT CAST(3 AS BIGINT) AS k, 'GRAFTLAND' AS v""".stripMargin)),

    // J2: MERGE ON FALSE = replace the window's rows with their deduped set.
    // Reference: RemoveDuplicatesTemplateQuery.java:29-43.
    Q("h_window_replace",
      (s, dir) => {
        val ev = events(s, dir)
        val win = tsUs.between(WinLoUs, WinHiUs)
        val replacement = dedupKeepFirst(ev.filter(win), Seq("user_id"),
          Seq(tsUs, col("event_id")))
        replaceWhere(ev, win, replacement).select(col("event_id"))
      },
      Some(s"""SELECT event_id FROM events WHERE NOT (epoch_us(ts) BETWEEN $WinLoUs AND $WinHiUs)
              |UNION ALL
              |SELECT event_id FROM (
              |  SELECT event_id, row_number() OVER (
              |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
              |  FROM events WHERE epoch_us(ts) BETWEEN $WinLoUs AND $WinHiUs) WHERE rn = 1""".stripMargin)),

    // J3: dimension decode via broadcast join (transaction_types analog).
    // Reference: scripts/create-tables.sh:32-59 (+clustering :16).
    Q("h_type_decode",
      (s, dir) => {
        import s.implicits._
        val dim = Seq(("click", 1L), ("view", 2L), ("purchase", 3L),
          ("signup", 4L), ("error", 5L)).toDF("name", "type_id")
        events(s, dir).join(broadcast(dim), col("event_type") === col("name"), "left")
          .groupBy(col("type_id"), col("event_type"))
          .agg(count(lit(1)).as("n"), exactSum(col("value")).as("total_value"))
      },
      Some("""SELECT d.type_id, e.event_type, count(*) AS n,
             |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value
             |FROM events e LEFT JOIN (VALUES
             |  ('click', CAST(1 AS BIGINT)), ('view', 2), ('purchase', 3),
             |  ('signup', 4), ('error', 5)) AS d(name, type_id)
             |  ON e.event_type = d.name
             |GROUP BY d.type_id, e.event_type""".stripMargin)),

    // K1's layout invariant: per-day partition stats (day = the write
    // partition column; reference partitions by consensusTimestampTruncated
    // day — scripts/create-tables.sh:14-15).
    Q("h_day_rollup",
      (s, dir) => events(s, dir)
        .groupBy(
          date_format(timestamp_micros(tsUs), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("total_value")),
      Some(DayRollupSql),
      headline = true),

    // A5+J1 composed as MAINTENANCE: the day rollup kept current by folding
    // per-batch partial aggregates into a persisted additive view
    // (graft.operators.IncrementalRollup) instead of rescanning events per
    // schedule — the engine face of the reference's scheduled re-aggregation
    // jobs (AbstractDeduplication.java's timer-driven MERGE discipline, but
    // O(batch + view) per fire instead of O(fact table)). The oracle is
    // h_day_rollup's SQL VERBATIM over a three-apply build — two halves by
    // event-id parity plus a forced REDELIVERY of the first batch — so the
    // byte match is simultaneously the incremental ≡ one-shot proof and the
    // exactly-once-under-replay proof at the gate (a double-count would
    // shift every even-batch n and total).
    Q("h_day_rollup_incremental",
      (s, dir) => {
        val work = Q.workDir(s, "rollup", dir)
        val ev = events(s, dir).select(
          date_format(timestamp_micros(tsUs), "yyyy-MM-dd").as("day"),
          col("event_type"), col("value"), col("event_id"))
        val keys = Seq("day", "event_type")
        val even = ev.where(pmod(col("event_id"), lit(2)) === 0)
        graft.operators.IncrementalRollup.applyBatch(s, work, even, 0L, keys, "value")
        graft.operators.IncrementalRollup.applyBatch(s, work,
          ev.where(pmod(col("event_id"), lit(2)) === 1), 1L, keys, "value")
        graft.operators.IncrementalRollup.applyBatch(s, work, even, 0L, keys, "value")
        graft.operators.IncrementalRollup.read(s, work)
          .select(col("day"), col("event_type"), col("n"), col("total_value"))
      },
      Some(DayRollupSql))
  )
}
