package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.RelationalOps._

/** General relational surface of the engine over the TPC-H-ish tables:
  * aggregation suites, multi-way joins, windows, sorts/limits, set ops,
  * semi/anti joins, rollup, scalar functions, sessionization. The reference
  * itself needs none of these beyond §2 (BigQuery supplied them); a drop-in
  * engine must still ship them, and they are the bench workhorses.
  */
object Relational {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  // Exact-decimal images used in revenue math (see RelationalOps scaladoc).
  // Widths chosen so the price×rate product is DECIMAL(18,5): precision ≤18
  // keeps Spark's Decimal compact (long-backed, no BigDecimal allocation in
  // the aggregation hot loop). (12,2) is exact for 2-decimal prices < 10^10;
  // (5,3) is exact for 2-decimal rates and their 1±r complements.
  private def decP(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
  private def decR(c: org.apache.spark.sql.Column) = c.cast(DecimalType(5, 3))

  /** Per-customer recency day, order count and exact monetary total —
    * the input of both RFM segmentations. */
  private def rfmBase(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        max(datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
          .cast("long").as("r_day"),
        count(lit(1)).as("f"),
        exactSum(col("o_totalprice")).as("m"))

  /** The one oracle of q_rfm_segments and q_rfm_scalable: the two plans
    * must produce the same quintiles. */
  private val RfmSql =
    """WITH rfm AS (
      |  SELECT o_custkey AS custkey,
      |    CAST(epoch_us(max(o_orderdate)) // 86400000000 AS BIGINT) AS r_day,
      |    count(*) AS f,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS m
      |  FROM orders GROUP BY 1)
      |SELECT custkey, r_day, f, m,
      |  CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
      |  CAST(m_q AS BIGINT) AS m_q,
      |  CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_score
      |FROM (SELECT custkey, r_day, f, m,
      |        ntile(5) OVER (ORDER BY r_day ASC, custkey ASC) AS r_q,
      |        ntile(5) OVER (ORDER BY f ASC, custkey ASC) AS f_q,
      |        ntile(5) OVER (ORDER BY m ASC, custkey ASC) AS m_q
      |      FROM rfm)""".stripMargin

  /** Events per UTC day `(day, n)` — shared by q_daily_anomaly and
    * q_decay_volume. */
  private def dailyCounts(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "events")
      .groupBy(expr("(ts div 1000) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))

  /** The DuckDB image of [[dailyCounts]] as CTE `d`. */
  private val DailyCountCte =
    """d AS (SELECT epoch_us(ts)//86400000000 AS day, count(*) AS n
      |          FROM events GROUP BY 1)""".stripMargin

  val all: Seq[Q] = Seq(

    // TPC-H Q1 shape: the classic scan → filter → hash-agg suite. The scan
    // rides the layout-adaptive spread: nine decimal aggregates per row is
    // exactly the pipelined-CPU shape that a degenerate (single-row-group)
    // layout serializes onto one task — measured r12 on local[32]/sf0.1:
    // 1.36 s single-task vs 0.65 s spread (plain scan at healthy layouts).
    Q("q1_pricing",
      (s, dir) => Tables.loadSpread(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          decToDouble(sum(decP(col("l_extendedprice")) * decR(lit(1) - col("l_discount"))))
            .as("sum_disc_price"),
          decToDouble(sum(decP(col("l_extendedprice")) * decR(lit(1) - col("l_discount"))
            * decR(lit(1) + col("l_tax")))).as("sum_charge"),
          exactAvg(col("l_quantity")).as("avg_qty"),
          exactAvg(col("l_extendedprice")).as("avg_price"),
          exactAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(5,3))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(5,3)) * CAST(1 + l_tax AS DECIMAL(5,3))) AS VARCHAR) AS DOUBLE) AS sum_charge,
             |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
             |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin),
      headline = true),

    // TPC-H Q3 shape: 3-way join → agg → top-N. The limit rides on a
    // deterministic (revenue DESC, key) order; Spark plans it as
    // TakeOrderedAndProject — no full sort at scale.
    Q("q3_shipping",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp_ntz"))
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1999-01-01").cast("timestamp_ntz"))
        // fact-first (r12): stream lineitem through two INDEPENDENT
        // broadcast builds (filtered orders, BUILDING customers) instead of
        // the dim-first chain that built its broadcasts sequentially and
        // broadcast the filtered 600k-row lineitem side. Inner joins
        // reorder freely: same rows, same oracle.
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(decToDouble(sum(decP(col("l_extendedprice")) * decR(lit(1) - col("l_discount"))))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(5,3))) AS VARCHAR) AS DOUBLE) AS revenue
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
             |  AND o_orderkey = l_orderkey
             |  AND o_orderdate < TIMESTAMP '1999-01-01'
             |  AND l_shipdate > TIMESTAMP '1999-01-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
      headline = true),

    // TPC-H Q5 shape: star join over region/nation/customer/orders — built
    // LEFT-DEEP FROM THE FACT TABLE (r12): the old dim-first chain
    // (r⋈n⋈c⋈o⋈l) nested each broadcast build inside the next build's job,
    // so the four builds ran as SEQUENTIAL stage barriers and the planner
    // even picked the 600k-row lineitem side as the last build. Fact-first,
    // every dimension build is an independent leaf (AQE materializes them
    // in parallel) and lineitem only streams — locally fewer sequential
    // barriers, and at scale the facts shuffle at most once per join key
    // while the bounded dims (nation, ASIA region) ride explicit broadcast
    // hints. Inner joins reorder freely: same rows, same oracle.
    Q("q5_region_rev",
      (s, dir) => {
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(decToDouble(sum(decP(col("l_extendedprice")) * decR(lit(1) - col("l_discount"))))
            .as("revenue"))
      },
      Some("""SELECT n_name,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(5,3))) AS VARCHAR) AS DOUBLE) AS revenue
             |FROM region, nation, customer, orders, lineitem
             |WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey
             |  AND n_nationkey = c_nationkey AND c_custkey = o_custkey
             |  AND o_orderkey = l_orderkey
             |GROUP BY n_name""".stripMargin),
      headline = true),

    // Broadcast dimension join + mixed aggregate suite (part side broadcast).
    Q("q_part_brand",
      (s, dir) => t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          exactSum(col("l_quantity")).as("qty"),
          countDistinct(col("l_suppkey")).as("n_supps")),
      Some("""SELECT p_brand, count(*) AS n_items,
             |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS qty,
             |  count(DISTINCT l_suppkey) AS n_supps
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand""".stripMargin)),

    // ORDER BY + LIMIT (TakeOrderedAndProject).
    Q("q_sort_limit",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // Grouped top-k via the bounded-heap TopKByScore aggregate — the
    // shuffle-light alternative to the q_window_rank shape: partial
    // aggregation reduces each map task to ≤k entries per group BEFORE the
    // exchange, so the shuffle carries O(groups·k) instead of every
    // candidate row. Oracle = the equivalent row_number window in DuckDB
    // (score desc, ties to the smaller id — the aggregate's documented
    // order). Scores pass through as raw doubles: no arithmetic, so the
    // engines agree bit-for-bit.
    Q("q_group_topk",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(graft.expressions.TopKByScore(col("o_totalprice"), col("o_orderkey"), 5)
          .as("topk"))
        .select(col("priority"), posexplode(col("topk")).as(Seq("pos", "e")))
        .select(col("priority"), (col("pos") + 1).cast("long").as("rnk"),
          col("e.id").as("order_id"), col("e.score").as("score")),
      Some("""SELECT o_orderpriority AS priority, CAST(rn AS BIGINT) AS rnk,
             |  o_orderkey AS order_id, o_totalprice AS score
             |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             |        row_number() OVER (PARTITION BY o_orderpriority
             |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |      FROM orders)
             |WHERE rn <= 5""".stripMargin),
      headline = true),

    // Ranking window: top-3 orders per customer.
    Q("q_window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
             |FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
             |        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |      FROM orders) WHERE rnk <= 3""".stripMargin),
      headline = true),

    // Running-total window (frame ROWS UNBOUNDED PRECEDING..CURRENT); decimal
    // accumulation keeps the running double deterministic.
    Q("q_window_running",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(expr("ts div 1000"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events").select(
          col("user_id"), col("event_id"),
          decToDouble(sum(dec(col("value"))).over(w)).as("running_value"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_value
             |FROM events""".stripMargin)),

    // Set operations: INTERSECT + EXCEPT over distinct key sets.
    Q("q_setops",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nk")).distinct()
        val sup = t(s, dir, "supplier")
          .select(col("s_nationkey").cast("long").as("nk")).distinct()
        c.intersect(sup).withColumn("op", lit("both"))
          .unionByName(c.except(sup).withColumn("op", lit("customer_only")))
      },
      Some("""SELECT nk, 'both' AS op FROM (
             |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nk FROM customer
             |  INTERSECT
             |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
             |UNION ALL
             |SELECT nk, 'customer_only' AS op FROM (
             |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nk FROM customer
             |  EXCEPT
             |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)""".stripMargin)),

    // Semi + anti join cardinalities (EXISTS / NOT EXISTS).
    Q("q_semi_anti",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .agg(count(lit(1)).as("with_orders"))
        val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("without_orders"))
        semi.crossJoin(anti)
      },
      Some("""SELECT
             |  (SELECT count(*) FROM customer WHERE EXISTS
             |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS with_orders,
             |  (SELECT count(*) FROM customer WHERE NOT EXISTS
             |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS without_orders""".stripMargin)),

    // DISTINCT aggregation alongside plain aggregates.
    Q("q_distinct_agg",
      (s, dir) => t(s, dir, "orders").groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("total")),
      Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
             |  count(*) AS n_orders,
             |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // ROLLUP grouping sets.
    Q("q_rollup",
      (s, dir) => t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // min/max/avg/count statistics per group.
    Q("q_stats_agg",
      (s, dir) => t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("n"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          exactAvg(col("c_acctbal")).as("avg_bal")),
      Some("""SELECT c_nationkey, count(*) AS n, min(c_acctbal) AS min_bal,
             |  max(c_acctbal) AS max_bal,
             |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
             |FROM customer GROUP BY c_nationkey""".stripMargin)),

    // Scalar-function suite: string, date-part, conditional, integer math.
    Q("q_case_scalar",
      (s, dir) => t(s, dir, "orders").select(
        col("o_orderkey"),
        upper(substring(col("o_orderpriority"), 1, 1)).as("pri_code"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_pri"),
        length(col("o_orderpriority")).cast("long").as("pri_len"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 200000, "medium")
          .otherwise("large").as("bucket"),
        floor(col("o_totalprice") / 1000).cast("long").as("kprice"),
        coalesce(nullif(col("o_orderstatus"), lit("F")), lit("X")).as("status_or_x")),
      Some("""SELECT o_orderkey,
             |  upper(substring(o_orderpriority, 1, 1)) AS pri_code,
             |  o_orderstatus || '-' || o_orderpriority AS status_pri,
             |  CAST(length(o_orderpriority) AS BIGINT) AS pri_len,
             |  CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(month(o_orderdate) AS BIGINT) AS mo,
             |  CASE WHEN o_totalprice < 50000 THEN 'small'
             |       WHEN o_totalprice < 200000 THEN 'medium'
             |       ELSE 'large' END AS bucket,
             |  CAST(floor(o_totalprice / 1000) AS BIGINT) AS kprice,
             |  coalesce(nullif(o_orderstatus, 'F'), 'X') AS status_or_x
             |FROM orders""".stripMargin)),

    // Event-time tumbling window (batch analog of the streaming hourly agg).
    Q("q_time_bucket",
      (s, dir) => t(s, dir, "events").groupBy(
        date_trunc("hour", timestamp_micros(expr("ts div 1000")))
          .cast("timestamp_ntz").as("hour"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value")),
      Some("""SELECT date_trunc('hour', make_timestamp(epoch_us(ts))) AS hour,
             |  count(*) AS n,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1""".stripMargin),
      headline = true),

    // Sessionization: 30-minute-gap sessions per user via lag + running sum —
    // the batch image of streaming session windows.
    Q("q_sessionize",
      (s, dir) => {
        val usCol = expr("ts div 1000")
        val byTime = Window.partitionBy(col("user_id")).orderBy(usCol, col("event_id"))
        val gapUs = 1800000000L // 30 min
        val flagged = t(s, dir, "events")
          .withColumn("ts_us", usCol)
          .withColumn("new_sess",
            when(lag(col("ts_us"), 1).over(byTime).isNull
              || col("ts_us") - lag(col("ts_us"), 1).over(byTime) > gapUs, 1L).otherwise(0L))
        flagged.withColumn("sid",
          sum(col("new_sess")).over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"))
          .agg(max(col("sid")).as("n_sessions"), count(lit(1)).as("n_events"))
      },
      Some("""SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions, count(*) AS n_events
             |FROM (SELECT user_id, SUM(new_sess) OVER (
             |        PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |      FROM (SELECT user_id, event_id, ts,
             |              CASE WHEN lag(epoch_us(ts)) OVER (
             |                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
             |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
             |                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
             |                   THEN 1 ELSE 0 END AS new_sess
             |            FROM events))
             |GROUP BY user_id""".stripMargin),
      headline = true),

    // JSON extraction feeding aggregation.
    Q("q_json_extract",
      (s, dir) => t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"), sum(col("k")).as("sum_k")),
      Some("""SELECT event_type, count(*) AS n, min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(k) AS BIGINT) AS sum_k
             |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |      FROM events)
             |GROUP BY event_type""".stripMargin)),

    // Z-order layout key — the multi-column locality clustering behind
    // sources.ZOrderLayout.write (Delta/Iceberg OPTIMIZE ZORDER's core):
    // each clustered column min/max-scales to a 16-bit bucket (one 1-row
    // stats broadcast, then a pure per-row map) and the buckets
    // bit-interleave into the Morton key whose sorted layout makes parquet
    // row-group stats prune on EVERY clustered column (measured from real
    // footers in ZOrderSpec). Exact-integer double operands + an unrolled
    // shift/mask chain shared with the oracle via interleaveSql — the
    // layout key is byte-checked, so two engines cluster identically.
    Q("q_zorder_key",
      (s, dir) => graft.sources.ZOrderLayout.withZKey(
          t(s, dir, "lineitem"), Seq("l_partkey", "l_suppkey"), bits = 16)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("zkey")),
      Some(
        s"""WITH zst AS (
           |  SELECT CAST(min(l_partkey) AS DOUBLE) AS mnp,
           |         CAST(max(l_partkey) AS DOUBLE) AS mxp,
           |         CAST(min(l_suppkey) AS DOUBLE) AS mns,
           |         CAST(max(l_suppkey) AS DOUBLE) AS mxs
           |  FROM lineitem),
           |zb AS (
           |  SELECT l_orderkey, l_linenumber,
           |    ${graft.sources.ZOrderLayout.bucketSql("l_partkey", "mnp", "mxp", 16)} AS b0,
           |    ${graft.sources.ZOrderLayout.bucketSql("l_suppkey", "mns", "mxs", 16)} AS b1
           |  FROM lineitem, zst)
           |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |  ${graft.sources.ZOrderLayout.interleaveSql(Seq("b0", "b1"), 16)} AS zkey
           |FROM zb""".stripMargin)),

    // As-of join: each event attached to the customer's latest order at or
    // before the event time — the time-series enrichment operator Spark
    // lacks natively (RelationalOps.asOfJoin: one-shuffle union-window
    // form, no per-key quadratic range join). The right side pre-aggregates
    // to one row per (custkey, date) so the survivor is deterministic;
    // oracle = DuckDB's native ASOF JOIN.
    Q("q_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ev_us"))
        val o = t(s, dir, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("o_orderkey"))
          // o_orderdate is TIMESTAMP_NTZ; the NTZ→TZ cast is identity under
          // the session's UTC timezone, matching DuckDB's naive epoch_us
          .withColumn("o_date_us", unix_micros(col("o_orderdate").cast("timestamp")))
        graft.operators.RelationalOps.asOfJoin(ev, o, "user_id", "o_custkey",
            col("ev_us"), col("o_date_us"), Seq("o_orderkey", "o_date_us"))
          .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_date_us"))
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
             |           FROM orders GROUP BY 1, 2)
             |SELECT event_id, user_id, o_orderkey, epoch_us(o_orderdate) AS o_date_us
             |FROM events ASOF JOIN o
             |  ON events.user_id = o.o_custkey AND events.ts >= o.o_orderdate""".stripMargin)),

    // Range join: same-user event pairs within +-5 minutes — the interval
    // join Spark plans as a per-key nested loop; RelationalOps.rangeJoinPairs
    // is the banded form (bucket by radius, neighbor-bucket equi-join, exact
    // filter), O(pairs) instead of O(n^2) per key. Oracle = DuckDB's
    // inequality join over the same predicate.
    Q("q_range_join",
      (s, dir) => graft.operators.RelationalOps.rangeJoinPairs(
          t(s, dir, "events"), "user_id", "event_id",
          expr("ts div 1000"), radius = 300000000L)
        .select(col("user_id"), col("a_id"), col("b_id"), col("gap").as("gap_us")),
      Some("""SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
             |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id AND a.event_id < b.event_id
             | AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 300000000""".stripMargin)),

    // explode / flatten: corpus word frequencies, top-20.
    Q("q_explode_words",
      (s, dir) => t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(20),
      Some("""SELECT word, count(*) AS n FROM (
             |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
             |  FROM documents)
             |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin)),

    // CUBE: all 2^2 grouping-set combinations in one pass. Spark plans a
    // single expand + hash-agg (partial aggregation intact), not four scans.
    Q("q_cube",
      (s, dir) => t(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("sum_price")),
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
             |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin)),

    // PIVOT: per-day event counts fanned to one column per event type.
    // A fixed value list keeps the plan a single pass (no distinct-values
    // pre-query) and the output schema static — the 100 TB form. Oracle =
    // the equivalent conditional aggregation.
    Q("q_pivot",
      (s, dir) => t(s, dir, "events")
        .groupBy(to_date(timestamp_micros(expr("ts div 1000"))).as("day"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .select(col("day").cast("timestamp_ntz").as("day"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("error"), lit(0L)).as("n_error")),
      Some("""SELECT CAST(date_trunc('day', make_timestamp(epoch_us(ts))) AS TIMESTAMP) AS day,
             |  count(*) FILTER (event_type = 'click') AS n_click,
             |  count(*) FILTER (event_type = 'view') AS n_view,
             |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
             |  count(*) FILTER (event_type = 'signup') AS n_signup,
             |  count(*) FILTER (event_type = 'error') AS n_error
             |FROM events GROUP BY 1""".stripMargin)),

    // GROUPING SETS with an explicit set list (the general form rollup/cube
    // specialize); grouping_id disambiguates a NULL group key from a
    // subtotal row — without it the two are indistinguishable in the
    // output. Single-pass expand + one aggregation exchange.
    Q("q_grouping_sets",
      (s, dir) => t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("sum_price")),
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
             |  count(*) AS n_orders,
             |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin)),

    // RANGE-frame window: per-user moving 60-second sum — the frame is a
    // VALUE range on the event-time axis (peers with equal timestamps are
    // all in-frame, so the result is independent of any tiebreak order),
    // unlike the ROWS frame of q_window_running. Decimal-summed for
    // order-insensitive exactness.
    Q("q_window_range",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(expr("ts div 1000000000"))
          .rangeBetween(-60, Window.currentRow)
        t(s, dir, "events").select(
          col("user_id"), col("event_id"),
          decToDouble(sum(dec(col("value"))).over(w)).as("moving_60s_value"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
             |    RANGE BETWEEN 60 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS moving_60s_value
             |FROM events""".stripMargin)),

    // Ordered funnel with a per-step conversion deadline (24 h): the
    // product-analytics staple. Each stage's first-completion time is a
    // conditional MIN over the SAME user partition, so all four stages are
    // chained unbounded-window aggregates over one hash exchange — never a
    // per-stage self-join cascade (4 event-table scans) and never a
    // sequential driver loop. The final stage counts partial-aggregate to a
    // single row, unpivoted with stack(). At 100 TB: one shuffle of the
    // (user, type, ts) projection, stage state is 4 longs per user.
    Q("q_funnel",
      (s, dir) => {
        val dl = 86400000000L // 24 h in µs
        val w = Window.partitionBy(col("user_id"))
        def step(prev: String, typ: String): org.apache.spark.sql.Column =
          min(when(col("event_type") === typ && col("tu") > col(prev)
            && col("tu") <= col(prev) + dl, col("tu"))).over(w)
        val staged = t(s, dir, "events")
          .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tu"))
          .withColumn("s1",
            min(when(col("event_type") === "signup", col("tu"))).over(w))
          .withColumn("s2", step("s1", "view"))
          .withColumn("s3", step("s2", "click"))
          .withColumn("s4", step("s3", "purchase"))
          .groupBy(col("user_id"))
          .agg(max(col("s1")).as("s1"), max(col("s2")).as("s2"),
            max(col("s3")).as("s3"), max(col("s4")).as("s4"))
        staged.agg(count(col("s1")).as("c1"), count(col("s2")).as("c2"),
            count(col("s3")).as("c3"), count(col("s4")).as("c4"))
          .select(expr("stack(4, 1L, 'signup', c1, 2L, 'view', c2, " +
            "3L, 'click', c3, 4L, 'purchase', c4) AS (stage, stage_name, n_users)"))
      },
      Some("""WITH t1 AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tu,
             |    min(CASE WHEN event_type='signup' THEN epoch_us(ts) END)
             |      OVER (PARTITION BY user_id) AS s1
             |  FROM events),
             |t2 AS (SELECT *, min(CASE WHEN event_type='view' AND tu > s1
             |         AND tu <= s1 + 86400000000 THEN tu END)
             |       OVER (PARTITION BY user_id) AS s2 FROM t1),
             |t3 AS (SELECT *, min(CASE WHEN event_type='click' AND tu > s2
             |         AND tu <= s2 + 86400000000 THEN tu END)
             |       OVER (PARTITION BY user_id) AS s3 FROM t2),
             |t4 AS (SELECT *, min(CASE WHEN event_type='purchase' AND tu > s3
             |         AND tu <= s3 + 86400000000 THEN tu END)
             |       OVER (PARTITION BY user_id) AS s4 FROM t3),
             |u AS (SELECT user_id, max(s1) AS s1, max(s2) AS s2,
             |        max(s3) AS s3, max(s4) AS s4 FROM t4 GROUP BY user_id)
             |SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS stage_name, count(s1) AS n_users FROM u
             |UNION ALL SELECT 2, 'view', count(s2) FROM u
             |UNION ALL SELECT 3, 'click', count(s3) FROM u
             |UNION ALL SELECT 4, 'purchase', count(s4) FROM u""".stripMargin)),

    // Retention cohort matrix: users by first-seen day × days-since-cohort.
    // The corpus-sized shuffle happens exactly once (the (user, day)
    // distinct); the cohort window and the final rollup run on the
    // user×active-day frame, which is bounded by users · retention horizon,
    // not by event volume. countDistinct is avoided entirely — after the
    // dedup, count(*) IS distinct users.
    Q("q_retention_cohort",
      (s, dir) => {
        val days = t(s, dir, "events")
          .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
          .distinct()
        days
          .withColumn("cohort_day",
            min(col("day")).over(Window.partitionBy(col("user_id"))))
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH d AS (SELECT DISTINCT user_id, epoch_us(ts)//86400000000 AS day FROM events),
             |c AS (SELECT user_id, day,
             |        min(day) OVER (PARTITION BY user_id) AS cohort_day FROM d)
             |SELECT cohort_day, day - cohort_day AS offset_days, count(*) AS n_users
             |FROM c GROUP BY 1, 2""".stripMargin)),

    // SCD2-style run history (gaps-and-islands): collapse each user's
    // consecutive same-type event runs into [valid_from, valid_to) intervals
    // — the standard dimension-history build. One hash exchange on user_id
    // carries the lag-flag window, the island aggregation (user_id ⊂ the
    // grouping key, so no re-shuffle), and the valid_to lead — three
    // operators, one exchange.
    Q("q_scd2_runs",
      (s, dir) => {
        val byTime = Window.partitionBy(col("user_id"))
          .orderBy(col("tu"), col("event_id"))
        val flagged = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("ts div 1000").as("tu"))
          .withColumn("chg",
            when(lag(col("event_type"), 1).over(byTime).isNull
              || lag(col("event_type"), 1).over(byTime) =!= col("event_type"), 1L)
              .otherwise(0L))
          .withColumn("run_id", sum(col("chg")).over(
            byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        flagged
          .groupBy(col("user_id"), col("run_id"))
          .agg(first(col("event_type")).as("state"), min(col("tu")).as("valid_from"),
            count(lit(1)).as("n_events"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("run_id"))))
          .select(col("user_id"), col("run_id"), col("state"),
            col("valid_from"), col("valid_to"), col("n_events"))
      },
      Some("""WITH o AS (
             |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tu,
             |    CASE WHEN lag(event_type) OVER w IS NULL
             |         OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
             |i AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY tu, event_id
             |        ROWS UNBOUNDED PRECEDING) AS run_id FROM o),
             |r AS (SELECT user_id, run_id, any_value(event_type) AS state,
             |        min(tu) AS valid_from, count(*) AS n_events
             |      FROM i GROUP BY 1, 2)
             |SELECT user_id, CAST(run_id AS BIGINT) AS run_id, state, valid_from,
             |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
             |  n_events
             |FROM r""".stripMargin)),

    // Session path mining: top event-type trigram sequences within
    // 30-minute sessions — the user-journey statistic built ON the
    // sessionize machinery. The session id, both lead() lookaheads, and the
    // lag flag all ride the SAME user_id exchange (user_id ⊆ every window
    // key); the path count shuffle carries at most |types|³ rows and the
    // final cut is TakeOrderedAndProject.
    Q("q_session_paths",
      (s, dir) => {
        val byTime = Window.partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
        val gapUs = 1800000000L
        val sess = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("ts div 1000").as("tu"))
          .withColumn("ns",
            when(lag(col("tu"), 1).over(byTime).isNull
              || col("tu") - lag(col("tu"), 1).over(byTime) > gapUs, 1L).otherwise(0L))
          .withColumn("sid", sum(col("ns")).over(
            byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val w2 = Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("tu"), col("event_id"))
        val paths = sess
          .select(col("event_type").as("t0"),
            lead(col("event_type"), 1).over(w2).as("t1"),
            lead(col("event_type"), 2).over(w2).as("t2"))
          .filter(col("t1").isNotNull && col("t2").isNotNull)
          .groupBy(concat_ws(">", col("t0"), col("t1"), col("t2")).as("path"))
          .agg(count(lit(1)).as("n"))
        paths.orderBy(col("n").desc, col("path").asc).limit(20)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("n").desc, col("path").asc)).cast("long"))
      },
      Some("""WITH f AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tu,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS ns
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
             |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY tu, event_id
             |        ROWS UNBOUNDED PRECEDING) AS sid FROM f),
             |p AS (SELECT event_type AS t0,
             |        lead(event_type, 1) OVER w2 AS t1, lead(event_type, 2) OVER w2 AS t2
             |      FROM s WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY tu, event_id)),
             |c AS (SELECT t0 || '>' || t1 || '>' || t2 AS path, count(*) AS n
             |      FROM p WHERE t1 IS NOT NULL AND t2 IS NOT NULL GROUP BY 1)
             |SELECT path, n, CAST(row_number() OVER (ORDER BY n DESC, path ASC) AS BIGINT) AS rnk
             |FROM c ORDER BY n DESC, path ASC LIMIT 20""".stripMargin)),

    // First-order Markov transition matrix over event types — per-user
    // ordered lag pairs, counted globally, row-normalized into transition
    // probabilities. One user exchange for the lag; the count shuffle is
    // |types|²-bounded; the per-from totals broadcast back.
    Q("q_event_transitions",
      (s, dir) => {
        val byTime = Window.partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
        val c = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("ts div 1000").as("tu"))
          .withColumn("prev", lag(col("event_type"), 1).over(byTime))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = c.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
        c.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            graft.operators.RelationalOps.round6(
              col("n").cast("double") / col("tot").cast("double")).as("p"))
      },
      Some("""WITH o AS (SELECT user_id, event_type, lag(event_type) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev FROM events),
             |c AS (SELECT prev AS from_type, event_type AS to_type, count(*) AS n
             |      FROM o WHERE prev IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
             |SELECT from_type, to_type, n,
             |  floor((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS p
             |FROM c JOIN t USING (from_type)""".stripMargin)),

    // Daily volume anomaly: per-day event counts z-scored against the
    // whole-range mean/variance — the ops-monitoring spike detector. The
    // moments come from exact BIGINT sums (Σn, Σn²) on the day-sized
    // rollup; the corpus pays one partial-aggregable count shuffle and the
    // 1-row stats frame broadcasts back.
    Q("q_daily_anomaly",
      (s, dir) => {
        val d = dailyCounts(s, dir)
        val st = d.agg(count(lit(1)).as("m"), sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"))
        val mean = col("s1").cast("double") / col("m").cast("double")
        val varp = col("s2").cast("double") / col("m").cast("double") - mean * mean
        d.crossJoin(broadcast(st))
          .select(col("day"), col("n"),
            when(varp <= 0.0, lit(0.0)).otherwise(
              graft.operators.RelationalOps.round6(
                (col("n").cast("double") - mean) / sqrt(varp))).as("z"))
      },
      Some(s"""WITH $DailyCountCte,
             |s AS (SELECT count(*) AS m, CAST(sum(n) AS BIGINT) AS s1,
             |        CAST(sum(n*n) AS BIGINT) AS s2 FROM d)
             |SELECT day, n,
             |  CASE WHEN CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
             |        - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) <= 0.0 THEN 0.0
             |       ELSE floor(((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) /
             |   sqrt(CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
             |        - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)))) * 1000000 + 0.5) / 1000000 END AS z
             |FROM d, s""".stripMargin)),

    // RFM customer segmentation: recency/frequency/monetary quintiles —
    // the classic warehouse scoring op. The order-table scan partial-
    // aggregates to one row per customer; the three ntile windows run on
    // the customer-bounded frame (deterministic: each ORDER BY carries the
    // custkey tiebreak, and monetary is the exact decimal-summed double).
    // KNOWN LIMIT (ADVICE r10): ntile(5) over an unpartitioned window
    // funnels the whole customer frame through ONE task — fine while the
    // frame is dimension-sized (orders collapse ~10:1 first), but at a
    // 100 M+ customer dimension swap the windows for the two-pass exact
    // plan: global row number via range-repartition + broadcast partition
    // offsets, tile = (rownum-1)*5 div n + 1. Same results, no single-task
    // sort; documented in SCALING.md §Relational queries.
    Q("q_rfm_segments",
      (s, dir) => {
        val rfm = rfmBase(s, dir)
        def q5(c1: org.apache.spark.sql.Column) = ntile(5)
          .over(Window.orderBy(c1.asc, col("custkey").asc)).cast("long")
        rfm
          .withColumn("r_q", q5(col("r_day")))
          .withColumn("f_q", q5(col("f")))
          .withColumn("m_q", q5(col("m")))
          .withColumn("rfm_score", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      },
      Some(RfmSql)),

    // The SAME RFM segmentation through the scalable exact-ntile plan
    // (RelationalOps.exactNtile — closes ADVICE r10's single-task-window
    // note with code, not a comment): byte-identical output replayed
    // against the IDENTICAL oracle, but each quintile is a range exchange
    // + per-partition row_number + a #partitions-row offsets broadcast —
    // no unpartitioned window anywhere, so the plan survives a 100 M-row
    // customer dimension. PlanShapeSpec pins the no-global-window shape.
    Q("q_rfm_scalable",
      (s, dir) => {
        val rfm = rfmBase(s, dir)
        val ops = graft.operators.RelationalOps
        val withR = ops.exactNtile(rfm, 5,
          Seq(col("r_day").asc, col("custkey").asc), "r_q")
        val withF = ops.exactNtile(withR, 5,
          Seq(col("f").asc, col("custkey").asc), "f_q")
        val withM = ops.exactNtile(withF, 5,
          Seq(col("m").asc, col("custkey").asc), "m_q")
        withM.withColumn("rfm_score",
          col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      },
      Some(RfmSql)),

    // Last-touch conversion attribution: each purchase credited to the
    // user's most recent PRECEDING non-purchase event within a 7-day
    // lookback ('none' otherwise) — the marketing-analytics staple. ONE
    // user exchange: the struct-max window picks the lexicographically
    // maximal (tu, event_id, type) among preceding non-purchases (= the
    // latest, id tiebreak; max skips nulls on both engines), and the
    // lookback predicate plus the |types|-bounded count shuffle run on the
    // conversion rows above it.
    Q("q_attribution_last_touch",
      (s, dir) => {
        val byTime = Window.partitionBy(col("user_id"))
          .orderBy(col("tu"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val e = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("ts div 1000").as("tu"))
          .withColumn("lt", max(when(col("event_type") =!= "purchase",
            struct(col("tu"), col("event_id"), col("event_type")))).over(byTime))
        e.filter(col("event_type") === "purchase")
          .select(coalesce(when(col("lt.tu") >= col("tu") - 604800000000L,
            col("lt.event_type")), lit("none")).as("touch_type"))
          .groupBy(col("touch_type")).agg(count(lit(1)).as("conversions"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tu FROM events),
             |w AS (SELECT user_id, event_id, event_type, tu,
             |        max(CASE WHEN event_type <> 'purchase'
             |             THEN {'tu': tu, 'eid': event_id, 'ty': event_type} END)
             |          OVER (PARTITION BY user_id ORDER BY tu, event_id
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
             |      FROM e)
             |SELECT coalesce(CASE WHEN lt.tu >= tu - 604800000000 THEN lt.ty END, 'none') AS touch_type,
             |       count(*) AS conversions
             |FROM w WHERE event_type = 'purchase'
             |GROUP BY 1""".stripMargin)),

    // Half-life decay-weighted daily volume — the freshness-weighting op
    // behind recency-biased sampling and trend dashboards. EXACT across
    // engines by construction: a 1-day half-life means weight 2^-lag,
    // a dyadic rational, so the per-day contribution is the INTEGER
    // n·2^(30-lag) (BIGINT, no float fold anywhere) and the displayed
    // weight is an exactly-representable double on the 6-dp grid. The
    // corpus pays one partial-aggregable day count; the 1-row max-day
    // frame broadcasts back; weights beyond 30 half-lives clamp to zero
    // (they are sub-ulp anyway).
    Q("q_decay_volume",
      (s, dir) => {
        val d = dailyCounts(s, dir)
        val mx = d.agg(max(col("day")).as("md"))
        val lag = col("md") - col("day")
        val pow2 = expr("shiftleft(1L, cast(30 - (md - day) as int))")
        d.crossJoin(broadcast(mx))
          .select(col("day"), col("n"),
            when(lag <= 30, col("n") * pow2)
              .otherwise(lit(0L)).cast("long").as("contrib_fp"),
            when(lag <= 30, graft.operators.RelationalOps.round6(
              pow2.cast("double") / 1073741824.0))
              .otherwise(lit(0.0)).as("decay_w"))
      },
      Some(s"""WITH $DailyCountCte,
             |mx AS (SELECT max(day) AS md FROM d)
             |SELECT day, n,
             |  CASE WHEN md - day <= 30
             |       THEN CAST(n * (1::BIGINT << CAST(30 - (md - day) AS INT)) AS BIGINT)
             |       ELSE 0 END AS contrib_fp,
             |  CASE WHEN md - day <= 30
             |       THEN floor((CAST(1::BIGINT << CAST(30 - (md - day) AS INT) AS DOUBLE)
             |            / 1073741824.0) * 1000000 + 0.5) / 1000000
             |       ELSE 0.0 END AS decay_w
             |FROM d, mx""".stripMargin)),

    // TPC-H Q7 shape (generalized): cross-nation shipping volume by year —
    // the 4-table star with TWO dimension decodes of the same nation table
    // under different roles. Facts flow through shuffle joins on their
    // keys; supplier and both nation roles broadcast; one agg shuffle on
    // the (nation, nation, year) key.
    Q("q7_nation_volume",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
            && col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
        val n = t(s, dir, "nation")
        l.join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
          .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
          .join(broadcast(t(s, dir, "supplier")), col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(n.select(col("n_nationkey").as("cnk"),
            col("n_name").as("cust_nation"))), col("cnk") === col("c_nationkey"))
          .join(broadcast(n.select(col("n_nationkey").as("snk"),
            col("n_name").as("supp_nation"))), col("snk") === col("s_nationkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(decToDouble(sum(decP(col("l_extendedprice"))
            * decR(lit(1) - col("l_discount")))).as("revenue"))
      },
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(5,3))) AS VARCHAR) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON o_orderkey = l_orderkey
             |JOIN customer ON c_custkey = o_custkey
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation cn ON cn.n_nationkey = c_nationkey
             |JOIN nation sn ON sn.n_nationkey = s_nationkey
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND sn.n_name <> cn.n_name
             |GROUP BY 1, 2, 3""".stripMargin)),

    // TPC-H Q4 shape: correlated EXISTS with a CROSS-TABLE predicate
    // (lineitem shipped > 90 days after its order's date) — planned as a
    // LEFT SEMI join carrying the non-equi residual, so each order is
    // counted once no matter how many late lines it has. Date filter
    // pushes to the orders scan.
    Q("q4_order_priority",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp_ntz")
            && col("o_orderdate") < lit("1996-10-01").cast("timestamp_ntz"))
        val l = t(s, dir, "lineitem")
        o.join(l, col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
             |  AND o_orderdate < TIMESTAMP '1996-10-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
             |GROUP BY 1""".stripMargin)),

    // TPC-H Q15 shape: aggregate view + select-the-max (all ties kept) —
    // the correlated-max idiom. The revenue view collapses lineitem to one
    // row per supplier BEFORE anything else (materialized once for its two
    // consumers), the max rides back as a 1-row broadcast, and the
    // supplier decode is a broadcast dimension join. Max equality compares
    // the exact decimal-derived double, so ties are engine-portable.
    Q("q15_top_supplier",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-07-01").cast("timestamp_ntz")
            && col("l_shipdate") < lit("1996-10-01").cast("timestamp_ntz"))
          .groupBy(col("l_suppkey").as("suppkey"))
          .agg(decToDouble(sum(decP(col("l_extendedprice"))
            * decR(lit(1) - col("l_discount")))).as("total_rev"))
          .localCheckpoint(true)
        val mx = rev.agg(max(col("total_rev")).as("m"))
        broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey").as("suppkey"), col("s_name")))
          .join(rev, "suppkey").crossJoin(broadcast(mx))
          .filter(col("total_rev") === col("m"))
          .select(col("suppkey"), col("s_name"), col("total_rev"))
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey AS suppkey,
             |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(5,3))) AS VARCHAR) AS DOUBLE) AS total_rev
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-07-01'
             |    AND l_shipdate < TIMESTAMP '1996-10-01'
             |  GROUP BY 1),
             |mx AS (SELECT max(total_rev) AS m FROM rev)
             |SELECT s.s_suppkey AS suppkey, s.s_name, r.total_rev
             |FROM supplier s JOIN rev r ON r.suppkey = s.s_suppkey, mx
             |WHERE r.total_rev = mx.m""".stripMargin))
  )
}
