package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

/** Core relational operators of the engine, expressed as composable
  * DataFrame combinators so Catalyst plans (and optimizes) them natively.
  *
  * These are the Spark-first re-expression of the reference's SQL-template
  * operators (SURVEY.md §2.3/§2.4):
  *  - duplicate detection  = group-count-having
  *    (reference GetDuplicatesTemplateQuery.java:33-36)
  *  - keep-one dedup       = ARRAY_AGG(... LIMIT 1) per key
  *    (reference RemoveDuplicatesTemplateQuery.java:33-36)
  *  - state upsert         = MERGE on key
  *    (reference SetStateQuery.java:34-40)
  *  - windowed replace     = MERGE ON FALSE over a partition range
  *    (reference RemoveDuplicatesTemplateQuery.java:29-43)
  */
object RelationalOps {

  /** Keys occurring more than once, with their multiplicity.
    * Shuffle profile: one hash-aggregate with map-side partial aggregation —
    * at scale only (key, partial-count) pairs cross the wire.
    */
  def duplicateGroups(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("num"))
      .filter(col("num") > 1)

  /** Deterministic keep-one: survivor = first row by `order` within each key
    * group. Costs a shuffle + per-group sort; use when reproducibility
    * matters more than throughput (golden tests, oracle comparison).
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** MERGE-upsert of `updates` into `state` on `key`: matched rows replaced,
    * unmatched inserted. Anti-join + union — semantically the reference's
    * `WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT` with a right-side-wins
    * rule. Broadcast the (tiny) update side so the state table never shuffles.
    */
  def upsert(state: DataFrame, updates: DataFrame, key: String): DataFrame =
    state.join(broadcast(updates), Seq(key), "left_anti")
      .unionByName(updates)

  /** The default row cap of every guarded broadcast (tombstone sets, query
    * term/shingle sets, eval n-gram and LM model tables). */
  val MaxBroadcastRows = 2000000L

  /** Whether `df` holds more than `cap` rows. "This side is small" is an
    * assumption, not an invariant, so a broadcast is decided by probing.
    * The probe is BOUNDED: `limit(cap + 1).count()` stops scanning once the
    * cap overflows, so it never costs more than cap + 1 rows of the input.
    * A cap past limit()'s Int range falls back to a full count rather than
    * skipping the guard. Probe a materialized frame, never a lazy
    * aggregate: the probe would re-run the aggregation. */
  def exceedsCap(df: DataFrame, cap: Long): Boolean =
    if (cap < Int.MaxValue - 1) df.limit(cap.toInt + 1).count() > cap
    else df.count() > cap

  /** The build side of a guarded join: broadcast while small, a
    * `shuffle_hash` hint past the cap (the frame stays the per-partition
    * build side and AQE absorbs hot keys). Both branches return the same
    * rows; only the plan differs. */
  def guardedBroadcast(df: DataFrame, oversized: Boolean): DataFrame =
    if (oversized) df.hint("shuffle_hash") else broadcast(df)

  /** Replace every row matching `window` with `replacement`, keep the rest —
    * the reference's MERGE ON FALSE ("delete window, insert replacement").
    * Both branches stay scan-native: the NOT(window) filter pushes to the
    * source, so at scale this touches only the affected partitions.
    */
  def replaceWhere(df: DataFrame, window: Column, replacement: DataFrame): DataFrame =
    df.filter(!coalesce(window, lit(false))).unionByName(replacement)

  /** As-of join: for each left row, attach the right row with the greatest
    * `rightTime` ≤ `leftTime` within the same key (inclusive-match ASOF
    * semantics, ties on time break toward the right row — i.e. a right row
    * AT the left timestamp matches).
    *
    * Spark has no ASOF operator; the naive range-join is quadratic per key.
    * This is the scalable one-shuffle form: union both sides tagged, one
    * hash shuffle on the key, one per-key sort by (time, side), then a
    * running `last_value(..., ignoreNulls)` carries the latest right
    * payload forward into each left row. At 10⁹ rows the cost is exactly
    * one shuffle + sort of left+right — the same profile as a window
    * aggregate, with no join explosion.
    *
    * `rightCols` must be unique per (key, time) — pre-aggregate the right
    * side otherwise (the survivor among same-timestamp right rows is
    * undefined).
    */
  def asOfJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: Column, rightTime: Column,
      rightCols: Seq[String]): DataFrame = {
    val rSchema = right.select(rightCols.map(col): _*).schema
    val lTagged = left.select(
      col(leftKey).as("__key"), leftTime.as("__t"), lit(0).as("__side"),
      struct(left.columns.map(col): _*).as("__l"),
      lit(null).cast(rSchema).as("__r"))
    val rTagged = right.select(
      col(rightKey).as("__key"), rightTime.as("__t"), lit(1).as("__side"),
      lit(null).cast(left.schema).as("__l"),
      struct(rightCols.map(col): _*).as("__r"))
    // right rows sort BEFORE left rows at equal time → inclusive match
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__t").asc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL keys never match in SQL join semantics (and in the ASOF oracle),
    // but partitionBy would group them together — drop them up front
    lTagged.filter(col("__key").isNotNull)
      .unionByName(rTagged.filter(col("__key").isNotNull))
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0 && col("__match").isNotNull)
      .select(col("__l.*") +: rightCols.map(c => col(s"__match.$c").as(c)): _*)
  }

  /** Range self-join: pairs of rows within the same key whose times are at
    * most `radius` apart (`a_id < b_id` orders each pair once).
    *
    * The naive form is a per-key quadratic join with a |Δt| filter. This is
    * the banded form: bucket time by `radius`, explode the LEFT side into
    * its bucket and both neighbors, equi-join on (key, bucket), then apply
    * the exact |Δt| filter. A qualifying pair differs by ≤ 1 bucket, so it
    * matches in EXACTLY one (left-bucket, right-bucket) combination — no
    * dedup pass — and work is O(pairs within the radius density), never
    * O(n²) per key.
    */
  def rangeJoinPairs(df: DataFrame, key: String, idCol: String,
      time: Column, radius: Long): DataFrame = {
    val base = df.select(col(key).as("__k"), col(idCol).as("__id"), time.as("__t"))
    val bucket = expr(s"__t div $radius")
    val a = base.select(col("__k"), col("__id").as("a_id"), col("__t").as("ta"),
      explode(array(bucket - 1, bucket, bucket + 1)).as("__b"))
    val b = base.select(col("__k"), col("__id").as("b_id"), col("__t").as("tb"),
      bucket.as("__b"))
    a.join(b, Seq("__k", "__b"))
      .filter(col("a_id") < col("b_id") && abs(col("tb") - col("ta")) <= radius)
      .select(col("__k").as(key), col("a_id"), col("b_id"),
        (col("tb") - col("ta")).as("gap"))
  }

  // ---- exact-arithmetic aggregation helpers -------------------------------
  //
  // Floating-point SUM is order-dependent, so a distributed double-sum is not
  // reproducible run-to-run (nor comparable bit-for-bit against another
  // engine). Monetary/quantity columns here are fixed-point by nature; route
  // them through DECIMAL so partial aggregation is exact and the final cast
  // back to double is deterministic regardless of partitioning.

  /** Decimal image of a fixed-point-by-nature double column. 18 digits / 6
    * fractional keeps products within decimal-38 exactness on both Spark and
    * the DuckDB oracle.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Decimal → double through the decimal's exact string form. A direct
    * decimal→double cast is engine-specific (int128/10^s double division vs
    * BigDecimal.doubleValue) and can differ by an ulp; every engine parses a
    * plain decimal string correctly-rounded, so string-then-parse is
    * bit-identical everywhere. (DuckDB mirror:
    * `CAST(CAST(x AS VARCHAR) AS DOUBLE)`.)
    */
  def decToDouble(c: Column): Column = c.cast(StringType).cast(DoubleType)

  /** Order-insensitive exact sum of a fixed-point double column. */
  def exactSum(c: Column): Column = decToDouble(sum(dec(c)))

  /** Exact-sum-based average (sum exact, single final division). */
  def exactAvg(c: Column): Column = (decToDouble(sum(dec(c))) / count(c)).cast(DoubleType)

  /** Engine-portable 6-dp rounding: floor(x·10⁶ + 0.5)/10⁶ in plain double
    * ops. Spark's `round()` routes doubles through BigDecimal's *shortest
    * string* representation while other engines round the raw double — they
    * disagree one ulp from a half. This formula is the same IEEE op sequence
    * everywhere.
    */
  def round6(c: Column): Column =
    (floor(c * 1000000.0 + lit(0.5)).cast(DoubleType) / 1000000.0).cast(DoubleType)

  /** Exact `ntile(n)` over a TOTAL order without the single-task global
    * window (the ADVICE-r10 q_rfm_segments limitation, closed): an
    * unpartitioned `Window.orderBy` funnels the whole frame through one
    * task; this computes the identical tile assignment from a global
    * POSITION assembled scalably —
    *
    *  1. range-repartition on the order columns (range boundaries are the
    *     one sampled pass; equal keys stay in one partition, and the
    *     caller's tiebreak column makes the order total);
    *  2. per-partition `row_number` (a window PARTITIONED by
    *     `spark_partition_id()` — sorts each partition locally, never
    *     funnels);
    *  3. partition row counts (a #partitions-sized census off the same
    *     checkpointed frame) → running offsets, broadcast back;
    *  4. tile from SQL-standard NTILE arithmetic on `offset + local_rn`:
    *     the first `total mod n` tiles carry `ceil(total/n)` rows.
    *
    * Output = input columns + `out` (long in 1..n), byte-identical to
    * `ntile(n) over (order by ...)` — q_rfm_scalable replays
    * q_rfm_segments' oracle over this plan. Cost: one range exchange +
    * local sorts; nothing is ever single-task at any row count. */
  def exactNtile(df: DataFrame, n: Int, order: Seq[Column], out: String): DataFrame = {
    require(n >= 1, "ntile n must be positive")
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    // eager checkpoint: the census and the tile pass must see the SAME
    // physical partitioning (a recomputed range shuffle could resample
    // boundaries) — and it makes the recompute class a scan-count pin
    val ranged = df.repartitionByRange(p, order: _*)
      .withColumn("__pid", spark_partition_id()).localCheckpoint()
    val census = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
    // #partitions-sized frame: these windows sort 32 rows, not the corpus
    val byPid = Window.orderBy(col("__pid"))
    val offsets = census
      .withColumn("__off", coalesce(sum(col("__cnt"))
        .over(byPid.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__total", sum(col("__cnt"))
        .over(byPid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__pid"), col("__off"), col("__total"))
    val localRn = row_number().over(
      Window.partitionBy(col("__pid")).orderBy(order: _*))
    val pos = col("__off") + localRn.cast("long")
    // integer NTILE arithmetic (floor on positive doubles < 2^53 is exact)
    val q = floor(col("__total") / lit(n)).cast("long")
    val r = col("__total") - q * n
    val tile = when(pos <= (q + 1L) * r,
        floor((pos - 1L) / (q + 1L)).cast("long") + 1L)
      .otherwise(r +
        floor((pos - (q + 1L) * r - 1L) / greatest(q, lit(1L))).cast("long") + 1L)
    ranged.join(broadcast(offsets), "__pid")
      .withColumn(out, tile.cast("long"))
      .drop("__pid", "__off", "__total")
  }

  /** Exact discrete (type-1) quantiles per key via a VALUE HISTOGRAM —
    * the scale path Spark's `percentile` aggregate is not: `percentile`
    * buffers EVERY value per group in executor memory (a
    * TypedImperativeAggregate whose state is the group itself), while
    * this shape's only corpus-sized operation is a partial-aggregable
    * count over (key, value) — the shuffle carries one row per DISTINCT
    * value, and the cumulative-sum window runs on that already-aggregated
    * histogram, never the corpus. Integer-exact end to end: the p-th
    * quantile is the smallest value whose cumulative count reaches
    * ceil(p·n) (ranks via integer `div`, no float thresholds), so any
    * engine reproduces it byte-for-byte. Requires an integer-ordered
    * `valCol` (char counts, token counts, byte sizes — the curation
    * metrics this exists for). Output: (key, p25, p50, p75, n). */
  def histogramQuantiles(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val hist = df.groupBy(col(keyCol), col(valCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(byKey.orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(byKey))
    cum.groupBy(col(keyCol), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n + 3) div 4"), col("v"))).as("p25"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("p50"),
        min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("v"))).as("p75"))
      .select(col(keyCol), col("p25"), col("p50"), col("p75"), col("n"))
  }
}
