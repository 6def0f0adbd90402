package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftTestSpark, Tables}
import graft.hedera.{TestRows, TransactionsTable}

/** DerivedTimeFilterPushdown: the added raw-column conjuncts must be
  * IMPLIED by the derived predicate — any divergence silently drops or
  * leaks rows at the scan. The oracle here is driver-side Scala integer
  * math over collected rows (quot = Java truncation, same as Spark's
  * IntegralDivide), computed without any Spark filter, so the rule cannot
  * touch it. Negative values exercise the truncation-vs-floor corner the
  * inversion has to get right.
  *
  * Day pruning runs on a transactions table (whose timestamp column
  * declares its `day` image); its oracle is the written key list filtered
  * on the driver, and every case also checks which `day` bound reached
  * the scan's partition filters.
  */
class DerivedTimePushdownSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  // (event_id, ts-ns-long) collected once; expected sets via driver math.
  private lazy val rows: Seq[(Long, Long)] =
    Tables.load(spark, GraftTestSpark.sfDir, "events")
      .select(col("event_id"), col("ts")).as[(Long, Long)].collect().toSeq

  // window literals inside the corpus's January-2024 span (µs and sec)
  private val LoUs = 1704844800000000L
  private val HiUs = 1705449600000000L
  private val MidSec = 1705276800L

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("event_id").as[Long].collect().toSet

  private def evDf = Tables.load(spark, GraftTestSpark.sfDir, "events")

  test("µs window (div 1000 between) matches driver-side quot math") {
    val got = ids(evDf.filter(expr("ts div 1000").between(LoUs, HiUs)))
    val want = rows.collect { case (id, ts)
      if ts / 1000 >= LoUs && ts / 1000 <= HiUs => id }.toSet
    assert(got == want && want.nonEmpty)
  }

  test("every comparison op inverts exactly (µs and seconds chains)") {
    val cases: Seq[(String, Long => Boolean)] = Seq(
      (s"ts div 1000 > $LoUs", ts => ts / 1000 > LoUs),
      (s"ts div 1000 >= $LoUs", ts => ts / 1000 >= LoUs),
      (s"ts div 1000 < $HiUs", ts => ts / 1000 < HiUs),
      (s"ts div 1000 <= $HiUs", ts => ts / 1000 <= HiUs),
      (s"ts div 1000000000 = $MidSec", ts => ts / 1000000000L == MidSec),
      // literal-on-the-left mirrors
      (s"$LoUs <= ts div 1000", ts => LoUs <= ts / 1000),
      (s"$HiUs > ts div 1000", ts => HiUs > ts / 1000))
    for ((sql, pred) <- cases) {
      val got = ids(evDf.filter(expr(sql)))
      val want = rows.collect { case (id, ts) if pred(ts) => id }.toSet
      assert(got == want, s"mismatch for: $sql")
      assert(want.nonEmpty || sql.contains("="), s"degenerate case: $sql")
    }
  }

  test("negative long values: truncation (not floor) inversion is exact") {
    // quot(-9, 10) = 0, quot(-10, 10) = -1 — floor-based inversion would
    // disagree exactly here
    val data = (-25L to 25L).map(v => (v, v))
    val df = data.toDF("event_id", "v")
    for (b <- Seq(-3L, -2L, -1L, 0L, 1L, 2L)) {
      val cases: Seq[(String, Long => Boolean)] = Seq(
        (s"v div 10 >= $b", v => v / 10 >= b),
        (s"v div 10 > $b", v => v / 10 > b),
        (s"v div 10 <= $b", v => v / 10 <= b),
        (s"v div 10 < $b", v => v / 10 < b),
        (s"v div 10 = $b", v => v / 10 == b))
      for ((sql, pred) <- cases) {
        val got = ids(df.filter(expr(sql)))
        val want = data.collect { case (id, v) if pred(v) => id }.toSet
        assert(got == want, s"mismatch for: $sql (b=$b)")
      }
    }
  }

  test("negative timestamps through the unix_micros chain") {
    val df = Seq(-2500000L, -1500000L, -1L, 0L, 1L, 1500000L)
      .toDF("us").select(col("us").as("event_id"),
        timestamp_micros(col("us")).as("t"))
    // seconds image of a timestamp: unix_micros(t) div 1000000
    val got = ids(df.filter(expr("unix_micros(t) div 1000000 >= -1")))
    val want = Seq(-2500000L, -1500000L, -1L, 0L, 1L, 1500000L)
      .filter(us => us / 1000000L >= -1L).toSet
    assert(got == want)
  }

  test("unsatisfiable and out-of-range literals degrade, never corrupt") {
    // µs value can never reach Long.MaxValue/1000 · 1000 — empty, no error
    assert(ids(evDf.filter(expr(s"ts div 1000 >= ${Long.MaxValue}"))).isEmpty)
    // bound inversion past the Long range must drop the bound, not wrap
    val all = ids(evDf.filter(expr(s"ts div 1000 >= ${Long.MinValue}")))
    assert(all == rows.map(_._1).toSet)
    // equality on a non-multiple with a multiply chain: empty by algebra
    assert(ids(evDf.filter(expr("ts = 1704844800000000500"))).isEmpty)
  }

  test("the raw-column window predicate reaches the parquet scan") {
    val plan = evDf.filter(expr("ts div 1000").between(LoUs, HiUs))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(ts,") && plan.contains("LessThanOrEqual(ts,"),
      s"window bounds not pushed:\n$plan")
  }

  test("rule is convergent: a second manual application is a no-op") {
    val optimized = evDf.filter(expr("ts div 1000").between(LoUs, HiUs))
      .queryExecution.optimizedPlan
    val again = DerivedTimeFilterPushdown(optimized)
    assert(again.fastEquals(optimized), "rule re-fired on an already-rewritten plan")
  }

  // ---- day pruning on a table that declares `day` as its UTC image ----

  private val NsPerDay = 86400L * 1000000000L
  /** 2020-09-13T00:00:00Z in ns. */
  private val Midnight = 1599955200L * 1000000000L

  /** Keys at day edges (±1 ns around a midnight), around the epoch (ns in
    * (-1000, 0) truncates to µs 0, day 1970-01-01; -1001 is µs -1, day
    * 1969-12-31) and a few days away. */
  private val keys: Seq[Long] = Seq(Midnight - 1, Midnight, Midnight + 1,
    Midnight - NsPerDay / 2, Midnight + NsPerDay / 2, Midnight + 3 * NsPerDay,
    -1001L, -1000L, -999L, -500L, -1L, 0L, 999L, 1000L)

  /** The table: `keys`, plus two rows whose key (and so timestamp and day)
    * is null. */
  private lazy val txDir: String = {
    val dir = GraftTestSpark.tmpDir("daypruning") + "/transactions"
    val table = new TransactionsTable(spark, dir)
    TestRows.writeDays(spark, table, keys)
    table.append(TestRows.fullSchemaRows(spark, Seq(0L, 1L))
      .withColumn("consensusTimestamp", lit(null).cast(LongType))
      .withColumn("consensusTimestampTruncated", lit(null).cast("timestamp"))
      .withColumn("day", lit(null).cast(DateType)))
    dir
  }
  private def txns: DataFrame = new TransactionsTable(spark, txDir).read()

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail(s"no file scan in:\n${df.queryExecution.executedPlan}"))

  private def dayBounds(df: DataFrame): (Option[String], Option[String]) = {
    val pf = scanOf(df).partitionFilters
    def bound(pick: PartialFunction[Expression, Literal]) =
      pf.collectFirst(pick).map(_.toString)
    (bound { case GreaterThanOrEqual(a, l: Literal) if a.references.exists(_.name == "day") => l },
      bound { case LessThanOrEqual(a, l: Literal) if a.references.exists(_.name == "day") => l })
  }

  /** Runs `c` on the table: the keys it returns must equal the driver-side
    * filter of the written keys, and the scan's day bound must be `days`. */
  private def check(c: Column, truth: Long => Boolean, days: (Option[String], Option[String])): Unit = {
    val df = txns.filter(c)
    val got = df.select("consensusTimestamp").as[Long].collect().sorted.toSeq
    assert(got == keys.filter(truth).sorted, s"rows of $c")
    assert(dayBounds(df) == days, s"day bound of $c")
  }

  private def one(d: String) = (Some(d), Some(d))

  test("day pruning: keys at the last ns of a day and the first ns of the next") {
    val ct = col("consensusTimestamp")
    check(ct === Midnight - 1, _ == Midnight - 1, one("2020-09-12"))
    check(ct === Midnight, _ == Midnight, one("2020-09-13"))
    check(ct.between(Midnight - 1, Midnight), k => k >= Midnight - 1 && k <= Midnight,
      (Some("2020-09-12"), Some("2020-09-13")))
    check(ct < Midnight && ct > 0, k => k < Midnight && k > 0,
      (Some("1970-01-01"), Some("2020-09-12")))
    check(ct >= Midnight, _ >= Midnight, (Some("2020-09-13"), None))
    // a derived µs chain over the ns key prunes through its raw bounds
    check(expr(s"consensusTimestamp div 1000 = ${(Midnight - 1) / 1000}"),
      _ / 1000 == (Midnight - 1) / 1000, one("2020-09-12"))
  }

  test("day pruning: negative ns in (-1000, 0) truncate to µs 0 and stay in 1970-01-01") {
    val ct = col("consensusTimestamp")
    check(ct === -500L, _ == -500L, one("1970-01-01"))
    check(ct === -999L, _ == -999L, one("1970-01-01"))
    check(ct === -1001L, _ == -1001L, one("1969-12-31"))
    check(ct.between(-999L, -1L), k => k >= -999L && k <= -1L, one("1970-01-01"))
    check(ct.between(-1001L, -1000L), k => k >= -1001L && k <= -1000L, one("1969-12-31"))
    check(ct <= -1L, _ <= -1L, (None, Some("1970-01-01")))
  }

  test("day pruning: null keys match no bound and stay visible to null predicates") {
    val ct = col("consensusTimestamp")
    check(ct === 0L, _ == 0L, one("1970-01-01"))
    check(ct > Midnight + NsPerDay, _ > Midnight + NsPerDay, (Some("2020-09-14"), None))
    val nulls = txns.filter(ct.isNull)
    assert(nulls.count() == 2)
    assert(dayBounds(nulls) == ((None, None)))
    assert(txns.filter(ct.isNull || ct === Midnight).count() == 3)
  }

  test("day pruning: PartitionFilters carries the day bound for =, BETWEEN on " +
    "unix_micros(consensusTimestampTruncated) and direct timestamp comparisons") {
    val key = Midnight + NsPerDay / 2
    val eq = txns.filter(col("consensusTimestamp") === key)
    val plan = eq.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*day#\\d+ >= 2020-09-13".r.findFirstIn(plan).isDefined, plan)
    assert(eq.collect().length == 1)
    val dayFiles = new java.io.File(s"$txDir/day=2020-09-13").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(scanOf(eq).metrics("numFiles").value == dayFiles, "only that day's files")

    val lo = Midnight / 1000 - 1
    val us = unix_micros(col("consensusTimestampTruncated"))
    check(us.between(lo, lo + 1), k => k / 1000 >= lo && k / 1000 <= lo + 1,
      (Some("2020-09-12"), Some("2020-09-13")))

    val t = col("consensusTimestampTruncated")
    check(t >= lit("2020-09-13 12:00:00").cast("timestamp") &&
      t < lit("2020-09-16 00:00:00").cast("timestamp"),
      k => k >= key && k < Midnight + 3 * NsPerDay, (Some("2020-09-13"), Some("2020-09-15")))
    check(t === lit("1970-01-01 00:00:00").cast("timestamp"),
      k => k / 1000 == 0, one("1970-01-01"))
  }

  test("day pruning: a relation without the declaration gets no day conjunct") {
    // same column names and layout, but the schema carries no metadata
    val dir = GraftTestSpark.tmpDir("undeclared") + "/t"
    spark.read.parquet(txDir).write.partitionBy("day").parquet(dir)
    val plain = spark.read.parquet(dir)
    assert(plain.schema.forall(_.metadata.json == "{}"))
    val df = plain.filter(col("consensusTimestamp") === Midnight)
    assert(scanOf(df).partitionFilters.isEmpty, df.queryExecution.executedPlan.toString)
    assert(df.count() == 1)
  }

  test("day pruning: a filter above a projection that redefines `day` gets no day conjunct") {
    // rand() keeps the filter above the projection, where `day` is no
    // longer the timestamp's image
    val redefined = txns.withColumn("day", lit(java.sql.Date.valueOf("2000-01-01")))
      .withColumn("r", rand())
      .filter(col("consensusTimestamp") === Midnight)
    assert(redefined.count() == 1, redefined.queryExecution.optimizedPlan.toString)
  }
}
