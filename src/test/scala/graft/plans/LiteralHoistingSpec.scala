package graft.plans

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark
import graft.hedera.{TestRows, TransactionsTable}

/** LiteralHoisting: a fresh key must reuse the compiled class, and the
  * rewritten plan must print and evaluate exactly as the literal plan. */
class LiteralHoistingSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private val Base = 1600000000L * 1000000000L
  private val HourNs = 3600L * 1000000000L
  /** Keys over four days, a few hours apart. */
  private val keys: Seq[Long] = (0 until 24).map(i => Base + i * 4 * HourNs + i * 7919L)

  private lazy val txDir: String = {
    val dir = GraftTestSpark.tmpDir("hoisting") + "/transactions"
    TestRows.writeDays(spark, new TransactionsTable(spark, dir), keys)
    dir
  }

  /** The point lookup an analyst writes against the table. */
  private def lookup(key: Long): DataFrame =
    new TransactionsTable(spark, txDir).read()
      .filter(col("consensusTimestamp") === key)
      .select(col("consensusTimestamp"), col("transactionType"), col("day"))

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def hoisted(p: SparkPlan): Seq[HoistedLiteral] =
    p.collect { case f: FilterExec => f.condition.collect { case h: HoistedLiteral => h } }.flatten

  test("after one warm-up, fresh-key point lookups compile nothing") {
    assert(lookup(keys.head).collect().map(_.getLong(0)).toSeq == Seq(keys.head))
    val before = compiles
    for (k <- keys.tail) assert(lookup(k).collect().map(_.getLong(0)).toSeq == Seq(k))
    assert(compiles - before == 0, s"${compiles - before} compiles for ${keys.tail.size} fresh keys")
  }

  test("the executed plan prints byte-identically with and without the rule") {
    val plan = lookup(keys(3)).queryExecution.executedPlan
    assert(hoisted(plan).nonEmpty, s"no hoisted literal in:\n$plan")
    val unhoisted = plan.transformAllExpressions { case h: HoistedLiteral => h.literal }
    assert(hoisted(unhoisted).isEmpty)
    assert(plan.toString == unhoisted.toString)
    assert(plan.treeString(verbose = true) == unhoisted.treeString(verbose = true))
  }

  test("rows are identical on the interpreted path (whole-stage codegen off)") {
    val probes = Seq(keys(5), keys(5) + 1, keys(17))
    def run(conf: Seq[(String, String)]) = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try probes.map(k => lookup(k).collect().toSeq.map(_.toString))
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val codegen = run(Nil)
    assert(codegen.map(_.size) == Seq(1, 0, 1))
    assert(run(Seq("spark.sql.codegen.wholeStage" -> "false")) == codegen)
    // and with expression codegen off too, so `eval` itself answers
    assert(run(Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")) == codegen)
    // time-typed operands: a date and a timestamp comparison
    val days = new TransactionsTable(spark, txDir).read()
      .filter(date_add(to_date(col("consensusTimestampTruncated")), 1) === lit("2020-09-15").cast("date") &&
        col("consensusTimestampTruncated") > lit("2020-09-14 06:00:00").cast("timestamp"))
      .select("consensusTimestamp")
    assert(hoisted(days.queryExecution.executedPlan).map(_.dataType).toSet ==
      Set(DateType, TimestampType))
    val want = keys.filter { k =>
      val us = k / 1000
      us / 86400000000L == 18519 && us > (18519L * 86400 + 6 * 3600) * 1000000L
    }
    assert(want.nonEmpty)
    assert(days.as[Long].collect().sorted.toSeq == want)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(days.as[Long].collect().sorted.toSeq == want)
    finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("null, string, decimal and binary literals and non-comparison literals stay") {
    val a = AttributeReference("a", LongType)()
    val s = AttributeReference("s", StringType)()
    val d = AttributeReference("d", DecimalType(10, 2))()
    val b = AttributeReference("b", BinaryType)()
    val untouched: Seq[Expression] = Seq(
      EqualTo(a, Literal(null, LongType)),
      EqualTo(s, Literal("x")),
      GreaterThan(d, Literal(Decimal(1.5), DecimalType(10, 2))),
      EqualTo(b, Literal(Array[Byte](1, 2))),
      In(a, Seq(Literal(1L), Literal(2L))),
      IsNotNull(Coalesce(Seq(a, Literal(3L)))))
    for (e <- untouched) assert(LiteralHoisting.hoist(e) fastEquals e, e.toString)
    // only a comparison's direct operand is hoisted, not one nested below it
    val nested = GreaterThan(Add(a, Literal(5L)), Literal(7L))
    assert(LiteralHoisting.hoist(nested) ==
      GreaterThan(Add(a, Literal(5L)), HoistedLiteral(Literal(7L))))
    val i = AttributeReference("i", IntegerType)()
    assert(LiteralHoisting.hoist(LessThanOrEqual(Literal(4), i)) ==
      LessThanOrEqual(HoistedLiteral(Literal(4)), i))
  }
}
