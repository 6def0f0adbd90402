package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark
import graft.operators.RelationalOps

/** The shared bounded-broadcast guard and tombstone set, driven past a
  * small explicit cap: no index spec reaches the oversized branch, whose
  * real cap is two million ids. */
class TombstonesSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private def plan(df: DataFrame) = df.queryExecution.executedPlan.toString

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted

  test("exceedsCap probes against the cap, including past limit()'s Int range") {
    val df = spark.range(10).toDF("id")
    assert(!RelationalOps.exceedsCap(df, 10L))
    assert(RelationalOps.exceedsCap(df, 9L))
    assert(!RelationalOps.exceedsCap(df, Int.MaxValue.toLong)) // full-count branch
  }

  test("past the cap the anti-join shuffles, returns the broadcast rows, and append says compact") {
    val spark = this.spark
    import spark.implicits._
    val dir = GraftTestSpark.tmpDir("tombstones")
    val docs = spark.range(0, 50).select(col("id").as("doc_id"), (col("id") * 2).as("v"))
    // two views of ONE tomb/ set: the default-sized cap and a cap of 3
    val roomy = new Tombstones(spark, dir, "doc_id", 100L)
    val tight = new Tombstones(spark, dir, "doc_id", 3L)
    assert(roomy.minus(docs) eq docs, "an index that never saw a delete reads unchanged")
    assert(!roomy.pending)

    assert(!tight.append(Seq(1L, 2L, 3L).toDF("x"), "x"), "3 ids sit at the cap, not past it")
    assert(tight.pending)
    assert(tight.append(Seq(3L, 7L, 11L).toDF("x"), "x"), "past the cap: compact now")

    val shuffled = tight.minus(docs)
    val broadcast = roomy.minus(docs)
    assert(!plan(shuffled).contains("BroadcastExchange"), plan(shuffled))
    assert(plan(broadcast).contains("BroadcastExchange"), plan(broadcast))
    val expected = (0L until 50L).filterNot(Set(1L, 2L, 3L, 7L, 11L))
    assert(ids(shuffled) === expected)
    assert(ids(broadcast) === expected)

    tight.clear()
    assert(!roomy.pending)
    assert(roomy.minus(docs) eq docs)
  }
}
