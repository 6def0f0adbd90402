package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

/** The sketch's textbook contracts, pinned independently of the oracle:
  * one-sided error (estimate ≥ truth, always), exactness when the grid is
  * collision-free, zero for never-seen items, and bit-invariance under
  * input order/partitioning (integer counters have no merge schedule). */
class CountMinSketchSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private val stream: Seq[String] =
    Seq.fill(40)("alpha") ++ Seq.fill(11)("beta") ++ Seq.fill(3)("gamma") ++
      (1 to 60).map(i => s"tail$i") // 60 singletons to force collisions at width 16

  private def estimates(width: Int, items: Seq[String] = stream): Map[String, Long] = {
    val sk = CountMinSketch.sketch(items.toDF("t"), "t", width = width)
    CountMinSketch.estimate(items.distinct.toDF("t"), "t", sk, width = width)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private val truth: Map[String, Long] =
    stream.groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("estimates never undercount (one-sided error), at any width") {
    Seq(16, 64, 1024).foreach { w =>
      val est = estimates(w)
      truth.foreach { case (t, c) =>
        assert(est(t) >= c, s"width $w undercounts $t: ${est(t)} < $c")
      }
    }
  }

  test("a collision-free grid is exact; a cramped one actually collides") {
    assert(estimates(4096) === truth) // 63 items into 4×4096 cells: exact
    // 63 distinct items into 16 buckets per row MUST inflate something —
    // otherwise the test stream stopped exercising the collision path
    assert(estimates(16).exists { case (t, e) => e > truth(t) })
  }

  test("never-seen items estimate zero through the empty-cell left join") {
    val sk = CountMinSketch.sketch(Seq("x").toDF("t"), "t")
    val est = CountMinSketch.estimate(Seq("definitely-absent").toDF("t"), "t", sk)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("definitely-absent") === 0L)
  }

  test("the sketch is valid streaming state: streamed build equals batch build") {
    // sketch() is a plain grouped integer aggregate, so it runs UNCHANGED
    // as a Structured Streaming aggregation — the production shape for
    // frequency monitoring on an ingest stream (bounded state, no
    // watermark needed: the grid never grows).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val q = CountMinSketch.sketch(ms.toDF().withColumnRenamed("value", "t"), "t", width = 64)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow())
    val (h1, h2) = stream.splitAt(stream.size / 2)
    ms.addData(h1: _*)
    q.start().awaitTermination()
    ms.addData(h2: _*)
    val run2 = CountMinSketch.sketch(ms.toDF().withColumnRenamed("value", "t"), "t", width = 64)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    run2.awaitTermination()
    val streamed = spark.table("cms_stream")
      .collect().map(r => (r.get(0), r.get(1)) -> r.getLong(2)).toMap
    val batch = CountMinSketch.sketch(stream.toDF("t"), "t", width = 64)
      .collect().map(r => (r.get(0), r.get(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("persisted lifecycle: incremental appends merge to the one-shot sketch") {
    val dir = GraftTestSpark.tmpDir("cms-store")
    val (h1, h2) = stream.splitAt(stream.size / 3)
    CountMinSketch.append(h1.toDF("t"), "t", dir, width = 64)
    CountMinSketch.append(h2.toDF("t"), "t", dir, width = 64)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1)) -> r.getLong(2)).toMap
    val oneShot = cells(CountMinSketch.sketch(stream.toDF("t"), "t", width = 64))
    assert(cells(CountMinSketch.readSketch(spark, dir)) === oneShot)
    // estimates through the standing sketch equal the transient path
    val est = CountMinSketch.estimate(stream.distinct.toDF("t"), "t",
        CountMinSketch.readSketch(spark, dir), width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === estimates(64))
    // force compaction (three files > maxFiles 1) and re-check the folded state
    CountMinSketch.append(Seq.empty[String].toDF("t"), "t", dir,
      width = 64, maxFiles = 1)
    val (f, cellsDir) = graft.util.Fs(spark, s"$dir/cells")
    assert(graft.util.SwapDir.fileCount(f, cellsDir) === 1)
    assert(cells(CountMinSketch.readSketch(spark, dir)) === oneShot)
  }

  test("input order and partitioning never change a counter") {
    val base = estimates(64)
    assert(estimates(64, scala.util.Random.shuffle(stream)) === base)
    val sk = CountMinSketch.sketch(stream.toDF("t").repartition(13), "t", width = 64)
    val re = CountMinSketch.estimate(stream.distinct.toDF("t").repartition(3), "t", sk,
        width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(re === base)
  }
}
