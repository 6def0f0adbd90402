package graft.hedera

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

/** The dedupe job-state store is one small text file read and written on
  * the driver: no Spark job per get or set, every legal value round-trips,
  * illegal keys and values are refused, and a state table in the old
  * parquet-directory format fails loudly instead of reading as empty. */
class StateStoreSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def store() = new StateStore(spark, GraftTestSpark.tmpDir("state-store") + "/state")

  /** Spark jobs started by `body`. Listener events arrive asynchronously,
    * so the count runs between two marker jobs: events are delivered in
    * order, and once the closing marker is seen every job `body` started
    * has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def drainTo(name: String): Int = {
      var n = 0
      var desc = ""
      while (desc != name) {
        desc = starts.poll(60, TimeUnit.SECONDS)
        assert(desc != null, s"marker job $name never reached the listener")
        if (desc != name) n += 1
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      marker("state-store-open"); drainTo("state-store-open")
      body
      marker("state-store-close"); drainTo("state-store-close")
    } finally sc.removeSparkListener(listener)
  }

  test("set and get launch no Spark job") {
    val s = store()
    s.set("a", "1") // the first set writes a new file; measure a replace too
    assert(jobsDuring(s.set("b", "2")) === 0)
    assert(jobsDuring(s.set("a", "3")) === 0)
    assert(jobsDuring(assert(s.get("a") === Some("3"))) === 0)
    assert(jobsDuring(assert(s.readAll() === Map("a" -> "3", "b" -> "2"))) === 0)
  }

  test("several keys round-trip, including spaces, '=' and non-ASCII values") {
    val s = store()
    val kv = Map(
      "incremental-dedupe-state" -> "1600000000123456",
      "full dedupe" -> "a b  c ",
      "eq" -> "x=y==z",
      "unicode" -> "Zürich ✓ 東京",
      "empty" -> "")
    kv.foreach { case (k, v) => s.set(k, v) }
    s.set("eq", "k=v")
    val want = kv + ("eq" -> "k=v")
    assert(s.readAll() === want)
    // a fresh instance over the same path reads the same state
    val path = GraftTestSpark.tmpDir("state-store-reopen") + "/state"
    want.foreach { case (k, v) => new StateStore(spark, path).set(k, v) }
    assert(new StateStore(spark, path).readAll() === want)
    assert(new StateStore(spark, path).get("missing") === None)
  }

  test("an empty name, a null value and a tab or newline are refused") {
    val s = store()
    s.set("k", "v")
    val bad = Seq("" -> "v", "k" -> null, "a\tb" -> "v", "a\nb" -> "v",
      "k" -> "x\ty", "k" -> "x\ny")
    bad.foreach { case (k, v) =>
      intercept[IllegalArgumentException](s.set(k, v))
    }
    assert(s.readAll() === Map("k" -> "v"), "a refused set changes nothing")
  }

  test("a parquet state directory from an older version fails loudly") {
    val path = GraftTestSpark.tmpDir("state-store-old") + "/state"
    Seq(("incremental-dedupe-state", "1600000000123456")).toDF("name", "value")
      .write.parquet(path)
    val s = new StateStore(spark, path)
    val e = intercept[IllegalArgumentException](s.get("incremental-dedupe-state"))
    assert(e.getMessage.contains("parquet state table"), e.getMessage)
    intercept[IllegalArgumentException](s.set("k", "v"))
  }
}
