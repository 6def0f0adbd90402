package graft.hedera

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark
import graft.metrics.{Metrics, MetricsRegistry}

/** Dead letters out of the write pass's own parse: a dirty batch on the
  * single-shuffle route lands its rejected rows as one file with no second
  * parse, a clean batch writes no dead-letter file, a batch past the
  * capture bound (rows or bytes) falls back to the re-parse with every
  * dead letter still landing, and one malformed BYTES leaf nulls out
  * instead of killing the batch. */
class DeadLetterCaptureSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private final class Run(lines: Seq[String], preDedupe: Boolean = false) {
    val base: String = GraftTestSpark.tmpDir("deadletter")
    val reg = new MetricsRegistry
    val table = new TransactionsTable(spark, s"$base/t")
    val errors = new ErrorsTable(spark, s"$base/e")
    private val pipe = new IngestPipeline(spark, table, errors, preDedupe, reg)

    /** Ingest `lines` as the next batch → (ok, nBad). */
    def ingest(batch: Seq[String] = lines, name: String = "in"): (Long, Long) = {
      import spark.implicits._
      batch.toDF("value").repartition(3).write.text(s"$base/$name")
      pipe.ingestBatch(s"$base/$name")
    }
    def errorFiles: Int = Option(new java.io.File(s"$base/e").listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    def reparses: Long = reg.get(Metrics.DeadLetterReparses)
  }

  private def good(i: Int) = s"""{"consensusTimestamp":${86400000000000L + i},"transactionType":14}"""
  private def bad(i: Int) = s"not json $i"

  private val mixed = Seq(good(1), good(2), bad(1),
    """{"transactionType":14}""",
    """{"consensusTimestamp":"nan"}""",
    """{"consensusTimestamp":3,"transaction":"not-a-struct"}""")

  test("a dirty batch lands its dead letters from the write pass, identical to errorRows") {
    val run = new Run(mixed)
    val (ok, nBad) = run.ingest()
    assert((ok, nBad) === (2L, 4L))
    assert(run.reparses === 0, "captured on the write pass, no second parse")
    import spark.implicits._
    val want = TransactionTransform.errorRows(TransactionTransform.parseRaw(mixed.toDF("value")))
      .as[(String, String)].collect().toSet
    assert(run.errors.read().as[(String, String)].collect().toSet === want)
  }

  test("one dead-letter file per dirty batch, none per clean batch") {
    val run = new Run(mixed)
    run.ingest(Seq(good(1), good(2), good(3)), "clean")
    assert(run.errorFiles === 0)
    run.ingest(mixed, "dirty")
    assert(run.errorFiles === 1)
    run.ingest(Seq(good(4)), "clean2")
    assert(run.errorFiles === 1)
  }

  test("exactly the row bound is captured; one more re-parses; both exact") {
    val cap = IngestPipeline.MaxCapturedDeadLetters
    Seq(cap -> 0L, cap + 1 -> 1L).foreach { case (nRejected, reparses) =>
      val run = new Run((1 to 5).map(good) ++ (1 to nRejected).map(bad))
      val (ok, nBad) = run.ingest()
      assert((ok, nBad) === (5L, nRejected.toLong))
      assert(run.reparses === reparses, s"$nRejected rejected lines")
      val landed = run.errors.read()
      assert(landed.count() === nRejected)
      assert(landed.select(countDistinct(col("tableRow"))).head().getLong(0) === nRejected)
    }
  }

  test("rejected rows past the byte bound re-parse, every dead letter landing") {
    val big = IngestPipeline.MaxCapturedDeadLetterBytes / 3 + 1
    val run = new Run(Seq(good(1)) ++ (1 to 3).map(i => bad(i) + "x" * big.toInt))
    val (ok, nBad) = run.ingest()
    assert((ok, nBad) === (1L, 3L))
    assert(run.reparses === 1)
    assert(run.errors.read().count() === 3)
  }

  test("the preDedupe route re-parses: its parse runs below the dedupe exchange") {
    val run = new Run(mixed, preDedupe = true)
    assert(run.ingest() === (2L, 4L))
    assert(run.reparses === 1)
    assert(run.errors.read().count() === 4)
  }

  test("invalid base64 in a BYTES leaf nulls that leaf, never kills the batch") {
    val run = new Run(Seq(
      """{"consensusTimestamp":8,"transactionRecord":{"transactionHash":"!!notbase64"}}""",
      """{"consensusTimestamp":9,"transactionRecord":{"transactionHash":"AAEC"}}"""))
    assert(run.ingest() === (2L, 0L))
    val hashes = run.table.read()
      .select(col("consensusTimestamp"), col("transactionRecord.transactionHash"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]](1)).map(_.toSeq)).toMap
    assert(hashes === Map(8L -> None, 9L -> Some(Seq[Byte](0, 1, 2))))
  }
}
