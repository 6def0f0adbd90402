package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark
import graft.hedera._

/** Structured Streaming paths: exactly-once file-source ingest through the
  * shared foreachBatch body (S1/K1 parity), streaming dedup via watermark +
  * dropDuplicates (the idAttribute analog), and event-time windowed
  * aggregation with late-data tolerance.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("streaming ingest lands golden rows exactly once, errors dead-letter") {
    val dir = GraftTestSpark.tmpDir("stream-ingest")
    val in = s"$dir/in"
    new java.io.File(in).mkdirs()
    val fixture = getClass.getResource("/golden/transactions.jsonl").getPath
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixture),
      java.nio.file.Paths.get(s"$in/batch1.jsonl"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch2.jsonl"),
      "{\"consensusTimestamp\": broken\n")

    val table = new TransactionsTable(spark, s"$dir/transactions")
    val errors = new ErrorsTable(spark, s"$dir/errors")
    val pipe = new IngestPipeline(spark, table, errors)
    val q = pipe.startStream(in, s"$dir/ckpt", Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(table.read().count() === 6)
    assert(errors.read().count() === 1)

    // restart with no new data: checkpoint prevents re-ingest (exactly-once)
    val q2 = pipe.startStream(in, s"$dir/ckpt", Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assert(table.read().count() === 6)
  }

  test("bounded intake drains a backlog as multiple batches, exactly once") {
    val dir = GraftTestSpark.tmpDir("stream-bounded")
    val in = s"$dir/in"
    new java.io.File(in).mkdirs()
    // a 10-file backlog already waiting when the stream starts — the
    // post-outage shape. Unbounded, this would land as ONE batch.
    val ts0 = 1600000000L * 1000000000L
    (0 until 10).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"$in/f$i%02d.jsonl"),
        s"""{"consensusTimestamp":${ts0 + i * 1000000L},"transactionType":14}\n""")
    }
    val table = new TransactionsTable(spark, s"$dir/transactions")
    val pipe = new IngestPipeline(spark, table, new ErrorsTable(spark, s"$dir/errors"))
    val q = pipe.startStream(in, s"$dir/ckpt", Trigger.AvailableNow(),
      maxFilesPerTrigger = Some(3))
    q.awaitTermination(120000)
    assert(table.read().count() === 10, "every backlogged row lands exactly once")
    // 10 files at ≤3 per trigger must have drained as ≥4 bounded batches,
    // not one giant one
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 4, s"expected a bounded multi-batch drain, saw $batches batches")
  }

  test("the batch-id ledger keeps only the newest mark after a multi-batch drain") {
    val dir = GraftTestSpark.tmpDir("stream-ledger-prune")
    val in = s"$dir/in"
    new java.io.File(in).mkdirs()
    val ts0 = 1600000000L * 1000000000L
    (0 until 3).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"$in/f$i%02d.jsonl"),
        s"""{"consensusTimestamp":${ts0 + i * 1000000L},"transactionType":14}\n""")
    }
    val table = new TransactionsTable(spark, s"$dir/transactions")
    val pipe = new IngestPipeline(spark, table, new ErrorsTable(spark, s"$dir/errors"))
    val q = pipe.startStream(in, s"$dir/ckpt", Trigger.AvailableNow(),
      maxFilesPerTrigger = Some(1))
    q.awaitTermination(120000)
    assert(table.read().count() === 3)
    val withData = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
    assert(withData.length === 3)
    // batches arrive in order, so every mark below the newest is dead
    val marks = new java.io.File(s"$dir/ckpt/graft-batch-ledger").listFiles()
      .map(_.getName).filter(_.startsWith("batch-")).toSeq
    assert(marks === Seq(f"batch-${withData.max}%020d"))
  }

  test("batch-id ledger makes a replayed micro-batch a no-op") {
    val dir = GraftTestSpark.tmpDir("stream-ledger")
    val table = new TransactionsTable(spark, s"$dir/transactions")
    val errors = new ErrorsTable(spark, s"$dir/errors")
    val pipe = new IngestPipeline(spark, table, errors)
    val ts = 1600000000L * 1000000000L
    val batch = Seq(s"""{"consensusTimestamp":$ts,"transactionType":14}""").toDF("value")
    val (ok1, _) = pipe.writeBatchOnce(batch, batchId = 7, s"$dir/ledger")
    assert(ok1 === 1)
    assert(table.read().count() === 1)
    // foreachBatch replay after a crash: same batch id arrives again
    val (ok2, _) = pipe.writeBatchOnce(batch, batchId = 7, s"$dir/ledger")
    assert(ok2 === 0)
    assert(table.read().count() === 1, "replayed batch must not re-append")
    // a NEW batch id still lands
    val (ok3, _) = pipe.writeBatchOnce(batch, batchId = 8, s"$dir/ledger")
    assert(ok3 === 1)
    assert(table.read().count() === 2)
  }

  test("watermark + dropDuplicates dedups the stream (idAttribute analog)") {
    val dir = GraftTestSpark.tmpDir("stream-dedup")
    val in = s"$dir/in"
    new java.io.File(in).mkdirs()
    // two files, one duplicated id across them
    Seq((1L, "2024-01-01 00:00:01"), (2L, "2024-01-01 00:00:02"))
      .toDF("id", "ts").write.mode("overwrite").parquet(s"$in/f1.parquet")
    Seq((2L, "2024-01-01 00:00:02"), (3L, "2024-01-01 00:00:03"))
      .toDF("id", "ts").write.mode("overwrite").parquet(s"$in/f2.parquet")

    val schema = "id LONG, ts STRING"
    val stream = spark.readStream.schema(schema).parquet(s"$in/*")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("id")
    val q = stream.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val ids = spark.table("dedup_out").select("id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("event-time tumbling window aggregation over a file stream") {
    val dir = GraftTestSpark.tmpDir("stream-window")
    val in = s"$dir/in"
    new java.io.File(in).mkdirs()
    (0 until 120).map(i => (i.toLong, f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d", 1.0))
      .toDF("id", "ts", "v").write.mode("overwrite").parquet(s"$in/f1.parquet")

    val stream = spark.readStream.schema("id LONG, ts STRING, v DOUBLE").parquet(s"$in/*")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val q = stream.writeStream.format("memory").queryName("window_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("window_out")
      .select(col("n"), col("sv")).as[(Long, Double)].collect()
    assert(rows.length === 2)
    assert(rows.forall { case (n, sv) => n === 60L && sv === 60.0 })
  }
}
