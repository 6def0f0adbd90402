package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial-skew corpus for the ingest/dedupe pipeline — the reference's
  * duplicate model (testhelper/TransactionsGenerator.java:55-91, every 5th
  * row duplicated) scaled to abuse:
  *
  *  - **hot key**: ONE consensusTimestamp replicated `hotCopies` (default
  *    10⁴) times — the pathological duplicate group a repair's per-key
  *    `row_number` window must absorb in a single task;
  *  - **hot day**: half of all rows remapped onto a single day — the worst
  *    case for the (day, salt) ingest layout shuffle and for the windowed
  *    repair's day-partition rewrite;
  *  - the uniform every-5th-row duplicate baseline is kept, so the corpus
  *    is the uniform corpus plus planted pathologies.
  *
  * `bench` measures ingest + incremental dedupe over this corpus with the
  * SAME machinery as the uniform run (PipelineBench.measure), so the
  * skew-vs-uniform ratios in the bench JSON compare like with like.
  */
object GenSkew {

  private val dayNs = 86400L * 1000000000L

  /** Write the skewed JSONL corpus; returns total lines. */
  def skewedJsonCorpus(spark: SparkSession, sfDir: String, outDir: String,
      hotCopies: Int = 10000): Long = {
    val ev = Tables.load(spark, sfDir, "events")
    val Array(tsLo, tsHi) = ev.agg(min(col("ts")), max(col("ts")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray

    // Hot day: even event_ids have their ts compressed onto the corpus's
    // first day (span-preserving integer division keeps keys *mostly*
    // distinct; the rare collision is just one more genuine duplicate for
    // the dedupe job to find — exactly what a hostile feed looks like).
    val hotDayStart = tsLo - (tsLo % dayNs)
    val spanDays = (tsHi - tsLo) / dayNs + 1
    val remapped = ev.withColumn("ts",
      when(col("event_id") % 2 === 0,
        lit(hotDayStart) + expr(s"(ts - ${tsLo}L) div ${spanDays}L"))
        .otherwise(col("ts")))

    // Hot key: the max surviving original ts (odd side — unique by
    // construction in the generator) carries hotCopies replicas.
    val hotTs = remapped.filter(col("event_id") % 2 =!= 0)
      .agg(max(col("ts"))).head().getLong(0)

    val lines = remapped
      .select(to_json(PipelineBench.hederaPayload).as("value"),
        col("event_id"), col("ts"))
      .withColumn("copies",
        when(col("ts") === hotTs, hotCopies)
          .when(col("event_id") % 5 === 0, 2).otherwise(1))
      .select(explode(array_repeat(col("value"), col("copies"))).as("value"))
    val n = lines.count()
    lines.write.mode("overwrite").text(outDir)
    n
  }

  /** Ingest + incremental dedupe rates over the skewed corpus (same
    * measurement path as the uniform PipelineBench.run). */
  def bench(spark: SparkSession, sfDir: String,
      listener: TaskMetricsListener): PipelineBench.Rates =
    BenchUtil.withTempDir("graft-skewbench") { base =>
      skewedJsonCorpus(spark, sfDir, s"$base/in")
      PipelineBench.measure(spark, base, s"$base/in", listener)
    }

  /** Hot-JOIN-key corpus: ONE customer owns half of all orders — the
    * adversarial shape for the customer⋈orders join and the per-customer
    * ranking window (one window partition holds 50 % of the rows). Writes a
    * Registry-compatible tables dir: `orders.parquet` rewritten with the
    * remapped key, every other table symlinked to the uniform corpus.
    * Returns the hot custkey. */
  def skewedJoinDir(spark: SparkSession, sfDir: String, outDir: String): Long = {
    import java.nio.file.{Files => JFiles, Paths}
    JFiles.createDirectories(Paths.get(outDir))
    val orders = Tables.load(spark, sfDir, "orders")
    val hot = orders.agg(min(col("o_custkey"))).head().getLong(0)
    orders.withColumn("o_custkey",
        when(col("o_orderkey") % 2 === 0, lit(hot)).otherwise(col("o_custkey")))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    Tables.names.filterNot(_ == "orders").foreach { t =>
      val link = Paths.get(outDir, s"$t.parquet")
      if (!JFiles.exists(link))
        JFiles.createSymbolicLink(link, Paths.get(sfDir, s"$t.parquet")): Unit
    }
    hot
  }

  final case class JoinSkew(q3Uniform: Double, q3Skew: Double,
      wrankUniform: Double, wrankSkew: Double)

  /** Skew-vs-uniform wall medians for the two skew-sensitive headline
    * shapes — the broadcast-dim join chain (`q3_shipping`) and the
    * per-customer ranking window (`q_window_rank`) — identical harness on
    * both corpora (one warm + median of 3). AQE's skew handling and the
    * dims staying broadcast must hold the ratio near 1 even though one
    * customer owns half the orders. */
  def benchJoinSkew(spark: SparkSession, sfDir: String): JoinSkew =
    BenchUtil.withTempDir("graft-joinskew") { base =>
      skewedJoinDir(spark, sfDir, base)
      def timed(name: String, dir: String): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          graft.queries.Registry.byName(name).build(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warm: listing + codegen
        BenchUtil.median(Seq.fill(3)(once()))
      }
      JoinSkew(
        q3Uniform = timed("q3_shipping", sfDir),
        q3Skew = timed("q3_shipping", base),
        wrankUniform = timed("q_window_rank", sfDir),
        wrankSkew = timed("q_window_rank", base))
    }
}
