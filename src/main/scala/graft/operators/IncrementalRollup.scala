package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.util.{FileLease, Fs, SwapDir}

/** Incrementally-maintained ADDITIVE aggregate view — materialized-view
  * maintenance for the commutative-monoid case (counts and exact decimal
  * sums), the engine face of the reference's scheduled "re-aggregate the
  * fact table into a rollup" BigQuery jobs (the dedupe/rollup schedules of
  * `AbstractDeduplication.java`): instead of rescanning the fact table per
  * schedule, each arriving batch folds its PARTIAL aggregate into a
  * persisted view keyed by the group columns.
  *
  * Correctness discipline:
  *
  *  - '''Additive merge is exact and order-free.''' `n` merges by long
  *    addition; the value sum is kept as `DECIMAL(30,6)` (the
  *    [[RelationalOps.dec]] fixed-point image), so incremental addition in
  *    ANY batch order/grouping produces the bit-identical total the
  *    one-shot aggregate would — unlike double accumulation, where the
  *    fold order shows in the last ulp. The read face converts through the
  *    decimal's string form ([[RelationalOps.decToDouble]]), matching the
  *    batch query exactly.
  *  - '''Exactly-once under replay.''' A `foreachBatch` sink redelivers a
  *    batch when the previous attempt crashed after (or while) applying
  *    it; an additive view double-counts unless application is
  *    idempotent PER BATCH. The applied-batch-id ledger rides INSIDE the
  *    state dir (`_batches`, hidden from parquet scans) and is written as
  *    part of the same [[SwapDir.swapIn]] rename that publishes the merged
  *    state — state and ledger can never diverge: a crash before the swap
  *    leaves both old (replay re-applies), after it both new (replay
  *    no-ops on the ledger check).
  *  - '''Single writer.''' Mutation holds the shared [[FileLease]]; the
  *    swap keeps readers on a complete state at every instant.
  *
  * Scale: the per-batch cost is one partial aggregate of the BATCH plus a
  * merge bounded by the VIEW's key cardinality — the fact table is never
  * rescanned. The merged state lands as one file per swap (a rollup is
  * key-bounded).
  */
object IncrementalRollup {

  private val Dec30 = DecimalType(30, 6)
  private val LedgerName = "_batches"

  /** The partial aggregate of one batch: group keys → (n, total). The same
    * expression shape as the one-shot rollup, so partials merge into
    * exactly what the one-shot would compute. */
  private def partial(batch: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(RelationalOps.dec(col(valueCol))).cast(Dec30).as("total"))

  private def ledgerPath(stateDir: Path) = new Path(stateDir, LedgerName)

  private def readLedger(f: FileSystem, live: Path): Set[Long] =
    Fs.readText(f, ledgerPath(SwapDir.readPath(f, live))).fold(Set.empty[Long])(
      _.split('\n').iterator.filter(_.nonEmpty).map(_.toLong).toSet)

  private def writeLedger(f: FileSystem, dir: Path, ids: Set[Long]): Unit =
    Fs.writeText(f, ledgerPath(dir), ids.toSeq.sorted.mkString("\n"))

  /** The swapped state subdir under the stable view root — the root keeps
    * the lease lock file, so the swap never renames the lock away. */
  private def statePath(dir: String) = new Path(dir, "state")

  /** Fold one batch into the view rooted at `dir` (created on first call).
    * Idempotent on `batchId`: a redelivered batch is a no-op. Returns true
    * when the batch was applied, false when the ledger already had it.
    *
    * The ledger keeps EVERY applied id (one decimal line each): the batch
    * API accepts arbitrary ids, so no tail-pruning rule is sound here —
    * and the cost is honest: a year of 1-minute micro-batches is ~0.5 M
    * lines / a few MB, parsed once per apply. A deployment that outgrows
    * that is batching too finely for a persisted-view sink. */
  def applyBatch(spark: SparkSession, dir: String, batch: DataFrame,
      batchId: Long, keys: Seq[String], valueCol: String): Boolean = {
    val live = statePath(dir)
    val f = Fs.of(spark, dir)
    new FileLease(dir).withLease(f) {
      SwapDir.recover(f, live)
      val applied = readLedger(f, live)
      if (applied.contains(batchId)) false
      else {
        val p = partial(batch, keys, valueCol)
        val merged =
          if (!f.exists(live)) p
          else stateFrame(spark, dir).unionByName(p)
            .groupBy(keys.map(col): _*)
            .agg(sum(col("n")).as("n"), sum(col("total")).cast(Dec30).as("total"))
        SwapDir.swapIn(f, live) { tmp =>
          merged.repartition(1)
            .write.mode(SaveMode.Overwrite).parquet(tmp)
          writeLedger(f, new Path(tmp), applied + batchId)
        }
        true
      }
    }
  }

  private def stateFrame(spark: SparkSession, dir: String): DataFrame =
    SwapDir.read(spark, statePath(dir).toString)

  /** The view, with the value total exposed as the batch query exposes it
    * (decimal → double through the string form — [[RelationalOps
    * .decToDouble]]'s engine-portable conversion). */
  def read(spark: SparkSession, dir: String, totalCol: String = "total_value"): DataFrame = {
    val st = stateFrame(spark, dir)
    st.select(st.columns.filterNot(_ == "total").map(col) :+
      RelationalOps.decToDouble(col("total")).as(totalCol): _*)
  }

  /** Streaming maintenance: each micro-batch folds in through
    * [[applyBatch]] — the ledger makes foreachBatch's redelivery window
    * harmless, so the view is exactly-once end to end. */
  def maintain(stream: DataFrame, dir: String, checkpoint: String,
      keys: Seq[String], valueCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch.sparkSession, dir, batch, id, keys, valueCol): Unit
      }
      .start()
}
