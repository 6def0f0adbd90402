package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.RelationalOps
import graft.util.{FileLease, Fs, SwapDir}

/** Persisted, incrementally-maintained connected-component labels — the
  * cluster-membership LIFECYCLE that completes the dedup-index story: the
  * LSH index ([[TextDedupIndex]]) answers "which standing docs does this
  * batch match"; this ledger answers "which CLUSTER is every doc in" as
  * those match edges keep arriving, without ever re-running the global
  * fixpoint over the corpus ([[ConnectedComponents]] stays the one-shot /
  * rebuild path).
  *
  * Layout under `dir` (both parquet, both append-only between compactions,
  * mutated only under the shared [[FileLease]]):
  *   - `labels/` (id, label): exactly one row per id, written when the id
  *     FIRST appears; the stored label is the component min-id AS OF that
  *     batch and is never rewritten by appends.
  *   - `remap/`  (old_label, label): merge history. When a batch merges
  *     existing components, the superseded canonical labels get one delta
  *     row each pointing at the new canonical. Labels are component
  *     MIN-ids, so every remap edge strictly decreases — chains are
  *     acyclic and resolve by min-reachability, i.e. by running the
  *     ordinary [[ConnectedComponents]] fixpoint over the remap table
  *     itself (merge-history-sized, orders below the corpus).
  *
  * Per-append cost is O(batch + touched components): the batch's ids and
  * edge endpoints are resolved against the ledger (one id-only probe of
  * `labels/`, one fixpoint over the small `remap/`), the CONTRACTED graph
  * (one node per touched current component) runs through
  * ConnectedComponents, and the deltas written are one row per new id
  * plus one row per superseded component label. Nothing corpus-sized is
  * rewritten on append — the same delta discipline as the index's census.
  *
  * Readers resolve `labels ⋈ resolved(remap)` — [[labels]] — and see a
  * CONSISTENT view without taking the lease because appends land `remap/`
  * deltas BEFORE `labels/` rows: a reader between the two writes sees the
  * merged component under its new canonical label with the batch's new
  * ids simply absent (a complete earlier state); the reverse order could
  * briefly show one merged cluster under two labels.
  *
  * [[compact]] (triggered in the append's lease hold past a file-count
  * threshold, like the index subtables) folds the resolved remap into
  * `labels/` via [[SwapDir]] stage+rename and resets `remap/` — amortized
  * O(corpus) at compaction cadence, never per append.
  */
object IncrementalClusters {

  private def labelsRaw(spark: SparkSession, dir: String): DataFrame =
    SwapDir.read(spark, s"$dir/labels", Some("id BIGINT, label BIGINT"))

  private def remapRaw(spark: SparkSession, dir: String): DataFrame =
    SwapDir.read(spark, s"$dir/remap", Some("old_label BIGINT, label BIGINT"))

  /** Fully-resolved merge map `(old_label, final_label)` for every label
    * that was ever superseded — min-reachability over the remap chains. */
  private def resolvedRemap(spark: SparkSession, dir: String): DataFrame = {
    val rm = remapRaw(spark, dir)
    if (rm.isEmpty) rm.select(col("old_label"), col("label").as("final_label"))
    else ConnectedComponents.components(rm, "old_label", "label")
      .withColumnRenamed("id", "old_label")
      .withColumnRenamed("component", "final_label")
      // chains strictly decrease, so the final label of a CURRENT canonical
      // is itself — only superseded labels need rows
      .where(col("old_label") =!= col("final_label"))
  }

  /** Current cluster labels: `(id, cluster_id)` for every id ever added. */
  def labels(spark: SparkSession, dir: String): DataFrame = {
    val res = resolvedRemap(spark, dir)
    labelsRaw(spark, dir)
      .join(broadcastIfSmall(res), col("label") === col("old_label"), "left")
      .select(col("id"), coalesce(col("final_label"), col("label")).as("cluster_id"))
  }

  /** The remap table is merge-history-sized and usually tiny, but it is
    * not bounded by a parameter — guard the broadcast like the trigram
    * model: materialize once (the frame just ran a CC fixpoint, so it is
    * already localCheckpoint-backed in practice), probe the size, and
    * shuffle-hash past [[RelationalOps.MaxBroadcastRows]]. */
  private def broadcastIfSmall(df: DataFrame): DataFrame = {
    val mat = df.localCheckpoint(true)
    RelationalOps.guardedBroadcast(mat,
      RelationalOps.exceedsCap(mat, RelationalOps.MaxBroadcastRows))
  }

  /** Ingest one batch of vertices + match edges. `vertices` are the
    * batch's doc ids (singletons included); edge endpoints may reference
    * any id already in the ledger (and any endpoint not yet present is
    * adopted as a new id). Runs under the ledger's [[FileLease]]. */
  def addBatch(spark: SparkSession, dir: String,
      vertices: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String): Unit = {
    val f = Fs.of(spark, dir)
    f.mkdirs(new Path(dir))
    new FileLease(dir).withLease(f) {
      val verts = vertices.select(col(idCol).cast("long").as("id")).distinct()
      val e = edges.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      val touched = verts
        .union(e.select(col("a").as("id")))
        .union(e.select(col("b").as("id"))).distinct()
        .localCheckpoint(true)

      // Resolve every touched id to its CURRENT canonical label: ledger
      // row if present (chased through the resolved remap), else itself.
      val res = resolvedRemap(spark, dir)
      val cur = touched
        .join(labelsRaw(spark, dir), Seq("id"), "left")
        .join(broadcastIfSmall(res), col("label") === col("old_label"), "left")
        .select(col("id"),
          coalesce(col("final_label"), col("label"), col("id")).as("cur"))
        .localCheckpoint(true)

      // Contracted graph: one node per current component (+ every new id),
      // edges projected onto labels, self-edges keeping isolated nodes.
      val lab = (a: String) => cur.select(col("id").as(a + "_id"), col("cur").as(a))
      val contracted = e
        .join(lab("ca"), col("a") === col("ca_id")).join(lab("cb"), col("b") === col("cb_id"))
        .select(col("ca").as("u"), col("cb").as("v"))
        .union(cur.select(col("cur").as("u"), col("cur").as("v")))
      val comp = ConnectedComponents.components(contracted, "u", "v")
        .withColumnRenamed("id", "node")
        .localCheckpoint(true)

      // Deltas. Remap rows FIRST (see object doc for the read-consistency
      // argument), then the new ids' label rows.
      val remapDelta = comp
        .where(col("node") =!= col("component"))
        .join(cur.select(col("cur")).distinct(), col("node") === col("cur"))
        // only CURRENT canonical labels of pre-existing components may be
        // superseded; a brand-new id that lands in a bigger component is
        // recorded directly in its label row, not in merge history
        .join(labelsRaw(spark, dir).select(col("label").as("node")).distinct(),
          Seq("node"), "leftsemi")
        .select(col("node").as("old_label"), col("component").as("label"))
      if (!remapDelta.isEmpty)
        remapDelta.coalesce(1).write.mode("append")
          .parquet(new Path(dir, "remap").toString)

      val newLabels = cur
        .join(labelsRaw(spark, dir), Seq("id"), "left_anti")
        .join(comp, col("cur") === col("node"))
        .select(col("id"), col("component").as("label"))
      if (!newLabels.isEmpty)
        newLabels.coalesce(1).write.mode("append")
          .parquet(new Path(dir, "labels").toString)

      val maxFiles = SwapDir.maxFiles(spark)
      val needCompact =
        SwapDir.fileCount(f, new Path(dir, "remap")) > maxFiles ||
          SwapDir.fileCount(f, new Path(dir, "labels")) > maxFiles
      if (needCompact) compactUnlocked(spark, dir)
    }
  }

  /** Fold the resolved remap into `labels/` and reset `remap/`. */
  def compact(spark: SparkSession, dir: String): Unit =
    new FileLease(dir).withLease(Fs.of(spark, dir)) { compactUnlocked(spark, dir) }

  private def compactUnlocked(spark: SparkSession, dir: String): Unit = {
    val f = Fs.of(spark, dir)
    val par = math.max(1, spark.sparkContext.defaultParallelism / 4)
    val flat = labels(spark, dir)
      .select(col("id"), col("cluster_id").as("label"))
      .localCheckpoint(true) // sever lineage from the dir being swapped
    SwapDir.swapIn(f, new Path(dir, "labels")) { tmp =>
      flat.repartition(par, col("id")).write.parquet(tmp)
    }
    SwapDir.swapIn(f, new Path(dir, "remap")) { tmp =>
      remapRaw(spark, dir).limit(0).coalesce(1).write.parquet(tmp)
    }
  }
}
