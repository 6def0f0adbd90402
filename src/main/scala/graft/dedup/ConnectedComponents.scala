package graft.dedup

import org.apache.spark.sql.{DataFrame, Observation, functions => F}
import org.apache.spark.sql.functions.{coalesce, col, least, min}

/** Distributed connected components over an undirected edge list — the
  * operator that turns near-duplicate PAIRS into duplicate CLUSTERS, so a
  * curation pipeline can keep exactly one representative per component
  * (rather than the greedy per-pair drop, which over-deletes when A~B and
  * B~C but A!~C and the pipeline wants min-id survivors per component).
  *
  * Algorithm: iterative min-label propagation with a pointer-doubling
  * shortcut. Each iteration a node adopts the smallest component label among
  * itself, its neighbors (one shuffle: edges join labels, groupBy node,
  * min), and its current label's OWN label (the doubling join — labels join
  * labels). Neighbor propagation alone converges in O(diameter) rounds;
  * the doubling step halves label-chain lengths each round, giving
  * O(log diameter) rounds on path-shaped components (the Kiveris et al.
  * "Connected Components in MapReduce and Beyond" two-phase star algorithm
  * has the same round bound; the label-doubling variant needs no graph
  * rewriting, so each round is two joins over frames no larger than the
  * input). Near-dup graphs are overwhelmingly tiny star/clique components,
  * so typical convergence is 2-3 rounds.
  *
  * Scale notes (100 TB): all per-round state is (id, component) pairs —
  * two longs per VERTEX, not per edge — and every join keys on id, so AQE
  * handles skew. Lineage is truncated each round with an eager checkpoint:
  * executor-local blocks (`localCheckpoint`) by default — the fast path
  * when executors are stable — or, when `checkpointDir` is given, a
  * reliable filesystem `checkpoint`, which survives executor loss and is
  * the right mode on a cluster with dynamic allocation or spot instances.
  * The convergence signal is an `observe()` metric (count of labels that
  * strictly improved) riding the round's own checkpoint job — detecting
  * convergence costs zero extra jobs or scans.
  */
object ConnectedComponents {

  /** (id, component) for every node that appears in `edges` (either
    * endpoint, self-loops included — a node whose only edges are self-loops
    * is its own component); `component` is the minimum node id reachable
    * from the node (undirected reachability). Nodes not present in any edge
    * are the caller's to append (they are their own component). Self-loops
    * and duplicate/reversed edges are tolerated.
    *
    * Bounded driver fast path (r13, the PrincipalComponent collect class):
    * near-dup edge lists are OUTPUT-sized, not corpus-sized — at bench
    * scale every distributed round is pure scheduling latency. When the
    * ids are longs and the materialized edge frame fits `maxDriverEdges`
    * (probed with a limit-guarded collect — never assumed), a driver-side
    * union-find with union-by-min produces the IDENTICAL labeling (the
    * root of each set is its minimum id — exactly the fixpoint's
    * definition; parity is spec-pinned against the distributed engine).
    * Past the cap, for non-long ids, or in reliable-checkpoint mode the
    * distributed fixpoint below runs unchanged — at 100 TB the probe
    * overflows and this is byte-for-byte the r12 path. The probe collects
    * from the ALREADY-materialized edge checkpoint, so the expensive
    * upstream pair pipeline never runs twice.
    *
    * `maxIter` bounds the distributed fixpoint's rounds only: past it that
    * engine throws (non-convergence is an error, never a partial
    * labeling). The driver fast path has no rounds and ignores `maxIter` —
    * union-find always finishes, so a graph that would need more than
    * `maxIter` rounds still gets its complete labeling there. A caller
    * that relies on the throw must stay off the fast path (set
    * `checkpointDir`, or pass non-long ids).
    *
    * `checkpointDir`: when set, per-round lineage truncation uses reliable
    * `checkpoint` into that directory (sets the SparkContext checkpoint dir
    * as a side effect) — survives executor loss, the correct mode under
    * dynamic allocation. When None (default), `localCheckpoint` keeps
    * blocks executor-local — faster, and fine when executors are stable.
    * Reliable mode also SKIPS the driver fast path: a caller opting into
    * filesystem-checkpoint resilience is asking for the distributed
    * engine's failure semantics (and the bench's reliable field keeps
    * measuring that engine, not the fast path).
    * Each call scopes itself to a fresh `cc-<uuid>` subdirectory of the
    * given dir (so concurrent calls — or any other operator checkpointing
    * into the same SparkContext-global dir — can never have their files
    * claimed by this call's superseded-round cleanup), deletes superseded
    * rounds as the iteration advances, and deletes the whole subdirectory
    * if the call throws; on success only the returned frame's files remain
    * (delete the `cc-*` dir after consuming the frame). Note
    * `setCheckpointDir` is SparkContext-global: the last concurrent caller
    * wins for where NEW checkpoints land, so concurrent iterative
    * operators should still serialize their calls.
    */
  def components(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30, checkpointDir: Option[String] = None): DataFrame =
    componentsBounded(edges, aCol, bCol, maxIter, checkpointDir, MaxDriverEdges)

  /** Driver fast-path bound: 2²⁰ edges × 16 B payload + Row overhead ≈
    * order 100 MB of driver heap at the bound (the maxDriverCells budget
    * discipline). */
  private val MaxDriverEdges: Int = 1 << 20

  /** [[components]] with the fast-path cap injected — the test seam for
    * exercising the overflow fallback without materializing 2²⁰ edges. */
  private[dedup] def componentsBounded(edges: DataFrame, aCol: String,
      bCol: String, maxIter: Int, checkpointDir: Option[String],
      cap: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val longIds = edges.schema(aCol).dataType == LongType &&
      edges.schema(bCol).dataType == LongType
    if (checkpointDir.nonEmpty || !longIds)
      return componentsWithRounds(edges, aCol, bCol, maxIter, checkpointDir)._1
    // Materialize the edge projection ONCE (upstream is often the expensive
    // near-dup candidate pipeline); both the probe and any fallback read it.
    val e = edges.select(col(aCol).as("u"), col(bCol).as("v")).localCheckpoint(true)
    val probed = e.limit(cap + 1).collect()
    if (probed.length > cap || probed.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      rounds(e, Set.empty, maxIter, new RoundCheckpoints(None))._1
    else driverLabels(edges.sparkSession, probed)
  }

  /** Union-find with union-by-min over a collected edge list: attaching
    * the larger root under the smaller keeps every set's root equal to its
    * MINIMUM member, so `find(id)` is the minimum reachable id — the exact
    * labeling the distributed fixpoint converges to. Path compression keeps
    * the walk near-linear. */
  private def driverLabels(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long](rows.length * 2)
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) parent.put(x, x): Unit
    def find(x0: Long): Long = {
      var root = x0
      while (parent.get(root) != root) root = parent.get(root)
      var x = x0
      while (x != root) { val nxt = parent.get(x); parent.put(x, root); x = nxt }
      root
    }
    rows.foreach { r =>
      val u = r.getLong(0); val v = r.getLong(1)
      add(u); add(v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    import scala.jdk.CollectionConverters._
    val labels = parent.keySet().asScala.toSeq.map(id => (id, find(id)))
    import spark.implicits._
    spark.createDataset(labels).toDF("id", "component")
  }

  /** [[components]] plus the number of label-propagation rounds it took to
    * converge — the observable for convergence assertions (a clique or star
    * must close in 2-3 rounds; a length-n chain in O(log n) via the
    * doubling step). */
  def componentsWithRounds(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30, checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val sc = edges.sparkSession.sparkContext
    // Per-call scope: the listing-diff attribution in RoundCheckpoints is
    // only sound if nothing else can write into the directory being diffed
    // — and the SparkContext checkpoint dir is global, so another thread
    // checkpointing between two snapshots would have its rdd-N dirs claimed
    // (and later deleted) by this call. A fresh cc-<uuid> subdir makes the
    // diffs see exactly this call's checkpoints.
    val ck = new RoundCheckpoints(checkpointDir.map { d =>
      val scoped = d.stripSuffix("/") + "/cc-" + java.util.UUID.randomUUID()
      sc.setCheckpointDir(scoped)
      val p = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
      (p.getFileSystem(sc.hadoopConfiguration), p)
    })
    // Any exit path that is not the success return must not leak checkpoint
    // files: a mid-iteration failure (including the non-convergence require)
    // would otherwise strand several full per-vertex copies in the shared
    // checkpoint filesystem. The per-call cc-<uuid> scope makes the cleanup
    // a single recursive delete that cannot touch anyone else's files.
    try {
      // The edge projection is materialized ONCE: upstream `edges` is often
      // an expensive pipeline (the near-dup candidate join) that must not
      // run twice.
      val (e, eCk) = ck.persist(edges.select(col(aCol).as("u"), col(bCol).as("v")))
      rounds(e, eCk, maxIter, ck)
    } catch {
      case t: Throwable =>
        ck.dropScope()
        throw t
    }
  }

  /** Per-round lineage truncation: executor-local blocks, or reliable
    * checkpoints under `root` (a per-call scope dir) with their files
    * tracked. Reliable mode must also CLEAN UP: each round's checkpoint is
    * a full materialized copy of per-vertex state, nothing deletes them by
    * default (cleanCheckpoints is off), and an iterative operator that
    * leaks ~3 copies per round would fill the checkpoint filesystem on a
    * long-lived cluster. Superseded rounds are deleted as soon as the
    * round that replaces them has materialized; only the files backing the
    * RETURNED frame survive the call. */
  private final class RoundCheckpoints(
      root: Option[(org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)]) {
    private def snapshot(): Set[String] = root match {
      case Some((f, r)) if f.exists(r) => f.listStatus(r).map(_.getPath.toString).toSet
      case _ => Set.empty
    }
    /** `df` materialized, plus the checkpoint dirs that now back it. */
    def persist(df: DataFrame): (DataFrame, Set[String]) = {
      val before = snapshot()
      val out = if (root.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
      (out, snapshot() -- before)
    }
    def drop(dirs: Set[String]): Unit = root.foreach { case (f, _) =>
      dirs.foreach(d => f.delete(new org.apache.hadoop.fs.Path(d), true))
    }
    /** Delete the whole cc-<uuid> scope dir (the failure path). */
    def dropScope(): Unit = root.foreach { case (f, r) =>
      try f.delete(r.getParent, true)
      catch { case _: Throwable => () }
    }
  }

  /** The label-propagation fixpoint over an already-materialized (u, v)
    * edge projection `e` whose checkpoint files are `eCk` (dropped once the
    * round state derived from `e` is materialized). Both the initial labels
    * (which must include self-loop-only endpoints) and the bidirectional
    * edge frame derive from `e`. */
  private def rounds(e: DataFrame, eCk: Set[String], maxIter: Int,
      ck: RoundCheckpoints): (DataFrame, Int) = {
    // Pre-partitioned BY THE ROUND-JOIN KEY: the checkpoint preserves the
    // hash partitioning (LogicalRDD keeps outputPartitioning), so every
    // round's neighbor join exchanges only the vertex-sized label frame —
    // the 2|E| edge frame is shuffled ONCE here, not once per round.
    val (bidir, bidirCk) = ck.persist(
      e.union(e.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .repartition(col("v")))

    var (labels, prevCk) = ck.persist(
      e.select(col("u").as("id")).union(e.select(col("v").as("id")))
        .distinct().withColumn("component", col("id")))
    ck.drop(eCk) // bidir and initial labels are materialized; e is garbage

    var iter = 0
    var converged = labels.isEmpty
    while (!converged && iter < maxIter) {
      // Smallest component label among my neighbors this round.
      val nbrMin = bidir
        .join(labels.select(col("id").as("v"), col("component").as("nc")), "v")
        .groupBy(col("u").as("id")).agg(min(col("nc")).as("nbr_min"))
      // NOT checkpointed: the doubling self-join reads `stepped` on both
      // sides, but the two subtrees are canonically identical (same child
      // exchange, same shuffle key c1/pid), so ReusedExchange computes the
      // neighbor-min join once within the round's single job — one
      // materialization per round instead of the former two.
      val stepped = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          col("component").as("prev"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("c1"))
      // Pointer doubling: also adopt the label OF my label. The
      // convergence signal rides the SAME job as the checkpoint
      // materialization via observe() (count of strictly-improved labels)
      // — the former separate limit(1) probe job per round is gone.
      val obs = Observation()
      val (doubled, doubledCk) = ck.persist(stepped
        .join(stepped.select(col("id").as("pid"), col("c1").as("pc")),
          stepped("c1") === F.col("pid"), "left")
        .select(col("id"), col("prev"),
          least(col("c1"), coalesce(col("pc"), col("c1"))).as("component"))
        .observe(obs,
          F.count(F.when(col("component") < col("prev"), 1L)).as("changed"))
        .select(col("id"), col("component")))
      // labels is nonempty here (checked before the loop), so the metric
      // row always arrives — AQE's empty-relation collapse cannot eat it.
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = doubled
      ck.drop(prevCk)   // the previous round's labels are superseded
      prevCk = doubledCk
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    ck.drop(bidirCk) // the loop is done; only the returned labels' files remain
    (labels, iter)
  }
}
