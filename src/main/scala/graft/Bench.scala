package graft

import java.lang.management.ManagementFactory
import java.util.Locale
import java.util.concurrent.atomic.LongAdder
import scala.collection.immutable.VectorMap
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, expr, lit, pmod}
import graft.BenchUtil.withTempDir
import graft.queries.{Registry, TextQueries}

/** Spark task-metrics accumulator: sums executor run/CPU/GC time and
  * shuffle bytes across all tasks. The CPU-vs-wall split is the bench's
  * contention detector — on a quiet host, wall ≈ cpu/cores for CPU-bound
  * stages; a contended or swapping host inflates wall (and GC) while CPU
  * stays flat, which is exactly the signature that distinguishes
  * environment noise from a plan regression. */
final class TaskMetricsListener extends SparkListener {
  private val runMs, cpuNs, gcMs, shufReadB, shufWriteB = new LongAdder
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime); gcMs.add(m.jvmGCTime)
      shufReadB.add(m.shuffleReadMetrics.totalBytesRead)
      shufWriteB.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  import TaskMetricsListener.Snap
  /** Listener-bus delivery is async: poll until the counters go quiet so a
    * snapshot taken right after an action includes that action's tasks. */
  def settled(): Snap = {
    var prev = Snap(runMs.sum, cpuNs.sum, gcMs.sum, shufReadB.sum, shufWriteB.sum)
    var tries = 0
    while (tries < 20) {
      Thread.sleep(25)
      val cur = Snap(runMs.sum, cpuNs.sum, gcMs.sum, shufReadB.sum, shufWriteB.sum)
      if (cur == prev) return cur
      prev = cur; tries += 1
    }
    prev
  }
}

object TaskMetricsListener {
  final case class Snap(runMs: Long, cpuNs: Long, gcMs: Long, shufReadB: Long, shufWriteB: Long) {
    def -(o: Snap) = Snap(runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
      shufReadB - o.shufReadB, shufWriteB - o.shufWriteB)
  }
}

/** The one benchmark entry point: times the headline queries and the
  * pipeline, streaming, curation and index sections on SPARK_GRAFT_SF_DIR
  * and prints one JSON record, then a compact adjudication line.
  *
  * Usage: `graft.Bench [--only name,...]`. Without `--only` every default
  * section runs and the record is also written to GRAFT_BENCH_OUT (default
  * `BENCH_LOCAL.json` in the working directory). `--only` takes section
  * names and registry query names (headline or not), runs exactly those by
  * the same method, and only prints.
  *
  * The run is an ordered table of [[Section]]s; one runner times them,
  * accounts for failures and renders the record, so a section cannot crash
  * (or fail its gate) without being named in `failed_sections`. Methodology
  * (contention-robust by design):
  *
  *  - each query is forced end-to-end through the noop sink (full plan
  *    execution — a bare count() could collapse to metadata);
  *  - queries: one untimed warmup run (file listing + codegen + JIT), then
  *    THREE timed runs, median reported (the median plus the run list
  *    exposes spread); sections: one warm pass plus one timed pass;
  *  - every query also reports Spark-side task metrics (executor run/CPU/GC
  *    seconds, shuffle bytes) and the OS load average, so a wall-clock
  *    blowup on a busy host is attributable: cpu_sec stable + load high ⇒
  *    environment, cpu_sec grown ⇒ real regression;
  *  - sections run before the query loop, pipeline first: a heap full of
  *    query-stage leftovers was observed to degrade the write-heavy
  *    pipeline measurement several-fold.
  */
object Bench {

  /** A number rendered with an explicit format (`%s` = the full Double). */
  final case class Fmt(v: Double, pattern: String)
  def raw(v: Double): Fmt = Fmt(v, "%s")

  /** num / den at two decimals, -1 when either side is missing or failed. */
  def ratio(num: Double, den: Double): Any =
    if (num >= 0 && den > 0) Fmt(num / den, "%.2f") else -1

  /** One entry of the run table: `name` is what `--only` selects and what
    * `failed_sections` reports; `fields` are the record fields the thunk
    * returns values for, in order (a dotted name nests one level, e.g.
    * `streaming.rows`); `gate` must hold over those values or the section
    * counts as failed (its values are kept). An `onDemand` section runs only
    * when `--only` names it. */
  final case class Section(name: String, fields: Seq[String],
      gate: (String => Double) => Boolean = _ => true,
      onDemand: Boolean = false, isQuery: Boolean = false)(val run: Ctx => Seq[Any])

  /** What a section thunk sees: the session, the corpus, the task-metrics
    * listener, and every value recorded so far (for cross-section ratios). */
  final class Ctx(val spark: SparkSession, val sfDir: String,
      val listener: TaskMetricsListener, val loadStart: Double) {
    private[Bench] val values = mutable.LinkedHashMap[String, Any]()
    /** A recorded value as a number; -1 when absent. */
    def num(field: String): Double = values.get(field).fold(-1.0)(Bench.num)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def runOnce(query: String): Double =
      time(noop(Registry.byName(query).build(spark, sfDir)))
  }

  final case class Outcome(values: VectorMap[String, Any],
      failedQueries: Seq[String], failedSections: Seq[String]) {
    def failedCount: Int = failedQueries.size + failedSections.size
    def exitStatus: Int = if (failedCount > 0) 1 else 0
    /** Sum of the query medians; a failed query poisons it (-1, never a
      * smaller sum that would read as a win). */
    def total: Double =
      if (failedQueries.nonEmpty) -1.0
      else values.collect { case (k, v) if k.startsWith("queries.") => num(v) }.sum
  }

  private def num(v: Any): Double = v match {
    case Fmt(d, _) => d
    case d: Double => d
    case n: Int => n.toDouble
    case n: Long => n.toDouble
    case b: Boolean => if (b) 1.0 else 0.0
    case _ => -1.0
  }

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
  private def time(body: => Any): Double = timed(body)._1
  /** The section method: one warm pass, then the timed one. */
  private def warmTimed(body: => Any): Double = { time(body); time(body) }
  /** One warm pass, then three timed ones; walls + their task metrics. */
  private def warmMedian3(c: Ctx)(body: => Any): (Seq[Double], TaskMetricsListener.Snap) = {
    time(body)
    val s0 = c.listener.settled()
    val walls = Seq.fill(3)(time(body))
    (walls, c.listener.settled() - s0)
  }

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** JIT code-cache occupancy (used, max) in MB. A near-full code cache
    * disables the JIT compiler and the codegen'd query kernels run
    * INTERPRETED — the one failure mode observed to inflate CPU 30× on a
    * quiet host with zero GC. Reported so that signature is attributable. */
  private def codeCacheMb: (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
    (pools.map(_.getUsage.getUsed).sum / 1e6, pools.map(_.getUsage.getMax).sum / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.toList match {
      case Nil => None
      case "--only" :: names :: Nil =>
        Some(names.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct)
      case _ => sys.error("usage: graft.Bench [--only name,...]")
    }
    val problems = tableErrors(sections, Layout)
    require(problems.isEmpty, problems.mkString("bench table: ", "; ", ""))
    val table = select(only)
    val spark = GraftSession.localFromEnv("graft-bench")
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val o = execute(table, new Ctx(spark, sfDir, listener, loadAvg))
    val record = render(Layout, o, sfDir)
    // Persist the full record where a repo snapshot finds it even if stdout
    // capture truncates; GRAFT_BENCH_OUT redirects (an sf1 run must not
    // clobber the sf0.1 record). `--only` runs never write it.
    if (only.isEmpty) {
      val out = sys.env.getOrElse("GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
      try java.nio.file.Files.write(java.nio.file.Paths.get(out), (record + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] could not write $out: $e") }
    }
    println(record)
    println(render(CompactLayout, o, sfDir))
    spark.stop()
    if (o.exitStatus != 0) {
      System.err.println(s"[bench] ${o.failedCount} section(s) failed: " +
        (o.failedQueries ++ o.failedSections).mkString(", "))
      sys.exit(o.exitStatus)
    }
  }

  /** The per-query maps, in record order (each keyed by query name). */
  private val QueryFields: Seq[String] = Seq("query_runs", "query_gc_sec_3runs",
    "query_executor_run_sec_3runs", "query_shuffle_rw_mb_3runs", "query_load_avg",
    "query_cpu_sec_3runs", "queries")

  /** A registry query: one warm-up, median of three timed runs; cpu/gc/run
    * seconds are summed over the three (per-run ≈ /3). */
  private def querySection(name: String): Section =
    Section(name, QueryFields.map(f => s"$f.$name"), isQuery = true) { c =>
      c.runOnce(name) // warmup: file listing, codegen, JIT — outside timing
      val la = loadAvg
      val s0 = c.listener.settled()
      val walls = Seq.fill(3)(c.runOnce(name))
      val d = c.listener.settled() - s0
      Seq(walls.map(raw), d.gcMs / 1e3, d.runMs / 1e3,
        Fmt((d.shufReadB + d.shufWriteB) / 1e6, "%.1f"), Fmt(la, "%.1f"),
        d.cpuNs / 1e9, raw(BenchUtil.median(walls)))
    }

  /** A registry entry benched OUTSIDE the headline set (and its total):
    * heavy curation ops whose build runs distributed jobs get one warm and
    * one timed pass, recorded as a standalone field. */
  private def extra(field: String, query: String): Section =
    Section(field.stripSuffix("_sec"), Seq(field))(c => Seq(warmTimed(c.runOnce(query))))

  /** r9 exact-substring dedup (SpanDedup): full span surgery under the
    * PRODUCTION xxhash64 family. Stride 8 is the 100 TB operating point
    * (content-defined anchors — the ~8× gram-frame cut); stride 1 is the
    * exact kernel for reference. The registry twins (t_dup_spans /
    * t_substring_dedup) pin the portable-md5 family for the oracle — these
    * fields track the kernel users run, per the t_simhash precedent. */
  private def spanDedup(name: String, stride: Int): Section =
    Section(name, Seq(s"${name}_sec")) { c =>
      def once(): Double = {
        val docs = Tables.load(c.spark, c.sfDir, "documents")
        time(c.noop(graft.dedup.SpanDedup.removeDuplicatedSpans(docs, "doc_id", "text",
          k = 30, anchorStride = stride, portable = false)))
      }
      once()
      Seq(once())
    }

  private val work: Seq[Section] = Seq(
    // Pipeline rates vs BASELINE.md targets (ingest throughput; one
    // incremental dedupe well inside the 5-min schedule).
    Section("pipeline", Seq("ingest_rows", "ingest_cpu_sec", "dedupe_cpu_sec",
        "dedupe_duplicates_removed", "ingest_rows_per_sec", "dedupe_incremental_sec",
        "dedupe_windowed_sec")) { c =>
      val r = PipelineBench.run(c.spark, c.sfDir, c.listener)
      Seq(r.ingestRows, r.ingestCpuSec, r.dedupeCpuSec, r.dedupeDuplicates,
        Fmt(r.ingestRowsPerSec, "%.0f"), raw(r.dedupeSec), r.windowedDedupeSec)
    },
    // Adversarial-skew corpus (hot key ×10⁴, one day carrying 50% of rows),
    // measured by the same machinery — the uniform-vs-skew ratio is the
    // robustness number.
    Section("skew", Seq("skew_ingest_rows_per_sec", "skew_dedupe_sec",
        "skew_dupes_removed", "skew_ingest_slowdown", "skew_dedupe_slowdown")) { c =>
      val r = GenSkew.bench(c.spark, c.sfDir, c.listener)
      Seq(Fmt(r.ingestRowsPerSec, "%.0f"), raw(r.dedupeSec), r.dedupeDuplicates,
        ratio(c.num("ingest_rows_per_sec"), r.ingestRowsPerSec),
        ratio(r.dedupeSec, c.num("dedupe_incremental_sec")))
    },
    // Hot JOIN key (one customer = half of orders): skew-vs-uniform wall for
    // the join-chain and ranking-window headline shapes.
    Section("join_skew", Seq("skew_join_q3_sec", "skew_join_q3_slowdown",
        "skew_join_wrank_sec", "skew_join_wrank_slowdown")) { c =>
      val j = GenSkew.benchJoinSkew(c.spark, c.sfDir)
      Seq(j.q3Skew, ratio(j.q3Skew, j.q3Uniform), j.wrankSkew, ratio(j.wrankSkew, j.wrankUniform))
    },
    // The engine as deployed: continuous-trigger streaming ingest with the
    // dedupe job firing concurrently (EtlApp's shape). "Ran but did no
    // dedupe work" fails too: the corpus always contains duplicates, so 0
    // removed means the dedupe job never executed (r6 lesson); likewise a
    // stateful phase with no output, and streamed-vs-batch attribution
    // parity is a correctness gate.
    Section("streaming", StreamBench.Fields.map("streaming." + _),
        gate = v => Seq("batches", "quiet_runs", "dupes_removed", "funnel_batches",
          "funnel_out_rows", "attribution_batches", "attribution_out_rows",
          "attribution_parity").forall(f => v(s"streaming.$f") > 0)) { c =>
      StreamBench.run(c.spark, c.sfDir, c.num("ingest_rows_per_sec"))
    },
    extra("cc_clusters_sec", "t_dup_clusters"),
    // The same clusters fixpoint with RELIABLE per-round checkpointing
    // (ConnectedComponents' spot-executor mode): the delta to cc_clusters
    // is the per-round write+read of vertex-sized label state to the
    // checkpoint filesystem (here local disk; on HDFS/object stores expect
    // the gap to widen with round count, not data size).
    Section("cc_clusters_reliable", Seq("cc_clusters_reliable_sec")) { c =>
      withTempDir("graft-cc-ck") { ck =>
        Seq(warmTimed(c.noop(TextQueries.clusteredDocsWithCheckpoint(c.spark, c.sfDir, Some(ck)))))
      }
    },
    extra("passage_dedup_sec", "t_passage_dedup"),
    extra("shard_shuffle_sec", "t_shard_shuffle"),
    extra("mix_sample_sec", "t_mix_sample"),
    extra("best_of_cluster_sec", "t_best_of_cluster"),
    extra("trigram_lm_sec", "t_trigram_lm"),
    extra("tfidf_sec", "t_tfidf"),
    extra("bm25_sec", "t_bm25"),
    extra("text_knn_sec", "t_text_knn"),
    extra("corpus_diff_sec", "t_corpus_diff"),
    extra("dsir_sec", "t_dsir_weights"),
    extra("quality_lr_train_sec", "t_quality_lr"),
    extra("fuzzy_link_sec", "t_fuzzy_link"),
    // r9 incremental cluster ledger: the OPERATING number is appending one
    // batch of match edges to a STANDING ledger (+ reading the resolved
    // labels) — never the from-scratch rebuild, which is cc_clusters_sec's
    // job. Ledger seeded from the even ids; the timed pass ingests the odd
    // ids with every remaining edge (cross-parity merges exercise the remap
    // path) after a warm-up replay on a second ledger.
    Section("cc_incremental", Seq("cc_incremental_sec")) { c =>
      import graft.dedup.IncrementalClusters
      withTempDir("graft-incc") { base =>
        val pairs = TextQueries.benchJaccardPairs(c.spark, c.sfDir).localCheckpoint(true)
        val ids = Tables.load(c.spark, c.sfDir, "documents").select(col("doc_id"))
        val bothEven = pmod(col("a_id"), lit(2)) === 0 && pmod(col("b_id"), lit(2)) === 0
        def seed(dir: String): Unit = IncrementalClusters.addBatch(c.spark, dir,
          ids.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id",
          pairs.where(bothEven), "a_id", "b_id")
        def append(dir: String): Double = time {
          IncrementalClusters.addBatch(c.spark, dir, ids.where(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", pairs.where(!bothEven), "a_id", "b_id")
          c.noop(IncrementalClusters.labels(c.spark, dir))
        }
        seed(s"$base/warm"); append(s"$base/warm")
        seed(s"$base/timed")
        Seq(append(s"$base/timed"))
      }
    },
    extra("source_pagerank_sec", "t_source_pagerank"),
    extra("cms_heavy_hitters_sec", "t_heavy_hitters_cms"),
    extra("top_pc_sec", "e_top_pc"),
    extra("kmeans_sec", "e_kmeans"),
    // Production sizing for the trained clusterer (the semdedup_prod rule):
    // k ≈ corpus/125 cells, 2 Lloyd's rounds. fit() executes its per-round
    // jobs eagerly, so the timing brackets the whole train + assignment.
    Section("kmeans_prod", Seq("kmeans_prod_sec")) { c =>
      import graft.similarity.KMeans
      val emb = Tables.load(c.spark, c.sfDir, "embeddings")
      val k = math.max(16L, emb.count() / 125L).toInt
      Seq(warmTimed(c.noop(KMeans.fit(emb, "vec_id", "embedding",
        KMeans.Config(k = k, iterations = 2)))))
    },
    extra("semdedup_km_sec", "e_semdedup_km"),
    extra("curation_pipeline_sec", "t_curation_pipeline"),
    extra("ivfpq_sec", "e_ivfpq_topk"),
    extra("bpe_encode_sec", "t_bpe_encode"),
    extra("fuzzy_decon_sec", "t_decontaminate_fuzzy"),
    extra("hashing_tf_sec", "t_hashing_tf"),
    extra("quantile_hist_sec", "t_quantile_hist"),
    extra("quality_ensemble_sec", "t_quality_ensemble"),
    // replays the view's whole two-batch-plus-redelivery lifecycle including
    // the swap writes: this times MAINTENANCE, not a query
    extra("rollup_incremental_sec", "h_day_rollup_incremental"),
    extra("mmr_sec", "e_mmr_topk"),
    extra("matryoshka_sec", "e_matryoshka_topk"),
    extra("source_overlap_sec", "t_source_overlap"),
    extra("eval_metrics_sec", "e_eval_metrics"),
    extra("zorder_key_sec", "q_zorder_key"),
    extra("label_prop_sec", "t_label_prop"),
    extra("data_card_sec", "t_data_card"),
    // each hides a materialize-once discipline that a dropped
    // localCheckpoint would silently regress (VERDICT r10 #5)
    extra("prf_rm3_sec", "t_prf_rm3"),
    extra("triangle_count_sec", "t_triangle_count"),
    extra("jl_project_sec", "e_jl_project"),
    extra("ccnet_buckets_sec", "t_ccnet_buckets"),
    extra("kneser_ney_sec", "t_kneser_ney"),
    // The clustered WRITE plus the thing it buys: footer-measured fraction
    // of row groups a 1/8-of-domain predicate must read on EACH clustered
    // column (1.0 = no pruning; a linear sort would score ~1.0 on its
    // non-leading column). 32 output files ≈ one row group each at this SF.
    Section("zorder_write", Seq("zorder_write_sec", "zorder_prune_frac_x",
        "zorder_prune_frac_y")) { c =>
      import graft.sources.ZOrderLayout
      val li = Tables.load(c.spark, c.sfDir, "lineitem")
      withTempDir("graft-zorder") { dir =>
        val t = warmTimed(ZOrderLayout.write(li, Seq("l_partkey", "l_suppkey"), dir, numFiles = 32))
        def frac(column: String): Double = {
          // one footer sweep per column: the predicate bounds AND the
          // overlap count come from the same ranges
          val rs = ZOrderLayout.rowGroupRanges(c.spark, dir, column)
          val mn = rs.map(_._1).min
          val hi = mn + (rs.map(_._2).max - mn) / 8
          rs.count { case (a, b) => b >= mn && a <= hi }.toDouble / rs.size
        }
        Seq(t, frac("l_partkey"), frac("l_suppkey"))
      }
    },
    // The ITERATION ENGINE at corpus node scale: 10 exact-integer power
    // iterations over the doc-level near-dup graph, edge frame pre-built
    // and checkpointed OUTSIDE the timer (source_pagerank_sec times the
    // whole registry pipeline instead).
    Section("pagerank", Seq("pagerank_sec")) { c =>
      val pairs = TextQueries.benchJaccardPairs(c.spark, c.sfDir)
      val edges = pairs
        .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        .withColumn("w", lit(1L))
        .localCheckpoint(true)
      val nodes = Tables.load(c.spark, c.sfDir, "documents").select(col("doc_id"))
      Seq(warmTimed(c.noop(
        graft.operators.PageRank.ranks(nodes, "doc_id", edges, "a_id", "b_id", "w", 10))))
    },
    spanDedup("span_dedup", 8),
    spanDedup("span_dedup_exact", 1),
    // SemDeDup cell dedup: median-of-3 + task CPU, because the semdedup
    // twins are the host-episode tell (VERDICT r10 #7) — one wobbly wall
    // draw must not fire it.
    Section("semdedup", Seq("semdedup_sec", "semdedup_cpu_sec")) { c =>
      val (walls, d) = warmMedian3(c)(c.runOnce("e_semdedup"))
      Seq(BenchUtil.median(walls), d.cpuNs / 1e9)
    },
    extra("hardneg_sec", "x_pair_hardneg"),
    // Production operating point (r8): the registry entries pin nCells=16
    // so the oracle replays exactly — a DELIBERATE quadratic curve as the
    // corpus grows. These fields apply the documented sizing rule (nCells ≈
    // corpus / targetCellSize, SemDedup.scala): per-cell pair counts stay
    // constant, the family scales ~linearly.
    Section("semdedup_prod", Seq("semdedup_prod_sec", "semdedup_prod_cpu_sec",
        "hardneg_prod_sec", "semdedup_prod_ncells")) { c =>
      import graft.similarity.SemDedup
      val emb = Tables.load(c.spark, c.sfDir, "embeddings")
      val cells = math.max(16L, emb.count() / 125L).toInt
      val (walls, d) = warmMedian3(c)(c.noop(SemDedup.semDedup(emb, "vec_id", "embedding",
        SemDedup.Config(nCells = cells, threshold = 0.4))))
      val hardneg = warmTimed(c.noop(
        SemDedup.hardNegatives(emb, "vec_id", "embedding", "label", cells)))
      Seq[Any](BenchUtil.median(walls), d.cpuNs / 1e9, hardneg, cells)
    },
    // Persisted-ANN lifecycle: one-time quantizer train + inverted-file
    // write, the search-only latency a STANDING index gives, and the recall
    // estimate the retrain-on-drift trigger acts on. Quality gate, not just
    // latency: "ran fast but returns junk" fails the round (floor matches
    // IvfSpec's random-embedding recall floor: 0.76 sf0.1 / 0.98 sf1).
    Section("ivf_lifecycle", Seq("ivf_build_sec", "ivf_search_sec", "ivf_recall_est",
        "vec_curate_batch_sec"), gate = v => v("ivf_recall_est") >= 0.5) { c =>
      import graft.similarity.{IvfIndex, SimilaritySearch}
      withTempDir("graft-ivf") { dir =>
        val emb = Tables.load(c.spark, c.sfDir, "embeddings")
        val build = time(IvfIndex.build(emb, "vec_id", "embedding", dir))
        val queries = emb.filter(col("vec_id") < 100)
        val search = warmTimed(c.noop(
          IvfIndex.searchIndex(queries, dir, "vec_id", "embedding", 10)))
        val recall = IvfIndex.recallEstimate(c.spark, dir)
        // continuous vector curation (r7): half exact re-crawls of indexed
        // content (dropped by the standing-index match), half novel
        // (negated vectors, cosine −1 to everything indexed — they SURVIVE
        // and exercise the output + index append path)
        val recrawl = emb.filter(col("vec_id") < 250)
          .withColumn("vec_id", col("vec_id") + 20000000L)
        val novel = emb.filter(col("vec_id") >= 250 && col("vec_id") < 500)
          .withColumn("vec_id", col("vec_id") + 30000000L)
          .withColumn("embedding", expr("transform(embedding, x -> -x)").cast("array<float>"))
        val (curate, survivors) = withTempDir("graft-ivf-out") { out =>
          timed(IvfIndex.curateBatch(recrawl.unionByName(novel), dir, out, "vec_id", "embedding",
            SimilaritySearch.LshConfig(dim = 64)))
        }
        require(survivors.nonEmpty,
          "vec curation batch produced no survivors — append path not exercised")
        Seq(build, search, recall, curate)
      }
    },
    // Production-sized ANN operating point (VERDICT r11 #1): √n cells + the
    // MEASURED probe width — calibrateNProbe walks the dial until recall@10
    // clears 0.8. It converges to exact search if nothing cheaper does, so
    // a recall under 0.8 means the instrument itself broke.
    Section("ivf_prod", Seq("ivf_prod_cells", "ivf_prod_nprobe", "ivf_prod_recall",
        "ivf_prod_search_sec", "ivf_prod_calibrate_sec"),
        gate = v => v("ivf_prod_recall") >= 0.8) { c =>
      import graft.similarity.IvfIndex
      withTempDir("graft-ivfprod") { dir =>
        val emb = Tables.load(c.spark, c.sfDir, "embeddings")
        val cfg = IvfIndex.prodConfig(emb.count())
        IvfIndex.build(emb, "vec_id", "embedding", dir, cfg)
        val (calib, (np, recall)) = timed(IvfIndex.calibrateNProbe(c.spark, dir))
        val queries = emb.filter(col("vec_id") < 100)
        val search = warmTimed(c.noop(
          IvfIndex.searchIndex(queries, dir, "vec_id", "embedding", 10, np)))
        Seq[Any](cfg.nCentroids, np, recall, search, calib)
      }
    },
    // Persisted text-dedup (MinHash-LSH) lifecycle: index the corpus once,
    // then the incremental dedupe-new-against-corpus search — the
    // daily-crawl operation (nothing is re-shingled on the corpus side).
    Section("lsh_lifecycle", Seq("lsh_index_build_sec", "lsh_index_search_sec")) { c =>
      import graft.dedup.TextDedupIndex
      withTempDir("graft-lsh") { dir =>
        val docs = Tables.load(c.spark, c.sfDir, "documents").select(col("doc_id"), col("text"))
        val build = time(TextDedupIndex.build(docs, "doc_id", "text", dir))
        val fresh = docs.limit(500)
          .withColumn("doc_id", col("doc_id") + 10000000L)
          .withColumn("text", concat(col("text"), lit(" extra token")))
        Seq(build, warmTimed(c.noop(TextDedupIndex.searchNew(fresh, dir, "doc_id", "text"))))
      }
    },
    // Persisted retrieval-statistics lifecycle (r9): one-time build (the
    // single corpus tokenize), then BM25 against delta-summed df/N/avgdl
    // with zero re-tokenization (bm25_sec pays the full recompute). The
    // deletion lifecycle rides the same index (VERDICT r11 #3): tombstone
    // 10% of the corpus (O(batch)), score THROUGH the tombstones, then the
    // compaction that applies them physically.
    Section("retrieval_lifecycle", Seq("retrieval_index_build_sec", "retrieval_score_sec",
        "retrieval_delete_sec", "retrieval_score_tombstoned_sec",
        "retrieval_compact_delete_sec")) { c =>
      import graft.retrieval.RetrievalIndex
      withTempDir("graft-rindex-bench") { dir =>
        val docs = Tables.load(c.spark, c.sfDir, "documents")
        val build = time(RetrievalIndex.build(docs, "doc_id", "text", dir))
        def score(): Double =
          time(c.noop(RetrievalIndex.scoreBm25(c.spark, dir,
            RetrievalIndex.topTerms(c.spark, dir, 3))))
        val scored = warmTimed(score())
        val del = time(RetrievalIndex.deleteDocs(
          docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")), dir, "doc_id"))
        val tombstoned = score()
        Seq(build, scored, del, tombstoned, time(RetrievalIndex.compact(c.spark, dir)))
      }
    },
    // Sharded-corpus sink (r7): the terminal write of a curation pipeline —
    // placement map + one repartition + in-task sort + atomic swap, with
    // the manifest computed in-job.
    Section("shard_write", Seq("shard_write_sec")) { c =>
      val docs = Tables.load(c.spark, c.sfDir, "documents")
      withTempDir("graft-shardw") { dir =>
        Seq(warmTimed(graft.sources.ShardWriter.write(docs, "doc_id", dir, 16)))
      }
    },
    // Curation lifecycle — the DEPLOYED shape of the LSH index (VERDICT r5
    // #2): one leased curateBatch against a standing index (wall +
    // survivors/s), then a multi-batch curateStream feed with per-micro-
    // batch latency p50/p95 (reference analog: the dedupe job's runtime
    // metrics ride every run, AbstractDeduplication.java:128-160).
    Section("curation", Seq("curate_batch_sec", "curate_survivors_per_sec",
        "curate_stream_batches", "curate_stream_p50_sec", "curate_stream_p95_sec"),
        gate = v => v("curate_stream_batches") > 0) { c =>
      import graft.dedup.TextDedupIndex
      withTempDir("graft-curate") { dir =>
        val docs = Tables.load(c.spark, c.sfDir, "documents").select(col("doc_id"), col("text"))
        val idx = s"$dir/idx"
        // standing corpus: the even half; the curated batch mixes near-dups
        // of indexed docs (must drop) with unindexed docs (mostly survive)
        TextDedupIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
        val dups = docs.filter(col("doc_id") % 2 === 0).limit(250)
          .withColumn("doc_id", col("doc_id") + 20000000L)
          .withColumn("text", concat(col("text"), lit(" extra token")))
        val novel = docs.filter(col("doc_id") % 2 === 1).limit(250)
          .withColumn("doc_id", col("doc_id") + 30000000L)
        val batch = dups.unionByName(novel).localCheckpoint()
        val (cbWall, kept) =
          timed(TextDedupIndex.curateBatch(batch, idx, s"$dir/out", "doc_id", "text"))
        // continuous shape: the full corpus re-identified, fed as 6 files,
        // one micro-batch each against the SAME standing index (each batch
        // dedupes against everything kept so far — the accumulation path)
        val feed = s"$dir/feed"
        docs.withColumn("doc_id", col("doc_id") + 40000000L).repartition(6).write.parquet(feed)
        val ws = ProgressRecorder.during(c.spark) { rec =>
          val input = c.spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(feed)
          val q = TextDedupIndex.curateStream(input, idx, s"$dir/out2", s"$dir/ckpt",
            "doc_id", "text", trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
          q.awaitTermination(300000)
          if (q.isActive) q.stop()
          rec.batchSecs
        }
        Seq(cbWall, Fmt(if (cbWall > 0) kept.length / cbWall else -1.0, "%.1f"),
          ws.size, BenchUtil.median(ws), BenchUtil.p95(ws))
      }
    },
    // Recall-vs-cost OPERATING CURVE at production sizing (VERDICT r11 #1):
    // one √n-cell build, then the nProbe dial swept — recall@10, search
    // wall and scanned fraction per point (recorded per-SF in SCALING.md).
    // For plain IVF the in-cell scores are exact cosines, so nProbe IS the
    // recall dial.
    Section("ivfcurve", Seq("ivf_curve_n", "ivf_curve_cells", "ivf_curve"),
        onDemand = true) { c =>
      import graft.similarity.IvfIndex
      withTempDir("graft-ivfc") { dir =>
        val emb = Tables.load(c.spark, c.sfDir, "embeddings")
        val n = emb.count()
        val cells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
        IvfIndex.build(emb, "vec_id", "embedding", dir,
          IvfIndex.Config(nCentroids = cells, sampleSize = math.max(800, 8 * cells)))
        val queries = emb.filter(col("vec_id") < 100)
        def search(np: Int): Double =
          time(c.noop(IvfIndex.searchIndex(queries, dir, "vec_id", "embedding", 10, np)))
        search(8) // warm: listing + codegen
        val curve = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256).filter(_ <= cells).map { np =>
          val s = search(np)
          VectorMap("nprobe" -> np,
            "recall_at_10" -> IvfIndex.recallEstimate(c.spark, dir, 10, 64, np),
            "search_sec" -> s, "scan_frac" -> Fmt(np.toDouble / cells, "%.4f"))
        }
        Seq(n, cells, curve)
      }
    },
    // Append-path cost: build on the even doc ids, then ONE appendDocs of
    // the odd half.
    Section("retrievalappend", Seq("retrieval_append_sec"), onDemand = true) { c =>
      import graft.retrieval.RetrievalIndex
      withTempDir("graft-rapp") { dir =>
        val docs = Tables.load(c.spark, c.sfDir, "documents")
        RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
        Seq(time(RetrievalIndex.appendDocs(
          docs.filter(col("doc_id") % 2 =!= 0), dir, "doc_id", "text")))
      }
    }
  ) ++ Registry.headline.map(q => querySection(q.name))

  /** Host and JVM state, read after everything else ran. */
  private val env = Section("env", Seq("load_avg_start", "load_avg_end",
      "code_cache_used_mb", "code_cache_max_mb", "jit_compile_ms", "cores", "heap_max_gb")) { c =>
    val (ccUsed, ccMax) = codeCacheMb
    Seq(Fmt(c.loadStart, "%.1f"), Fmt(loadAvg, "%.1f"), Fmt(ccUsed, "%.0f"), Fmt(ccMax, "%.0f"),
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      c.spark.sparkContext.defaultParallelism, Fmt(Runtime.getRuntime.maxMemory / 1e9, "%.1f"))
  }

  /** The full run table, in run order. */
  val sections: Seq[Section] = work :+ env

  /** Fields the runner itself writes: header and failure accounting. */
  val RecordFields: Seq[String] = Seq("metric", "unit", "sf",
    "failed_queries", "failed_sections", "failed_count", "total", "value")

  /** Record field order. A capture may keep only the TAIL of the bench
    * output, so the large per-run diagnostics go FIRST and the adjudication
    * fields (per-query medians and CPU, pipeline rates, failure accounting,
    * total) LAST, where a truncated capture still holds them. `prefix.*`
    * places every recorded field under that prefix, in run order. */
  val Layout: Seq[String] = Seq("metric", "unit", "sf") ++
    QueryFields.take(5).map(_ + ".*") ++ Seq(
    "load_avg_start", "load_avg_end", "code_cache_used_mb", "code_cache_max_mb",
    "jit_compile_ms", "cores", "heap_max_gb",
    "ingest_rows", "ingest_cpu_sec", "dedupe_cpu_sec", "dedupe_duplicates_removed",
    "cc_clusters_sec", "cc_clusters_reliable_sec",
    "retrieval_index_build_sec", "retrieval_score_sec", "retrieval_delete_sec",
    "retrieval_score_tombstoned_sec", "retrieval_compact_delete_sec",
    "passage_dedup_sec", "shard_shuffle_sec", "mix_sample_sec", "best_of_cluster_sec",
    "trigram_lm_sec", "tfidf_sec", "bm25_sec", "text_knn_sec", "corpus_diff_sec",
    "dsir_sec", "quality_lr_train_sec", "fuzzy_link_sec", "cc_incremental_sec",
    "source_pagerank_sec", "pagerank_sec", "cms_heavy_hitters_sec", "top_pc_sec",
    "kmeans_sec", "kmeans_prod_sec", "semdedup_km_sec", "curation_pipeline_sec",
    "ivfpq_sec", "bpe_encode_sec", "fuzzy_decon_sec", "hashing_tf_sec",
    "quantile_hist_sec", "quality_ensemble_sec", "rollup_incremental_sec",
    "mmr_sec", "matryoshka_sec", "source_overlap_sec", "eval_metrics_sec",
    "zorder_key_sec", "label_prop_sec", "data_card_sec", "prf_rm3_sec",
    "triangle_count_sec", "jl_project_sec", "ccnet_buckets_sec", "kneser_ney_sec",
    "zorder_write_sec", "zorder_prune_frac_x", "zorder_prune_frac_y",
    "span_dedup_sec", "span_dedup_exact_sec", "semdedup_sec", "semdedup_cpu_sec",
    "hardneg_sec", "semdedup_prod_sec", "semdedup_prod_cpu_sec", "hardneg_prod_sec",
    "semdedup_prod_ncells", "ivf_build_sec", "ivf_search_sec",
    "lsh_index_build_sec", "lsh_index_search_sec", "shard_write_sec", "ivf_recall_est",
    "ivf_prod_cells", "ivf_prod_nprobe", "ivf_prod_recall", "ivf_prod_search_sec",
    "ivf_prod_calibrate_sec", "vec_curate_batch_sec",
    "curate_batch_sec", "curate_survivors_per_sec", "curate_stream_batches",
    "curate_stream_p50_sec", "curate_stream_p95_sec",
    "ivf_curve_n", "ivf_curve_cells", "ivf_curve", "retrieval_append_sec",
    "skew_ingest_rows_per_sec", "skew_dedupe_sec", "skew_dupes_removed",
    "skew_ingest_slowdown", "skew_dedupe_slowdown",
    "skew_join_q3_sec", "skew_join_q3_slowdown", "skew_join_wrank_sec",
    "skew_join_wrank_slowdown",
    "streaming.*", "query_cpu_sec_3runs.*", "queries.*",
    "ingest_rows_per_sec", "dedupe_incremental_sec", "dedupe_windowed_sec",
    "failed_queries", "failed_sections", "failed_count", "total", "value")

  /** The final stdout line: the adjudication fields only, sized for a
    * ~2 KB stdout tail window (the full record outgrew it by round 12). */
  val CompactLayout: Seq[String] = Seq("metric", "unit", "sf", "cores", "queries.*",
    "failed_queries", "failed_count", "total", "value")

  private def places(entry: String, field: String): Boolean =
    entry == field || (entry.endsWith(".*") && field.startsWith(entry.dropRight(1)))

  /** Everything that would make the record ambiguous: a section name that
    * repeats or shadows a registry query (`--only` could not tell them
    * apart), a field declared twice or by the runner too, a field the
    * layout places zero or several times, a layout field nobody declares. */
  def tableErrors(table: Seq[Section], layout: Seq[String]): Seq[String] = {
    val names = table.filterNot(_.isQuery).map(_.name)
    val declared = table.flatMap(_.fields) ++ RecordFields
    names.diff(names.distinct).map(n => s"section $n repeats") ++
      names.filter(Registry.byName.contains).map(n => s"section $n shadows a registry query") ++
      declared.diff(declared.distinct).map(f => s"field $f declared twice") ++
      declared.collect { case f if layout.count(places(_, f)) != 1 =>
        s"field $f placed ${layout.count(places(_, f))} times" } ++
      layout.filterNot(e => e.endsWith(".*") || declared.contains(e))
        .map(e => s"layout field $e undeclared")
  }

  /** Run each section once, in order. A section that throws gets -1 for
    * every declared field; one that throws or fails its gate is named in
    * the outcome (queries apart from sections). */
  def execute(table: Seq[Section], c: Ctx): Outcome = {
    val failed = Seq.newBuilder[Section]
    table.foreach { s =>
      val ok = try {
        val vs = s.run(c)
        require(vs.size == s.fields.size, s"${vs.size} values for ${s.fields.size} fields")
        c.values ++= s.fields.zip(vs)
        s.gate(c.num) || {
          System.err.println(s"[bench] GATE FAILED: ${s.name} — " +
            s.fields.map(f => s"$f=${json(c.values(f))}").mkString(" "))
          false
        }
      } catch { case e: Throwable =>
        // a swallowed failure would LOWER the reported total: pair the -1
        // sentinel with a stack trace, a named failure and a nonzero exit
        System.err.println(s"[bench] SECTION FAILED: ${s.name} — $e")
        e.printStackTrace()
        c.values ++= s.fields.map(_ -> -1)
        false
      }
      if (!ok) failed += s
    }
    val (q, other) = failed.result().partition(_.isQuery)
    Outcome(VectorMap.from(c.values), q.map(_.name), other.map(_.name))
  }

  /** The outcome as one JSON object, fields in `layout` order (absent ones
    * skipped); dotted names become one nested object per prefix. */
  def render(layout: Seq[String], o: Outcome, sfDir: String): String = {
    val vals = o.values ++ Seq("metric" -> "total", "unit" -> "sec", "sf" -> sfDir,
      "failed_queries" -> o.failedQueries, "failed_sections" -> o.failedSections,
      "failed_count" -> o.failedCount, "total" -> raw(o.total), "value" -> raw(o.total))
    val ordered = layout.flatMap { e =>
      if (e.endsWith(".*")) vals.filter { case (k, _) => places(e, k) } else vals.get(e).map(e -> _)
    }
    json(ordered.foldLeft(VectorMap.empty[String, Any]) { case (m, (k, v)) =>
      k.split("\\.", 2) match {
        case Array(outer, inner) => m.updated(outer,
          m.getOrElse(outer, VectorMap.empty[String, Any]).asInstanceOf[VectorMap[String, Any]]
            .updated(inner, v))
        case _ => m.updated(k, v)
      }
    })
  }

  private def json(v: Any): String = v match {
    case Fmt(d, p) => if (d.isNaN || d.isInfinite) "-1" else p.formatLocal(Locale.ROOT, d)
    case d: Double => json(Fmt(d, "%.3f"))
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  /** The sections one run executes: every default section, or exactly the
    * `--only` names (section names, or registry queries timed like the
    * headline set), always followed by `env`. */
  private def select(only: Option[Seq[String]]): Seq[Section] = only match {
    case None => sections.filterNot(_.onDemand)
    case Some(names) =>
      val known = work.map(_.name).toSet
      val unknown = names.filterNot(n => known(n) || n == env.name || Registry.byName.contains(n))
      require(unknown.isEmpty, s"--only: unknown ${unknown.mkString(", ")}; sections are " +
        sections.filterNot(_.isQuery).map(_.name).mkString(", ") + ", or any registry query")
      work.filter(s => names.contains(s.name)) ++
        names.filterNot(n => known(n) || n == env.name).map(querySection) :+ env
  }
}
