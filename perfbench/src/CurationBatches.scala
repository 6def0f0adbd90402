package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.TextDedupIndex
import graft.operators.CurationPipeline

/** `curation_batches`: a closed loop with one client. Setup builds a
  * `TextDedupIndex` over a seeded base corpus; the timed region curates a
  * fixed sequence of arriving batches, each through `CurationPipeline.audit`
  * and then `TextDedupIndex.curateBatch` on the docs the audit kept. */
object CurationBatches {
  val BaseDocs = 1500
  val Batches = 4
  val BatchDocs = 150
  val SetupReps = 2
  private val cfg = CurationPipeline.Config()

  final case class Sample(docs: Int, wallS: Double, auditMs: Double, curateMs: Double,
      gcMs: Long, survivors: Array[Long], materializedBytes: Long)

  private def frame(spark: SparkSession, docs: Array[DocGen.Doc]): DataFrame = {
    import spark.implicits._
    docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  /** Base corpus and batches to parquet, then the index over the base. */
  private def build(ctx: Ctx, corpus: DocGen.Corpus, dir: String): Unit = {
    val spark = ctx.spark
    frame(spark, corpus.base).write.parquet(s"$dir/base")
    corpus.batches.zipWithIndex.foreach { case (b, i) =>
      frame(spark, b.docs).coalesce(1).write.parquet(s"$dir/batch-$i")
    }
    TextDedupIndex.build(spark.read.parquet(s"$dir/base"), "doc_id", "text", s"$dir/index",
      cfg.minhash)
  }

  /** The curation layers' per-layer metrics and checks, for the traced run
    * of another workload: no untraced pass, so no overhead ratio. */
  def traceInto(ctx: Ctx, into: Outcome): Unit = {
    val cur = run(ctx, untracedPass = false)
    into.perLayer ++= cur.perLayer.filter { case (k, _) =>
      k.startsWith("curation.") || k.startsWith("operators.curation.") || k.startsWith("dedup.index.")
    }
    cur.checks.foreach { case (k, ok) => into.checks(s"curation: $k") = ok }
    into.ops += cur.ops
    into.failedOps += cur.failedOps
    into.info("curation") = cur.info
  }

  def run(ctx: Ctx, untracedPass: Boolean = true): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    // Warm-up first: one batch of another seed against an index of its own
    // pays the cold build, audit and curate paths.
    val warmS = Stats.timeS {
      val wu = ctx.dir("warmup")
      build(ctx, DocGen.generate(ctx.seed ^ 0x5DEECE66DL, 400, 1, BatchDocs), wu)
      curate(ctx, wu, 0, s"$wu/out")
      Stats.deleteTree(wu)
    }._2
    var corpus: DocGen.Corpus = null
    var dir = ""
    val buildS = (1 to SetupReps).map { i =>
      if (dir.nonEmpty) Stats.deleteTree(dir)
      dir = ctx.dir(s"cur-$i")
      Stats.timeS {
        corpus = DocGen.generate(ctx.seed, BaseDocs, Batches, BatchDocs)
        build(ctx, corpus, dir)
      }._2
    }
    val gcS = Stats.timeS(System.gc())._2
    val setupS = ctx.sessionReadyS + Stats.median(buildS) + warmS + gcS

    def pass(d: String): Seq[Sample] = (0 until Batches).map(i => curate(ctx, d, i, s"$d/out"))
    val samples =
      if (!ctx.trace) pass(dir)
      else if (!untracedPass) {
        val t = ctx.tracer.get
        t.install()
        try pass(dir) finally t.uninstall()
      } else {
        // a second, untraced pass over a fresh copy of the index gives the
        // tracing overhead
        val fresh = ctx.dir("cur-untraced")
        build(ctx, corpus, fresh)
        val untraced = pass(fresh)
        Stats.deleteTree(fresh)
        val t = ctx.tracer.get
        t.install()
        val traced = try pass(dir) finally t.uninstall()
        out.perLayer("trace.overhead_ratio") = traced.map(_.wallS).sum / untraced.map(_.wallS).sum
        traced
      }
    val heapMb = Stats.heapMb()
    verify(ctx, corpus, dir, samples, out)
    out.ops += samples.size

    val walls = samples.map(_.wallS)
    // per-doc latency: every doc of a batch waits for its batch
    val perDoc = samples.flatMap(s => Seq.fill(s.docs)(s.wallS))
    out.endToEnd ++= Seq(
      "setup_s" -> setupS,
      "latency_s" -> Stats.median(walls),
      "latency_p90_s" -> Stats.quantile(perDoc, 0.9),
      "throughput_per_s" -> samples.map(_.docs).sum / walls.sum,
      "dedupe_s" -> Stats.median(samples.map(_.curateMs / 1e3)),
      "heap_mb" -> heapMb)
    out.info ++= Seq(
      "batches" -> Batches, "batch_docs" -> BatchDocs, "base_docs" -> BaseDocs,
      "batch_s" -> walls, "survivors" -> samples.map(_.survivors.length),
      "setup_build_s" -> buildS, "setup_warmup_s" -> warmS)
    if (ctx.trace) {
      val t = ctx.tracer.get
      t.settle()
      val L = out.perLayer
      val n = samples.size.toDouble
      val st = t.stats("curation")
      L("operators.curation.audit_ms") = Stats.median(samples.map(_.auditMs))
      L("dedup.index.curate_ms") = Stats.median(samples.map(_.curateMs))
      L("curation.other_ms") = Stats.median(samples.map(s => s.wallS * 1e3 - s.auditMs - s.curateMs))
      L("curation.jobs") = st.jobs.get / n
      L("curation.stages") = st.stages.get / n
      L("curation.shuffle_mb") = st.shuffleBytes.get / n / 1048576
      L("curation.cpu_s") = st.cpuNs.get / n / 1e9
      L("curation.materialized_mb") = samples.map(_.materializedBytes).sum / n / 1048576
      L("dedup.index.files") = indexFiles(s"$dir/index")
      L("dedup.index.survivor_ratio") = samples.map(_.survivors.length).sum.toDouble / samples.map(_.docs).sum
      L("jvm.gc_ms") = samples.map(_.gcMs).sum / n
    }
    out
  }

  /** One batch: audit, then curate the docs the audit kept. */
  private def curate(ctx: Ctx, dir: String, i: Int, outDir: String): Sample = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    Span(spark, "curation") {
      tracer.foreach(_.blockSpan = "curation")
      val m0 = tracer.map(_.stats("curation").materializedBytes.get).getOrElse(0L)
      val g0 = Tracer.gcMs()
      val t0 = System.nanoTime()
      val batch = spark.read.parquet(s"$dir/batch-$i")
      val kept = CurationPipeline.audit(batch, "doc_id", "text", cfg)
        .filter(col("verdict") === "kept").select(col("doc_id")).collect().map(_.getLong(0))
      val t1 = System.nanoTime()
      val keptDocs = batch.filter(col("doc_id").isin(kept.toSeq: _*))
      val survivors = TextDedupIndex.curateBatch(keptDocs, s"$dir/index", outDir, "doc_id", "text",
        cfg.minhash)
      val t2 = System.nanoTime()
      tracer.foreach(_.blockSpan = "none")
      val docs = spark.read.parquet(s"$dir/batch-$i").count().toInt
      Sample(docs, (t2 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6, Tracer.gcMs() - g0,
        survivors, tracer.map(_.stats("curation").materializedBytes.get).getOrElse(0L) - m0)
    }
  }

  private def indexFiles(index: String): Double = {
    def count(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(count).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    count(new java.io.File(index)).toDouble
  }

  private def verify(ctx: Ctx, corpus: DocGen.Corpus, dir: String, samples: Seq[Sample],
      out: Outcome): Unit = {
    val spark = ctx.spark
    val all = samples.flatMap(_.survivors)
    val subset = samples.zip(corpus.batches).forall { case (s, b) =>
      val ids = b.docs.map(_.id).toSet
      s.survivors.forall(ids.contains)
    }
    out.check("survivors are a subset of their batch", subset)
    val emitted = spark.read.parquet(s"$dir/out").select(col("doc_id")).collect().map(_.getLong(0))
    out.check("no id is emitted twice", all.distinct.size == all.size &&
      emitted.distinct.length == emitted.length && emitted.toSet == all.toSet)
    val indexed = spark.read.parquet(s"$dir/index/sets").count()
    out.check("index doc count = base + survivors", indexed == corpus.base.length + all.size,
      s"$indexed vs ${corpus.base.length} + ${all.size}")
    // Exact Jaccard verification keeps every unrelated doc; LSH banding may
    // miss a planted near-duplicate, which then survives. Misses are
    // reported, not failed: recall is the approximate part of the operator.
    val fresh = samples.zip(corpus.batches).forall { case (s, b) => b.expected.subsetOf(s.survivors.toSet) }
    out.check("every unduplicated doc survives", fresh)
    val planted = corpus.batches.map(b => b.docs.length - b.expected.size).sum
    val missed = samples.zip(corpus.batches).map { case (s, b) => (s.survivors.toSet -- b.expected).size }.sum
    out.info("planted_duplicates") = planted
    out.info("planted_duplicates_missed") = missed
  }
}
