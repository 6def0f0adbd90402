package graft.retrieval

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftTestSpark, Tables}

/** Persisted retrieval-statistics lifecycle: incrementally built stats
  * (build → appendDocs × n → compact) must be INDISTINGUISHABLE from a
  * full recompute — tfidf and bm25 scores byte-for-byte — and a torn
  * (uncommitted) append must be invisible to every reader. The index is a
  * LAYOUT of the transient t_tfidf/t_bm25 math, never a different
  * answer (the registry twins replay the transient oracles over it).
  */
class RetrievalIndexSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private lazy val corpus = Tables.load(spark, GraftTestSpark.sfDir, "documents")
    .select(col("doc_id"), col("text")).cache()

  private def tfidfRows(dir: String) =
    RetrievalIndex.tfidf(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet

  private def bm25Rows(dir: String, cap: Long = 2000000L) =
    RetrievalIndex.scoreBm25(spark, dir,
        RetrievalIndex.topTerms(spark, dir, 3), maxBroadcastTerms = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def buildIncremental(): String = {
    val dir = GraftTestSpark.tmpDir("rindex-inc")
    RetrievalIndex.build(corpus.filter(col("doc_id") % 3 === 0), "doc_id", "text", dir)
    RetrievalIndex.appendDocs(corpus.filter(col("doc_id") % 3 === 1), dir, "doc_id", "text")
    RetrievalIndex.appendDocs(corpus.filter(col("doc_id") % 3 === 2), dir, "doc_id", "text")
    dir
  }

  test("incremental build ≡ full recompute, byte-for-byte (tfidf + bm25)") {
    val full = GraftTestSpark.tmpDir("rindex-full")
    RetrievalIndex.build(corpus, "doc_id", "text", full)
    val inc = buildIncremental()
    assert(tfidfRows(full).nonEmpty)
    assert(tfidfRows(inc) === tfidfRows(full))
    assert(bm25Rows(inc) === bm25Rows(full))
    // and both equal the TRANSIENT registry operators over the same corpus
    val transientTfidf = graft.queries.Registry.byName("t_tfidf")
      .build(spark, GraftTestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(tfidfRows(inc) === transientTfidf)
    val transientBm25 = graft.queries.Registry.byName("t_bm25")
      .build(spark, GraftTestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bm25Rows(inc) === transientBm25)
  }

  test("a torn append (no commit marker) is invisible, and compaction reclaims it") {
    val dir = buildIncremental()
    val before = (tfidfRows(dir), bm25Rows(dir))
    // simulate a crash mid-append: tf rows land, commit marker never does
    corpus.limit(7)
      .select(col("doc_id").cast("long").as("doc_id"),
        lit("torn").as("term"), lit(1L).as("tf"))
      .write.mode("append").parquet(s"$dir/tf/batch=torn-orphan")
    assert((tfidfRows(dir), bm25Rows(dir)) === before,
      "uncommitted partition must not be readable")
    assert(!tfidfRows(dir).exists(_._2 == "torn"))
    RetrievalIndex.compact(spark, dir)
    assert((tfidfRows(dir), bm25Rows(dir)) === before,
      "compaction must preserve the committed view")
    val orphan = new java.io.File(s"$dir/tf/batch=torn-orphan")
    assert(!orphan.exists, "compaction must reclaim orphan partitions")
  }

  test("compaction collapses to one committed batch with identical results") {
    val dir = buildIncremental()
    val before = (tfidfRows(dir), bm25Rows(dir))
    RetrievalIndex.compact(spark, dir)
    assert((tfidfRows(dir), bm25Rows(dir)) === before)
    // one surviving batch partition per subtable, one commit marker
    def batches(sub: String) =
      Option(new java.io.File(s"$dir/$sub").listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).length
    Seq("tf", "dlen", "df", "stats").foreach(s =>
      assert(batches(s) === 1, s"$s should hold exactly one batch after compact"))
    val commits = new java.io.File(s"$dir/commits").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).length
    assert(commits === 1)
  }

  test("threshold compaction fires on its own under many appends") {
    val dir = GraftTestSpark.tmpDir("rindex-auto")
    val slice = corpus.limit(40).cache()
    RetrievalIndex.build(slice.filter(col("doc_id") % 10 === 0), "doc_id", "text", dir)
    (1 to 9).foreach(i => RetrievalIndex.appendDocs(
      slice.filter(col("doc_id") % 10 === i), dir, "doc_id", "text"))
    // 10 appends crossed the threshold at least once: commit set stays bounded
    val commits = new java.io.File(s"$dir/commits").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).length
    assert(commits <= 9, s"commit set must stay bounded by compaction, got $commits")
    // and the collapsed stats still match a fresh full build over the slice
    val full = GraftTestSpark.tmpDir("rindex-auto-full")
    RetrievalIndex.build(slice, "doc_id", "text", full)
    assert(tfidfRows(dir) === tfidfRows(full))
    slice.unpersist()
  }

  test("guarded broadcast: the shuffle fallback scores identically") {
    val dir = buildIncremental()
    assert(bm25Rows(dir, cap = 0L) === bm25Rows(dir),
      "forced shuffle-hash path must match the broadcast path")
  }

  test("searchBm25: per-query top-k equals scoreBm25 run per query") {
    import spark.implicits._
    val dir = buildIncremental()
    val k = 5
    // two queries with distinct term sets: the corpus's top-3 terms, and
    // terms ranked 4-6 (deterministic, non-empty at every sf)
    val top6 = RetrievalIndex.topTerms(spark, dir, 6).as[String].collect().toSeq
    val queries = (top6.take(3).map(t => (1L, t)) ++
      top6.drop(3).map(t => (2L, t))).toDF("query_id", "term")
    val got = RetrievalIndex.searchBm25(spark, dir, queries, k)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).toSeq).toMap
    assert(got.keySet === Set(1L, 2L))
    Seq(1L -> top6.take(3), 2L -> top6.drop(3)).foreach { case (qid, terms) =>
      val expected = RetrievalIndex.scoreBm25(spark, dir, terms.toDF("term"))
        .select(col("doc_id"), col("bm25"))
        .as[(Long, Double)].collect().toSeq
        .sortBy { case (id, s) => (-s, id) }.take(k)
        .zipWithIndex.map { case ((id, s), i) => (qid, id, s, (i + 1).toLong) }
      assert(got(qid) === expected,
        s"query $qid: searchBm25 must equal per-query scoreBm25 top-$k")
    }
    // shuffle fallback identical
    val forced = RetrievalIndex.searchBm25(spark, dir, queries, k,
        maxBroadcastTerms = 0L)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(forced === got.values.flatten.toSet)
  }

  test("compaction tf plan: one hash exchange on term + in-partition sort, never a global sort") {
    // The term re-cluster is the ONLY postings-sized job compaction runs;
    // its plan must stay hash-exchange + sortWithinPartitions (global =
    // false). A range partitioning / global Sort here is the superlinear-
    // compaction regression class (VERDICT r10 #3), and a second exchange
    // means the frame stopped satisfying its distribution from one pass.
    val dir = buildIncremental()
    val p = RetrievalIndex.compactionTfFrame(spark, dir,
      RetrievalIndex.committedBatches(spark, dir))
      .queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("ReusedExchange"))
    assert(exchanges == 1, s"compaction tf must pay exactly one exchange:\n$p")
    assert(p.contains("hashpartitioning(term"),
      s"compaction exchange must hash on term:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"compaction must never range-partition (global sort):\n$p")
    val sortLines = p.linesIterator.filter(_.trim.startsWith("+- Sort")).toSeq ++
      p.linesIterator.filter(_.trim.startsWith("Sort")).toSeq
    assert(sortLines.forall(_.contains("false")),
      s"compaction sort must be in-partition (global=false):\n$p")
  }

  test("deleteDocs hides docs immediately; compaction re-derives statistics to a fresh-build image") {
    val dir = GraftTestSpark.tmpDir("rindex-del")
    RetrievalIndex.build(corpus, "doc_id", "text", dir)
    val doomed = corpus.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
    RetrievalIndex.deleteDocs(doomed, dir, "doc_id")
    // immediate: no deleted id in any result surface (stats still stale)
    val deletedIds = doomed.collect().map(_.getLong(0)).toSet
    assert(bm25Rows(dir).forall { case (id, _, _) => !deletedIds(id) },
      "bm25 must not return tombstoned docs")
    assert(tfidfRows(dir).forall { case (id, _, _, _, _) => !deletedIds(id) },
      "tfidf must not return tombstoned docs")
    // compaction: physically removed + statistics converge — byte-identical
    // to an index freshly built on the surviving corpus
    RetrievalIndex.compact(spark, dir)
    val fresh = GraftTestSpark.tmpDir("rindex-del-fresh")
    RetrievalIndex.build(corpus.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", fresh)
    assert(tfidfRows(dir) === tfidfRows(fresh),
      "post-compaction tfidf must equal a fresh build without the deleted docs")
    assert(bm25Rows(dir) === bm25Rows(fresh),
      "post-compaction bm25 must equal a fresh build without the deleted docs")
    // tombstones are reclaimed — the anti-join path is gone again
    assert(!new java.io.File(s"$dir/tomb").exists() ||
      new java.io.File(s"$dir/tomb").listFiles().count(_.getName.startsWith("batch=")) == 0,
      "compaction must reclaim applied tombstone partitions")
  }

  test("a torn delete (no commit marker) is invisible to every reader") {
    val dir = buildIncremental()
    val before = (tfidfRows(dir), bm25Rows(dir))
    // tombstone partition lands WITHOUT its marker — a crash between the
    // parquet write and the commit create
    import spark.implicits._
    corpus.select(col("doc_id")).limit(5)
      .write.mode("append").parquet(s"$dir/tomb/batch=torn-${java.util.UUID.randomUUID()}")
    assert((tfidfRows(dir), bm25Rows(dir)) === before,
      "an uncommitted tombstone batch must not change any result")
  }

  test("an empty append is a no-op for every score") {
    val dir = buildIncremental()
    val before = (tfidfRows(dir), bm25Rows(dir))
    RetrievalIndex.appendDocs(corpus.filter(lit(false)), dir, "doc_id", "text")
    assert((tfidfRows(dir), bm25Rows(dir)) === before)
  }

  test("an index whose stamp differs, is missing or is an old meta dir fails loudly") {
    import spark.implicits._
    val dir = GraftTestSpark.tmpDir("rindex-stamp")
    val docs = corpus.filter(col("doc_id") % 7 === 0)
    RetrievalIndex.build(docs, "doc_id", "text", dir)
    assert(tfidfRows(dir).nonEmpty)
    val (f, meta) = graft.util.Fs(spark, s"$dir/meta")
    def assertRefused(): Unit = {
      val e1 = intercept[IllegalArgumentException](
        RetrievalIndex.appendDocs(docs, dir, "doc_id", "text"))
      val e2 = intercept[IllegalArgumentException](RetrievalIndex.tfidf(spark, dir))
      Seq(e1, e2).foreach(e =>
        assert(e.getMessage.contains("unknown tokenizer/version"), e.getMessage))
    }
    graft.util.Fs.writeText(f, meta, "tokenizer=ws-lower version=2")
    assertRefused()
    f.delete(meta, false)
    assertRefused()
    Seq(("ws-lower", 1)).toDF("tokenizer", "version").write.parquet(meta.toString)
    assertRefused()
  }
}
