package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

/** Loader for the driver-generated test tables (TESTDATA.md): one parquet per
  * table under a scale-factor directory. Column pruning + predicate pushdown
  * reach the parquet scan through the plain `spark.read.parquet` path, so this
  * is already the 100 TB-shaped access path (swap the dir for a warehouse
  * root; nothing else changes).
  *
  * Every scan routes through [[graft.sources.SchemaEvolution.normalize]]:
  * physical-schema drift (the events.ts TIMESTAMP(NANOS) → TIMESTAMP(MICROS,
  * NTZ) regeneration that broke round 6 is the canonical example) is either
  * losslessly widened to the canonical logical schema or rejected with one
  * loud, named error at the scan — never a silent value change. The engine's
  * event-time discipline is the reference's: `ts` stays a raw nanosecond
  * long (TransactionJsonToTableRow.java:57-58 keeps consensusTimestamp as
  * the raw long) and every coarser view is an explicit floor derivation, so
  * the DuckDB oracle image (`epoch_us(ts)` = `ts div 1000`) is
  * schema-independent.
  *
  * == Layout-adaptive scan spread (r12) ==
  *
  * A parquet scan parallelizes at ROW-GROUP granularity: a table stored as
  * one file with one row group executes on ONE task no matter how many
  * cores the cluster has, and everything Spark pipelines into that scan —
  * pushed filters, JSON parsing, tokenization, the partial phase of every
  * aggregate — runs single-threaded (measured r12: q1_pricing wall ≈ its
  * summed task CPU on local[32]). That is the "one huge unsplittable file"
  * input-skew case of the optimization playbook, and the prescribed fix is
  * to repartition immediately after the read.
  *
  * [[loadSpread]] applies that fix where a CALLER knows the downstream
  * burns real CPU per row (q1's nine-aggregate decimal suite): it probes
  * the table's physical layout (file list + parquet footer row-group
  * counts, cached per (path, len, mtime)) and, iff the layout is
  * degenerate — fewer row groups than `defaultParallelism` — injects ONE
  * deterministic hash repartition on the table's unique key
  * (`xxhash64(key…)`, never round-robin: a deterministic row→partition map
  * is retry/speculation-safe and needs no sort-before-repartition pass).
  * At production layouts (many files / row groups ≥ cores — every real
  * 100 TB table, and the engine's own GenScale corpora) the guard
  * short-circuits and the plan is byte-identical to the plain scan, so
  * this is scale-adaptive, not a local-mode constant.
  *
  * It is deliberately NOT applied inside [[load]]: measured r12, the
  * exchange costs more than the parallelism wins wherever the pipelined
  * work is a cheap map or the query immediately re-exchanges anyway
  * (windows, broadcast-dimension builds, small corpora) — see
  * OPTIMIZATION_r12.md for the per-query A/B table. `spark.graft.scan.
  * spread=off` is the global ablation/kill switch. The spread exchange is
  * recognizable in plans as `hashpartitioning(xxhash64(...))` — plan-shape
  * pins that count organic exchanges exclude it by that marker.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Deterministic spread key per table (the natural unique key, so the
    * repartition hash spreads evenly and is stable under task retry). */
  private val spreadKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Per-file row-group counts, keyed by (path, len, mtime) — footer reads
    * are ~ms but every query build re-loads its tables. */
  private val rowGroupCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Data files under `path` (a bare file or a directory tree), skipping
    * hidden/marker entries. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
    if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(dataFiles(fs, _))
    else {
      val n = st.getPath.getName
      if (st.getLen > 0 && !graft.util.Fs.hidden(n)) Seq(st) else Nil
    }

  /** (totalBytes, rowGroups-or-parallelism): probing short-circuits as soon
    * as the layout is provably non-degenerate (file count or accumulated
    * row groups reach `parallelism`), so healthy multi-file layouts never
    * pay a footer read. */
  private def layout(spark: SparkSession, path: String,
      parallelism: Int): (Long, Int) = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val files = dataFiles(fs, fs.getFileStatus(p))
    val bytes = files.map(_.getLen).sum
    // Only substantive files count toward the "healthy multi-file layout"
    // short-circuit: a parquet file with zero rows still carries magic +
    // footer (~hundreds of bytes), so a skewed layout of N−1 empty shards
    // around one big single-row-group file must fall through to the footer
    // probe, not read as already-parallel (ADVICE r12). 4 KiB comfortably
    // clears bare footers while any shard with real data exceeds it.
    if (files.count(_.getLen > 4096L) >= parallelism) (bytes, parallelism)
    else {
      var rgs = 0
      val it = files.iterator
      while (it.hasNext && rgs < parallelism) {
        val f = it.next()
        val key = s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
        rgs += rowGroupCache.computeIfAbsent(key, _ => {
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, hconf))
          try Integer.valueOf(rd.getRowGroups.size) finally rd.close()
        })
      }
      (bytes, rgs)
    }
  }

  /** Inject the spread repartition iff the layout is degenerate (see class
    * doc). Any probe failure degrades to the plain scan, never an error. */
  private def spread(spark: SparkSession, path: String, name: String,
      df: DataFrame): DataFrame =
    spreadKeys.get(name) match {
      case Some(keys) if spark.conf.get("spark.graft.scan.spread", "auto") != "off" =>
        try {
          val par = spark.sparkContext.defaultParallelism
          val (_, rgs) = layout(spark, path, par)
          if (rgs < par) df.repartition(par, xxhash64(keys.map(col): _*))
          else df
        } catch { case scala.util.control.NonFatal(_) => df }
      case _ => df
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    graft.sources.SchemaEvolution.normalize(name, spark.read.parquet(path))
  }

  /** [[load]] + the layout-adaptive spread (see class doc). Call sites are
    * the queries whose per-row pipelined work is expensive enough to
    * amortize one extra pass over the rows when the layout is degenerate. */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    spread(spark, s"$dir/$name.parquet", name, load(spark, dir, name))
}
