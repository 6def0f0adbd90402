package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.portableHash60
import graft.util.{FileLease, Fs, SwapDir}

/** The training-corpus terminal sink: write a dataset as N deterministically
  * shuffled shards — the materialized form of the t_shard_shuffle operator.
  *
  * Layout under `dir`:
  * {{{
  *   shards/                      (SwapDir-managed: stage + atomic swap)
  *     _manifest.json             (underscore-prefixed: invisible to scans)
  *     shard=K/part-....parquet   (exactly ONE file per shard)
  * }}}
  *
  * Determinism contract (what a training run needs to be reproducible):
  * shard(id) = portableHash60(salt:id) mod N — a pure per-row map, ZERO
  * shuffle to decide placement — and rows inside a shard are ordered by
  * (hash, id), i.e. the global salted permutation restricted to the shard.
  * Same input + same salt ⟹ byte-equal shard SEQUENCES on any cluster,
  * any partitioning, any retry schedule.
  *
  * Scale shape: one shuffle (`repartition(N, shard)`) + an in-task sort —
  * the canonical shard-writer plan. Every shard's rows land in exactly one
  * task (partitioned BY the shard value), so each `shard=K/` dir holds one
  * parquet file whose row order is the sort order. N scales with the
  * corpus (pick shards of ~1 GB); there is never a global sort and the
  * writer never funnels data through fewer than N tasks.
  *
  * Durability: the whole shard set stages into `shards.tmp` and lands by
  * SwapDir's atomic rename under a cross-process FileLease — a crashed or
  * concurrent writer can never leave readers a half-written corpus
  * (readers resolve through [[SwapDir.readPath]]). The manifest (row
  * counts per shard, computed IN the same job's data) rides inside the
  * swapped dir, so counts and files are always from the same version.
  *
  * Reference analog: the fact-table append sink's pinned-layout shuffle
  * (TableStore.scala) — this is the same discipline applied to the final
  * corpus artifact instead of the day-partitioned fact table.
  */
object ShardWriter {

  final case class Manifest(nShards: Int, salt: String, totalRows: Long,
      shardRows: Map[Int, Long])

  private def shardsPath(dir: String) = new Path(dir, "shards")

  /** Shard + order + write + manifest, atomically. Returns the manifest. */
  def write(df: DataFrame, idCol: String, dir: String, nShards: Int,
      salt: String = "shard"): Manifest = {
    require(nShards > 0, "nShards must be positive")
    // The salt is embedded verbatim in the manifest JSON and in hash
    // preimages — restrict it to a charset that needs no escaping in
    // either (a freeform salt with a quote would corrupt the manifest's
    // one reproducibility-critical field).
    require(salt.nonEmpty && salt.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"salt must be [A-Za-z0-9._-]+, got '$salt'")
    val spark = df.sparkSession
    val sharded = df
      .withColumn("__h", portableHash60(concat(lit(s"$salt:"), col(idCol).cast("string"))))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
    val f = Fs.of(spark, dir)
    val live = shardsPath(dir)
    var manifest: Manifest = null
    new FileLease(dir).withLease(f) {
      SwapDir.swapIn(f, live) { tmp =>
        sharded
          .repartition(nShards, col("shard"))
          .sortWithinPartitions(col("shard"), col("__h"), col(idCol))
          .drop("__h")
          .write.partitionBy("shard").parquet(tmp)
        // Per-shard counts from the STAGED FILES' parquet footers —
        // O(nShards) metadata reads, never a data scan (the original
        // shape re-read the entire staged corpus; an observe() accumulator
        // on the write job was tried and rejected: CollectMetrics below
        // the exchange lives in the shuffle-map stage, and map-stage
        // accumulator updates double-apply when a fetch failure resubmits
        // lost partitions — the one writer path whose counts MUST be
        // exact under any retry schedule is the reproducibility manifest).
        // Footers are written by the committed task attempt only, so they
        // are retry-proof by construction, and counts + files are the
        // same version trivially — the counts ARE the files.
        val rows: Map[Int, Long] = footerCounts(f, new Path(tmp))
        if (rows.isEmpty)
          // A filtered-to-nothing corpus is still a VALID corpus: replace
          // the fileless partition layout with one empty in-file-schema
          // parquet so schema-less readers (readAll) keep working.
          sharded.drop("__h").limit(0).coalesce(1)
            .write.mode("overwrite").parquet(tmp)
        manifest = Manifest(nShards, salt, rows.values.sum, rows)
        Fs.writeText(f, new Path(tmp, "_manifest.json"), renderJson(manifest))
      }
    }
    manifest
  }

  /** Per-shard row counts from parquet FOOTER metadata under
    * `root/shard=K/` — row-group counts summed per file, no data pages
    * touched. Hidden/marker files excluded. Shards fan out over
    * [[Fs.fanOut]]'s bounded pool: at the documented 2^14-shard production
    * sizing each shard costs one listStatus + one footer open, and ~16 k
    * SEQUENTIAL round-trips against an object store is minutes of driver
    * wait at the terminal sink; 16-way it is seconds. */
  private def footerCounts(f: org.apache.hadoop.fs.FileSystem, root: Path): Map[Int, Long] = {
    val conf = f.getConf
    val shardDirs = f.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("shard="))
    def countShard(d: org.apache.hadoop.fs.FileStatus): (Int, Long) = {
      val shard = d.getPath.getName.stripPrefix("shard=").toInt
      val n = Fs.dataFiles(f, d.getPath)
        .map { file =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
      shard -> n
    }
    Fs.fanOut(shardDirs.toSeq)(countShard).toMap
  }

  /** One shard, in its deterministic row order (partition pruning keeps
    * the scan to that shard's single file). */
  def readShard(spark: SparkSession, dir: String, shard: Int): DataFrame =
    readAll(spark, dir).filter(col("shard") === shard)

  /** Every shard; `shard` rides as a column (partition-discovered). */
  def readAll(spark: SparkSession, dir: String): DataFrame = {
    val f = Fs.of(spark, dir)
    spark.read.parquet(SwapDir.readPath(f, shardsPath(dir)).toString)
  }

  def readManifest(spark: SparkSession, dir: String): Manifest = {
    val f = Fs.of(spark, dir)
    val p = new Path(SwapDir.readPath(f, shardsPath(dir)), "_manifest.json")
    parseJson(Fs.readText(f, p).getOrElse(
      throw new java.io.FileNotFoundException(s"no shard manifest at $p")))
  }

  /** Integrity probe: stored manifest vs a recount of the live files. */
  def verify(spark: SparkSession, dir: String): Boolean = {
    val m = readManifest(spark, dir)
    val counted = readAll(spark, dir)
      .groupBy(col("shard")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    counted == m.shardRows && m.totalRows == counted.values.sum
  }

  // Tiny hand-rolled JSON (no deps): {"nShards":8,"salt":"shard",
  // "totalRows":500,"shardRows":{"0":63,...}}
  private def renderJson(m: Manifest): String = {
    val rows = m.shardRows.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"nShards":${m.nShards},"salt":"${m.salt}","totalRows":${m.totalRows},"shardRows":$rows}"""
  }

  private def parseJson(s: String): Manifest = {
    def long(key: String): Long = {
      val m = ("\"" + key + "\":(\\d+)").r.findFirstMatchIn(s)
      m.map(_.group(1).toLong).getOrElse(
        throw new IllegalStateException(s"manifest missing $key: $s"))
    }
    val salt = "\"salt\":\"([^\"]*)\"".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse(throw new IllegalStateException(s"bad manifest: $s"))
    val rowsBlock = "\"shardRows\":\\{([^}]*)\\}".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse(throw new IllegalStateException(s"bad manifest: $s"))
    val rows = rowsBlock.split(',').filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split(':')
      k.replace("\"", "").toInt -> v.toLong
    }.toMap
    Manifest(long("nShards").toInt, salt, long("totalRows"), rows)
  }
}
