package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.{FileLease, Fs}

/** Versioned corpus snapshot STORE — the lifecycle around [[CorpusDiff]]
  * (which diffs two frames the caller already has): commit each
  * crawl/release as an immutable numbered version, read any version back,
  * diff releases, and retire old ones. The reproducible-dataset primitive:
  * "train run X used corpus v12" stays answerable forever, and
  * `diff(12, 13)` is the release audit.
  *
  * Layout and crash discipline (the RetrievalIndex commit-marker pattern):
  *
  *   dir/v=N/...parquet      one immutable snapshot
  *   dir/commits/N           marker — N EXISTS iff its marker does
  *
  * A version becomes visible only when its marker lands, so a torn commit
  * (crash mid-write, before the marker) is INVISIBLE — never a
  * half-snapshot read — and the orphan directory is reclaimed by the next
  * committer. Writers serialize on the shared [[FileLease]] (version
  * numbers are allocated under it; two concurrent committers get distinct
  * consecutive versions, never a clobber). Readers never take the lease:
  * markers are create-once, snapshots immutable.
  *
  * Scale shape: a commit is one parquet write of the snapshot — the same
  * cost as saving the frame anywhere; everything else is O(versions)
  * driver metadata. Snapshots share no storage (simple, predictable
  * retention); for delta-encoded storage compose with [[CorpusDiff]] and
  * keep full snapshots only at checkpoints.
  *
  * Reference scope: the reference mutates BigQuery tables in place and
  * versions nothing; this extends the engine for dataset releases.
  */
object CorpusSnapshots {

  private def vDir(dir: String, v: Int) = new Path(dir, s"v=$v")
  private def marker(dir: String, v: Int) = new Path(new Path(dir, "commits"), v.toString)

  /** Committed version numbers, ascending (markers are the truth). */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val f = Fs.of(spark, dir)
    val c = new Path(dir, "commits")
    if (!f.exists(c)) Seq.empty
    else f.listStatus(c).toSeq.flatMap(s => s.getPath.getName.toIntOption).sorted
  }

  def latestVersion(spark: SparkSession, dir: String): Option[Int] =
    versions(spark, dir).lastOption

  /** Commit `df` as the next version; returns its number. Serialized on
    * the store's lease; reclaims any torn (marker-less) predecessor of the
    * number it allocates before writing. */
  def commit(df: DataFrame, dir: String): Int = {
    val spark = df.sparkSession
    val f = Fs.of(spark, dir)
    f.mkdirs(new Path(dir, "commits"))
    new FileLease(dir).withLease(f) {
      val next = versions(spark, dir).lastOption.getOrElse(0) + 1
      val target = vDir(dir, next)
      // a dir without a marker is a torn previous attempt — reclaim
      if (f.exists(target)) f.delete(target, true)
      df.write.parquet(target.toString)
      val out = f.create(marker(dir, next), false)
      try out.write(Array.emptyByteArray) finally out.close()
      next
    }
  }

  /** Read one committed snapshot (immutable; no lease needed). */
  def read(spark: SparkSession, dir: String, version: Int): DataFrame = {
    if (!Fs.of(spark, dir).exists(marker(dir, version)))
      throw new IllegalArgumentException(
        s"version $version is not committed under $dir")
    spark.read.parquet(vDir(dir, version).toString)
  }

  /** [[CorpusDiff.diff]] between two committed versions. */
  def diff(spark: SparkSession, dir: String, from: Int, to: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    CorpusDiff.diff(read(spark, dir, from), read(spark, dir, to), idCol, textCol)

  /** Retire all but the newest `keepLast` versions (markers first — a
    * crash between marker and data delete leaves an invisible orphan,
    * reclaimed by [[sweepOrphans]]/the next colliding commit, never a
    * readable half-version). Returns the dropped version numbers. */
  def retain(spark: SparkSession, dir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val f = Fs.of(spark, dir)
    new FileLease(dir).withLease(f) {
      val vs = versions(spark, dir)
      val drop = vs.dropRight(keepLast)
      drop.foreach { v =>
        f.delete(marker(dir, v), false)
        f.delete(vDir(dir, v), true)
      }
      drop
    }
  }

  /** Remove data directories whose marker is gone (torn commits, crashed
    * retains). Lease-held; safe to run any time. */
  def sweepOrphans(spark: SparkSession, dir: String): Seq[Int] = {
    val f = Fs.of(spark, dir)
    new FileLease(dir).withLease(f) {
      val committed = versions(spark, dir).toSet
      val p = new Path(dir)
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .flatMap(s => s.getPath.getName.stripPrefix("v=").toIntOption)
        .filterNot(committed)
        .map { v => f.delete(vDir(dir, v), true); v }
        .sorted
    }
  }
}
