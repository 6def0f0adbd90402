package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Cross-process writer lease on a directory — extracted from the fact
  * table's writer coordination (reference analog: one dedupe job owns the
  * table's repair, `AbstractDeduplication.java:45-126` runs single-instance
  * under Spring scheduling) so the persisted index lifecycles
  * ([[graft.dedup.TextDedupIndex]], [[graft.similarity.IvfIndex]] callers)
  * can reuse it instead of documenting a single-curator caveat.
  *
  * Mechanism: a per-path IN-PROCESS gate (same-JVM holders serialize
  * perfectly — Hadoop's LOCAL `create(overwrite=false)` is check-then-act,
  * not O_EXCL, so without the gate two threads of one process could both
  * slip the exists check, the second create truncating the first holder's
  * file), then a `create(overwrite=false)` lock file under `dirPath`
  * (atomic server-side on HDFS-like stores — the cross-process boundary),
  * heartbeat-renewed (mtime touch) every `leaseMs / 4` while held, taken
  * over by a rival only when its mtime is at least `leaseMs` stale — so a
  * live holder (however long its write job runs) is never usurped, while a
  * crashed holder delays rivals by at most one lease period. Takeover is
  * delete-then-recreate with a re-check of the mtime immediately before the
  * delete and a read-back of the holder id after the create; on a plain
  * local/NFS mount the residual cross-PROCESS stat→create and stat→delete
  * windows are the plain-filesystem bound (a deployment that needs them
  * airtight layers a transactional table format / lock service on the
  * same layout — this lease is what plain parquet-on-a-filesystem can
  * give).
  *
  * NOT reentrant: a holder that calls [[withLease]] again from the same
  * thread would wait on itself for the full stale period. Callers structure
  * their entry points so the lease is taken exactly once per mutation
  * (public API acquires; internal steps run unleased underneath).
  */
final class FileLease(dirPath: String, leaseMs: Long = 60000L,
    lockName: String = ".graft-writer-lease") {

  private val holderId = java.util.UUID.randomUUID().toString
  private def leasePath = new Path(dirPath, lockName)

  private def readHolder(f: FileSystem): Option[String] =
    try Fs.readText(f, leasePath).map(_.trim)
    catch { case _: java.io.IOException => None }

  private def acquire(f: FileSystem): Unit = {
    if (!f.exists(new Path(dirPath))) f.mkdirs(new Path(dirPath))
    val deadline = System.nanoTime() + 10L * 60 * 1000000000L
    var acquired = false
    while (!acquired) {
      val created =
        try {
          val out = f.create(leasePath, false) // atomic O_EXCL create
          try out.write(holderId.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      if (created && readHolder(f).contains(holderId)) acquired = true
      else if (!created) {
        def mtimeStale() =
          try f.getFileStatus(leasePath).getModificationTime <
            System.currentTimeMillis() - leaseMs
          catch { case _: java.io.IOException => false } // vanished: retry create
        if (mtimeStale()) {
          // re-check right before the delete: a rival takeover that already
          // re-created the file shows a fresh mtime and keeps its lease
          try { if (mtimeStale()) f.delete(leasePath, false) }
          catch { case _: java.io.IOException => () }
        } else Thread.sleep(50)
      }
      if (!acquired && System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"writer lease on $leasePath not acquired within 10 min " +
            s"(held by ${readHolder(f).getOrElse("<unreadable>")})")
    }
  }

  private def release(f: FileSystem): Unit =
    // only release a lease that is still ours — a wedged-then-resumed holder
    // whose lease was taken over must not delete the usurper's lock
    if (readHolder(f).contains(holderId))
      try f.delete(leasePath, false) catch { case _: java.io.IOException => () }

  /** Run `body` holding the cross-process lease, heartbeating on the shared
    * daemon timer so a long write job never looks stale. The heartbeat
    * swallows EVERY non-fatal throwable, not just IOException — one
    * unchecked exception (a connector's UnsupportedOperationException on
    * setTimes, say) would otherwise kill the shared Timer and poison every
    * future lease hold in this process. And the schedule call sits inside
    * the release scope, so a failure there can never strand the acquired
    * lease file. */
  def withLease[T](f: FileSystem)(body: => T): T = {
    // IN-PROCESS gate first: Hadoop's local create(overwrite=false) is
    // check-then-act (exists → create), so two threads of ONE process can
    // both slip past the exists check and the second create TRUNCATES the
    // first holder's file — both read back their own id and both proceed
    // (observed as a double-keep in the curator hammer under a saturated
    // host). The JVM gate makes same-process holders — EtlApp runs ingest,
    // the dedupe scheduler and curators in one process — serialize
    // perfectly at zero added latency. ACROSS processes the file create is
    // the boundary: atomic on HDFS-like stores (server-side O_EXCL); on a
    // plain local/NFS mount the residual stat→create window joins the
    // documented stat→delete takeover window as the plain-filesystem
    // bound (layer a lock service if that must be airtight).
    val gate = FileLease.gates.computeIfAbsent(leasePath.toString,
      _ => new java.util.concurrent.locks.ReentrantLock())
    gate.lock()
    try {
      acquire(f)
      try {
        val beat = new java.util.TimerTask {
          override def run(): Unit =
            try f.setTimes(leasePath, System.currentTimeMillis(), -1)
            catch { case scala.util.control.NonFatal(_) => () }
        }
        FileLease.beat.schedule(beat, math.max(1, leaseMs / 4), math.max(1, leaseMs / 4))
        try body
        finally beat.cancel()
      } finally release(f)
    } finally gate.unlock()
  }
}

object FileLease {
  /** One daemon heartbeat timer for the whole process, shared across every
    * lease (holds run per micro-batch — every 250 ms under `EtlApp` — so a
    * fresh Timer thread per hold would churn a thread per batch for the
    * life of a stream). */
  private[util] lazy val beat = new java.util.Timer("graft-lease-heartbeat", true)

  /** Per-lease-path in-process gates (see [[FileLease.withLease]]): one
    * entry per distinct lease file ever held by this JVM — bounded by the
    * number of managed directories, never by hold count. */
  private[util] val gates =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
}

/** Whole-directory stage-then-swap for small derived tables (an index's
  * census, a compacted subtable): the replacement is fully written to a
  * sibling `.tmp` dir, then swapped live through a backup rename — readers
  * of the LIVE path see either the old or the new complete state, never a
  * half-written one (the previous `mode("overwrite")` pattern deleted the
  * dir and rebuilt it in place, leaving a reader-visible empty/partial
  * window for the whole write job's duration). The residual window is the
  * two metadata renames (milliseconds) — the same plain-parquet bound as
  * the fact table's day swap, and a reader that lists exactly then retries.
  *
  * Crash repair (also [[graft.hedera.StateStore]]'s, which swaps its one
  * file through here: every step below works on a file as on a dir): a
  * crash between the renames leaves no live dir and a backup —
  * [[recover]] (called by every writer entry point before it reads)
  * renames the backup home. A stale
  * backup NEXT TO a live dir means the crash was after the swap landed —
  * the live dir wins and the backup is dropped.
  */
object SwapDir {

  private def tmp(live: Path) = new Path(live.getParent, live.getName + ".tmp")
  private def bak(live: Path) = new Path(live.getParent, live.getName + ".bak")

  /** `write` receives the tmp path and must fully materialize the new state
    * there; the swap then runs: delete stale backup → rename live→bak →
    * rename tmp→live → delete bak. Single-writer (callers hold a
    * [[FileLease]]). */
  def swapIn(f: FileSystem, live: Path)(write: String => Unit): Unit = {
    recover(f, live)
    f.delete(tmp(live), true) // stale tmp from an aborted attempt
    write(tmp(live).toString)
    f.delete(bak(live), true)
    if (f.exists(live))
      require(f.rename(live, bak(live)), s"swap: $live -> ${bak(live)} failed")
    require(f.rename(tmp(live), live), s"swap: ${tmp(live)} -> $live failed")
    f.delete(bak(live), true): Unit
  }

  /** Reader-side resolution: the live dir, or the backup when a crash
    * between [[swapIn]]'s renames left only the backup. Readers must not
    * repair (renames under a concurrent writer) — that is [[recover]]'s
    * job, run by the next LEASED writer; they just read the surviving
    * complete state. */
  def readPath(f: FileSystem, live: Path): Path =
    if (!f.exists(live) && f.exists(bak(live))) bak(live) else live

  /** Restore from backup if a crash between [[swapIn]]'s renames left no
    * live dir; drop any leftover tmp. Idempotent, cheap (two stats). */
  def recover(f: FileSystem, live: Path): Unit = {
    if (!f.exists(live) && f.exists(bak(live)))
      require(f.rename(bak(live), live), s"swap recover: ${bak(live)} -> $live failed")
    f.delete(tmp(live), true): Unit
  }

  /** Data-file count of a parquet dir (hidden/marker files excluded) — the
    * compaction trigger. 0 when the dir does not exist. */
  def fileCount(f: FileSystem, dir: Path): Int =
    if (!f.exists(dir)) 0
    else Fs.dataFiles(f, dir).length

  /** Read the subtable at `live` as of its last complete swap (the backup,
    * mid-swap — see [[readPath]]). An absent subtable reads as an empty
    * frame of the DDL schema `ifAbsent` when one is given; without one the
    * read fails as parquet does. */
  def read(spark: SparkSession, live: String,
      ifAbsent: Option[String] = None): DataFrame = {
    val (f, p) = Fs(spark, live)
    val resolved = readPath(f, p)
    if (ifAbsent.isEmpty || f.exists(resolved)) spark.read.parquet(resolved.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(ifAbsent.get))
  }

  /** The index compaction threshold: a subtable is rewritten once it holds
    * more than 8 appends' worth of splinter files (each append writes at
    * most `defaultParallelism`). That bounds both the rewrite amortization
    * (one compaction per ~8 appends) and the open cost a search pays
    * between compactions. A positive `requested` overrides it. */
  def maxFiles(spark: SparkSession, requested: Int = 0): Int =
    if (requested > 0) requested else 8 * spark.sparkContext.defaultParallelism

  /** The compaction step: when the subtable at `live` holds more than
    * `maxFiles` data files, or when `force`, rewrite it through [[swapIn]].
    * `arrange` receives the current rows and returns the frame to write
    * (the same rows, re-clustered, minus whatever the caller removes). */
  def compact(spark: SparkSession, live: String, maxFiles: Int,
      force: Boolean = false)(arrange: DataFrame => DataFrame): Unit = {
    val (f, p) = Fs(spark, live)
    if (force || fileCount(f, readPath(f, p)) > maxFiles)
      swapIn(f, p) { tmp =>
        arrange(spark.read.parquet(readPath(f, p).toString))
          .write.mode("overwrite").parquet(tmp)
      }
  }
}
