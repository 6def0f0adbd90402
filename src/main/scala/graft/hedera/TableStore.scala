package graft.hedera

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{Fs, SwapDir}

/** Parquet table layer for the warehouse: day-partitioned fact table,
  * append-only errors table, tiny crash-safe state file.
  *
  * Layout = the reference's physical design re-expressed for parquet
  * (SURVEY.md §1.4): DAY partitions on the truncated timestamp
  * (scripts/create-tables.sh:14-15) become `day=` directory partitions —
  * filters on `day` prune at the source listing, which is the property that
  * keeps incremental dedupe O(window) instead of O(table) at 100 TB. The
  * read schema declares `day` as the UTC image of the timestamp
  * (TransactionSchema.table), so time predicates on `consensusTimestamp`
  * or `consensusTimestampTruncated` prune the listing the same way
  * (DerivedTimeFilterPushdown adds the implied `day` range).
  * "Clustering on transactionType" (create-tables.sh:16) becomes
  * `sortWithinPartitions(transactionType)` at write: parquet row-group
  * min/max stats then skip row groups for type-filtered queries.
  */
final class TransactionsTable(spark: SparkSession, path: String, val filesPerDay: Int = 4,
    leaseMs: Long = 60000L) {

  /** Writer lease ([[graft.util.FileLease]]), the one serialization of
    * live-tree mutations: appends hold it for their write job, the dedupe
    * swap for its (millisecond) rename sequence, so a micro-batch append
    * can never interleave with a day swap. Within this process its
    * per-path gate serializes every thread of every instance on this path;
    * across processes (an ops backfill job next to the streaming `EtlApp`)
    * the atomic-create lock file does, heartbeat-renewed with
    * stale-takeover. The straggler/manifest protocol still bounds any
    * residual interleave to preserved-but-duplicated rows, never lost
    * rows. */
  private val lease = new graft.util.FileLease(path, leaseMs)

  private def withLease[T](f: FileSystem)(body: => T): T = lease.withLease(f)(body)

  /** Plain-parquet read. Visibility vs a concurrent repair: each day swap
    * is a pair of directory renames, so a reader that lists files while a
    * swap is in flight can hit FAILED_READ_FILE on the vanished old files —
    * the standard plain-parquet-under-compaction behavior; such a reader
    * retries (the swap window is milliseconds). The engine's own
    * read-modify-write paths never race this: they coordinate through
    * [[readSnapshot]] + the writer lease. A deployment needing snapshot
    * isolation for ad-hoc readers layers a transactional table format on
    * the same layout. */
  def read(): DataFrame = spark.read.schema(TransactionSchema.table).parquet(path)

  /** Pinned-listing read for read-modify-replace cycles: the returned
    * DataFrame scans EXACTLY the files present at call time, and the per-day
    * listing is returned alongside so [[overwriteDays]] can preserve any
    * file appended AFTER this snapshot (the ingest-vs-dedupe race guard —
    * a plain `read()` lists lazily, so the set of files a later rewrite
    * actually covered would be unknowable). */
  def readSnapshot(dayRange: Option[(java.time.LocalDate, java.time.LocalDate)] = None)
      : (DataFrame, Map[String, Set[String]]) = {
    val f = fs
    val root = new Path(path)
    // `dayRange` bounds the per-day listing: a windowed repair swaps only
    // its window's days, so listing the whole table would be O(table-days)
    // driver metadata round-trips per dedupe tick — unbounded as the table
    // grows, for a fixed window. The dir-name mapping stays HERE (this
    // class owns the `day=YYYY-MM-DD` layout; fixed-width ISO names make
    // the range a lexicographic string comparison).
    val inRange: String => Boolean = dayRange match {
      case None => _ => true
      case Some((lo, hi)) =>
        val (loDir, hiDir) = (s"day=$lo", s"day=$hi")
        d => d >= loDir && d <= hiDir
    }
    val dayDirs =
      if (!f.exists(root)) Array.empty[Path]
      else f.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("day=")
          && inRange(s.getPath.getName))
        .map(_.getPath)
    val listing: Map[String, Set[String]] =
      Fs.fanOut(dayDirs.map(_.getName).toSeq) { name =>
        name -> Fs.dataFiles(f, new Path(root, name)).map(_.getPath.getName).toSet
      }.toMap
    val files = for { (d, names) <- listing.toSeq; n <- names } yield s"$path/$d/$n"
    val df =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          TransactionSchema.table)
      else spark.read.schema(TransactionSchema.table)
        .option("basePath", path).parquet(files: _*)
    (df, listing)
  }

  private def fs: FileSystem = Fs.of(spark, path)

  def exists(): Boolean = fs.exists(new Path(path))

  /** Write layout: cluster rows to ≤`filesPerDay` files per day partition
    * (repartition on day + bounded salt — without this, an N-partition
    * upstream × D days batch writes N·D splinter files, and every later
    * table scan pays the open cost), then sort within files by
    * transactionType so parquet row-group min/max stats give the
    * clustering-based skipping the reference gets from BigQuery clustering
    * (scripts/create-tables.sh:16). */
  private def layout(df: DataFrame): DataFrame =
    // Pinned partition count (REPARTITION_BY_NUM): a by-column repartition
    // is AQE-coalescible and a small batch collapses to one task,
    // serializing the sort + parquet encode. Parallelism stays bounded by
    // distinct (day, salt) combos either way; empty partitions are free.
    df.repartition(spark.sparkContext.defaultParallelism,
        col("day"), pmod(xxhash64(col("consensusTimestamp")), lit(filesPerDay)))
      .sortWithinPartitions(col("day"), col("transactionType"))

  /** Append a batch, day-partitioned, clustered within partitions. */
  def append(df: DataFrame): Unit = withLease(fs) {
    layout(df).write.mode(SaveMode.Append).partitionBy("day").parquet(path)
  }

  /** Append a batch that is ALREADY hash-partitioned by
    * (day, pmod(xxhash64(consensusTimestamp), filesPerDay)) — the
    * single-shuffle ingest path (IngestPipeline): the layout exchange is
    * skipped and rows only pay the in-task sort that yields day-split,
    * type-clustered files. The files-per-day bound still holds: each
    * (day, salt) combination lives in exactly one upstream task, so a day
    * receives at most `filesPerDay` writers. */
  def appendPrePartitioned(df: DataFrame): Unit = withLease(fs) {
    df.sortWithinPartitions(col("day"), col("transactionType"))
      .write.mode(SaveMode.Append).partitionBy("day").parquet(path)
  }

  // Dot-prefixed working dirs inside the table path: Spark's file listing
  // ignores dot-paths, so readers never see staged or backup data, and
  // same-parent renames are plain same-filesystem metadata ops.
  private def stageDir = new Path(path, ".graft-stage")
  private def bakDir = new Path(path, ".graft-bak")

  /** Per-day manifest of the files the caller's snapshot covered — written
    * into the backup dir BEFORE any rename, so recovery can tell replaced
    * files from straggler appends after a crash at any later point. */
  private def manifestPath(day: String) = new Path(bakDir, s".known-$day")

  /** Per-day manifest of the STAGED file names, also written before any
    * rename: if recovery must roll a day back, this is how it tells a
    * half-landed rewrite's files (discard) from rows appended into the
    * recreated live dir after the crash (keep). */
  private def stagedManifestPath(day: String) = new Path(bakDir, s".staged-$day")

  /** Swap-complete marker, created only AFTER the stage→live rename: its
    * absence is what recovery trusts to decide roll-back vs roll-forward.
    * Without it, a post-crash append that recreates the live day dir before
    * recovery runs would make a crash BETWEEN the two renames look like a
    * completed swap — and "completing" it would silently drop the whole
    * backed-up old day. */
  private def doneMarkerPath(day: String) = new Path(bakDir, s".done-$day")

  private def writeNames(f: FileSystem, p: Path, names: Iterable[String]): Unit =
    Fs.writeText(f, p, names.mkString("\n"))

  /** The names of manifest `p`, or `None` when it is absent. */
  private def readNames(f: FileSystem, p: Path): Option[Set[String]] =
    Fs.readText(f, p).map(_.split('\n').iterator.filter(_.nonEmpty).toSet)

  /** Replace exactly the `day=` partitions present in `df` — the engine's
    * MERGE-ON-FALSE (RemoveDuplicatesTemplateQuery.java:29-43 rewrites only
    * the windowed partition range, never the table).
    *
    * Crash/eviction safety: the replacement content is fully materialized to
    * a staging dir BEFORE any live partition is touched, so a plan that
    * reads this table can never be recomputed mid-overwrite (the read
    * finishes when the stage write finishes). The swap is then per-day
    * metadata renames under a backup protocol (all under the writer lease,
    * so a concurrent append cannot interleave with the renames):
    *
    *   0. write `.known-day=D` manifests (caller-snapshot file names)
    *   1. rename live `day=D` → `.graft-bak/day=D`
    *   2. rename `.graft-stage/day=D` → live `day=D`
    *   2b. move backup files NOT in the manifest into the new live day —
    *       these are rows appended after the caller's [[readSnapshot]]
    *       (a concurrent micro-batch) and absent from the staged rewrite;
    *       dropping the backup wholesale would LOSE them. They re-enter
    *       as-is (possibly duplicated) and are repaired by the next dedupe
    *       run — at-least-once + periodic dedupe, the reference's own
    *       delivery model (README.md:21-22).
    *   3. delete the backup + manifest
    *
    * `snapshot = None` (ad-hoc callers) keeps full-replace semantics: no
    * manifest, nothing preserved. The dedupe path always passes the
    * snapshot its repair scan actually read.
    *
    * A crash at any point is repaired by [[recoverSwaps]] (called on entry
    * here and by the dedupe job): a surviving backup rolls BACK (restore the
    * old day, drop the stage) when the swap didn't complete, or finishes
    * step 2b-3 (manifest-aware) when it did — the caller's job-state
    * checkpoint only advances after this method returns, so a rolled-back
    * window is simply re-processed. Each day swap is atomic to readers;
    * cross-day atomicity matches the reference's per-statement MERGE
    * granularity.
    */
  def overwriteDays(df: DataFrame,
      snapshot: Option[Map[String, Set[String]]] = None): Unit = {
    recoverSwaps()
    val f = fs
    f.delete(stageDir, true) // stale stage from an aborted run
    layout(df).write.mode(SaveMode.Overwrite).partitionBy("day").parquet(stageDir.toString)

    val days = f.listStatus(stageDir).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("day="))
    withLease(f) {
      if (days.nonEmpty && !f.exists(bakDir)) f.mkdirs(bakDir)
      // Each day's manifests and swap touch only that day's paths, so both
      // phases fan out over a thread pool: a backfill rewrites EVERY day,
      // and ~10 metadata ops per day run sequentially turn O(days) into
      // the wall-time bottleneck (measured: a 300-day sf1 backfill spent
      // ~16 s in this loop; on an object store each op is a network
      // round-trip and the sequential form would be minutes). The phase
      // BARRIER is the crash invariant: every manifest lands before any
      // rename, so recovery can always decide a day's direction.
      Fs.fanOut(days.toSeq) { d =>
        snapshot.foreach(snap =>
          writeNames(f, manifestPath(d), snap.getOrElse(d, Set.empty)))
        val staged = Fs.dataFiles(f, new Path(stageDir, d)).map(_.getPath.getName)
        writeNames(f, stagedManifestPath(d), staged)
      }
      Fs.fanOut(days.toSeq) { d =>
        val live = new Path(path, d)
        val bak = new Path(bakDir, d)
        if (f.exists(live))
          require(f.rename(live, bak), s"swap: rename $live -> $bak failed")
        require(f.rename(new Path(stageDir, d), live), s"swap: stage -> $live failed")
        f.create(doneMarkerPath(d), true).close() // the swap is now roll-forward
        preserveStragglers(f, d)
        f.delete(bak, true)
        f.delete(manifestPath(d), false)
        f.delete(stagedManifestPath(d), false)
        f.delete(doneMarkerPath(d), false)
      }
      f.delete(stageDir, true)
      f.delete(bakDir, true)
    }
  }

  /** Step 2b: move backup-day files absent from the day's manifest (i.e.
    * appended after the caller's snapshot) into the new live day. No
    * manifest → legacy full replace, nothing preserved. */
  private def preserveStragglers(f: FileSystem, day: String): Unit = {
    val bak = new Path(bakDir, day)
    val live = new Path(path, day)
    for (known <- readNames(f, manifestPath(day)) if f.exists(bak))
      Fs.dataFiles(f, bak).map(_.getPath)
        .filterNot(p => known.contains(p.getName))
        .foreach { p =>
          require(f.rename(p, new Path(live, p.getName)),
            s"swap: preserve straggler $p -> $live failed")
        }
  }

  /** Repair a swap interrupted by a crash: for every surviving backup day,
    * the `.done-` marker decides the direction.
    *
    *  - Marker present (crash during steps 2b-3): the staged day landed —
    *    roll FORWARD: finish the straggler preservation, drop the backup.
    *  - Marker absent (crash between the renames): roll BACK. The live dir,
    *    if it exists at all, holds only (a) staged files that half-landed
    *    and (b) rows appended after the crash by a restarted stream —
    *    delete exactly the staged names (the rewrite is recomputed when the
    *    caller's window re-runs), keep the appends, and move every backup
    *    file home. Deciding by live-dir EXISTENCE alone would be wrong
    *    here: a post-crash append recreates the dir, and treating that as
    *    "swap completed" would drop the whole backed-up old day.
    *  - Neither marker nor staged manifest (a backup written by a pre-marker
    *    version of this code): fall back to the legacy heuristic — live dir
    *    present means the swap completed.
    *
    * Then drop any stage. */
  def recoverSwaps(): Unit = {
    val f = fs
    if (!f.exists(bakDir) && !f.exists(stageDir)) return // fast path: no lease
    withLease(f) {
    if (f.exists(bakDir)) {
      f.listStatus(bakDir).filter(_.getPath.getName.startsWith("day=")).foreach { s =>
        val day = s.getPath.getName
        val live = new Path(path, day)
        val stagedMf = stagedManifestPath(day)
        val completed = f.exists(doneMarkerPath(day)) ||
          (!f.exists(stagedMf) && f.exists(live))
        if (completed) {
          preserveStragglers(f, day)
          f.delete(s.getPath, true)
        } else if (f.exists(live)) {
          val staged = readNames(f, stagedMf).getOrElse(Set.empty[String])
          f.listStatus(live).filter(_.isFile).map(_.getPath)
            .filter(p => staged.contains(p.getName))
            .foreach(p => f.delete(p, false))
          Fs.dataFiles(f, s.getPath).map(_.getPath)
            .foreach { p =>
              require(f.rename(p, new Path(live, p.getName)),
                s"recover: restore $p -> $live failed")
            }
          f.delete(s.getPath, true)
        } else require(f.rename(s.getPath, live), s"recover: restore $live failed")
      }
      f.delete(bakDir, true)
    }
    f.delete(stageDir, true)
    }
  }
}

/** Open for extension so crash-injection specs (IngestCrashSpec) can fault
  * the append — production code never subclasses it. */
class ErrorsTable(spark: SparkSession, path: String) {
  def read(): DataFrame = spark.read.schema(TransactionSchema.errors).parquet(path)
  /** Dead letters are never dropped (BigQueryErrorsSink.java:43-47 parity:
    * alwaysRetry) — append-only. */
  def append(df: DataFrame): Unit = df.write.mode(SaveMode.Append).parquet(path)
}

/** Key-value job-state store with MERGE-upsert semantics
  * (GetStateQuery/SetStateQuery — AbstractDeduplication.java:99,
  * SetStateQuery.java:34-51). A handful of checkpoints, so it is one small
  * text file at `path` (SURVEY.md's "checkpoint file"): one
  * `name<TAB>value` line per key, sorted by name, read and written on the
  * driver with no Spark job. Each upsert rewrites the file whole through
  * [[graft.util.SwapDir]]'s backup-rename-swap (`<path>.tmp`,
  * `<path>.bak`): the previous state is renamed aside before the new state
  * is renamed into place, and reads roll back to the backup if a crash
  * left no live file — losing a `set` is safe (the caller's job re-runs its
  * window), losing the whole store is not (an O(table) re-dedupe from
  * timestamp 0). Single-writer: one dedupe job owns its store.
  */
final class StateStore(spark: SparkSession, path: String) {

  private def fs: FileSystem = Fs.of(spark, path)
  private def live = new Path(path)

  /** Rolls back to the backup first when a crash between [[set]]'s two
    * renames left no live file (a stale backup NEXT TO a live file means
    * the crash came after the new state landed — the live file wins). A
    * directory at `path` is the parquet state table of an older version:
    * it fails here, because reading it as empty would restart dedupe from
    * timestamp 0. */
  def readAll(): Map[String, String] = {
    val f = fs
    SwapDir.recover(f, live)
    Fs.readText(f, live) match {
      case Some(text) =>
        text.split('\n').iterator.filter(_.nonEmpty).map { line =>
          val tab = line.indexOf('\t')
          require(tab > 0, s"state store $path: malformed line '$line'")
          line.substring(0, tab) -> line.substring(tab + 1)
        }.toMap
      case None =>
        require(!f.exists(live), s"state store $path is a directory: a parquet " +
          "state table from an older version. The store is now one text file of " +
          "name<TAB>value lines; move the directory aside and set its keys again")
        Map.empty
    }
  }

  def get(name: String): Option[String] = readAll().get(name)

  /** MERGE-upsert one key (SetStateQuery.java:34-40 semantics) through
    * [[SwapDir.swapIn]]. The name is REQUIRED (state-schema.json), and
    * neither part may hold the file's separators. Crash windows: before
    * the live rename → the next read restores the backup (the set is lost,
    * callers re-derive it); after → the new state is live and the stale
    * backup is replaced by the next set. */
  def set(name: String, value: String): Unit = {
    require(name.nonEmpty, "state name must be non-empty")
    require(value != null, s"state value of '$name' must not be null")
    require(!(name + value).exists(c => c == '\t' || c == '\n'),
      s"state name and value of '$name' must hold no tab or newline")
    val text = (readAll() + (name -> value)).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k\t$v\n" }.mkString
    val f = fs
    SwapDir.swapIn(f, live)(tmp => Fs.writeText(f, new Path(tmp), text))
  }
}
