package graft.util

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one filesystem lookup for engine-managed paths (leases, swap dirs,
  * ledgers, manifests, index subtables). It resolves with
  * `sessionState.newHadoopConf()`, the configuration Spark's own parquet
  * reader and writer use, so session-level `spark.hadoop.*` settings apply
  * to a marker file exactly as they do to the parquet data written beside
  * it. (`sparkContext.hadoopConfiguration` ignores them.) RDD checkpoint
  * files are the one exception: they are written through the
  * SparkContext's configuration, so ConnectedComponents resolves its
  * checkpoint dir with that instead.
  */
object Fs {

  /** `path` with its filesystem. */
  def apply(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The filesystem of `path`. */
  def of(spark: SparkSession, path: String): FileSystem = apply(spark, path)._1

  /** Hadoop's hidden-path convention: names starting with `_` or `.`
    * (`_SUCCESS`, `_temporary`, `.crc` side files) are markers, not data. */
  private[graft] def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The data files directly under `dir`: one `listStatus`, directories
    * and hidden entries dropped. */
  private[graft] def dataFiles(f: FileSystem, dir: Path): Array[FileStatus] =
    f.listStatus(dir).filter(s => s.isFile && !hidden(s.getPath.getName))

  /** The whole UTF-8 text of the small file `p` (a marker, manifest, stamp
    * or key-value file), or `None` when no file is there: one `open`, no
    * `exists` probe. Driver-sized metadata is read and written as plain
    * files through this pair, never as a Spark table. */
  private[graft] def readText(f: FileSystem, p: Path): Option[String] =
    try {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Write `text` as UTF-8 to `p`, replacing any file there: one
    * `create(p, overwrite = true)`. Not atomic; callers that need
    * all-or-nothing write a sibling and rename it in. */
  private[graft] def writeText(f: FileSystem, p: Path, text: String): Unit = {
    val out = f.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Run `body` over `items` on a shared bounded pool and return the
    * results in input order: for driver-side FS metadata and footer reads,
    * which are IO-bound and thread-safe. Every task is awaited, so no task
    * outlives the caller (or the lease it holds), and the first failure is
    * rethrown unwrapped. At most one item runs inline. `body` must not
    * call `fanOut` itself: tasks waiting on tasks could fill the pool. */
  private[graft] def fanOut[A, T](items: Seq[A])(body: A => T): Seq[T] =
    if (items.size <= 1) items.map(body)
    else {
      val futures = metaPool.invokeAll(items.map(a =>
        (() => body(a)): java.util.concurrent.Callable[T]).asJava)
      futures.asScala.toSeq.map { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    }

  /** One pool per process for [[fanOut]]: 16 daemon threads, enough
    * metadata round-trips in flight to hide an object store's latency
    * without stampeding its per-client connection budget. Idle threads
    * time out after 10 s, so an idle JVM holds none and exit is never
    * pinned. */
  private lazy val metaPool = {
    val p = new java.util.concurrent.ThreadPoolExecutor(16, 16, 10,
      java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-metadata"); t.setDaemon(true); t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }
}
