package graft.util

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
}
