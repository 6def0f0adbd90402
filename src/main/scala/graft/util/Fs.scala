package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
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
}
