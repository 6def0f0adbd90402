package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: a Spark-first DataFrame build plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query over
  * the same parquet tables. Column names/types are aligned between the two —
  * the driver's comparator sorts columns by name and hashes values.
  *
  * `headline` marks the queries timed by [[graft.Bench]].
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Determinism rules shared by every oracle-checked query (see
  * RelationalOps exact-arithmetic helpers):
  *  - double SUM/AVG goes through DECIMAL (order-insensitive, exact);
  *  - computed integers are cast to BIGINT on both sides (Spark row_number
  *    is int, DuckDB integer SUM is hugeint — both normalized);
  *  - float-fold results (cosine, norms) are rounded to 6 dp and ordered
  *    with an id tiebreak;
  *  - timestamps are emitted as timestamp_ntz (UTC session) to match the
  *    oracle's naive timestamps.
  */
object Q {
  /** The empty per-(entry, sf) work dir of a registry entry that persists
    * state (an index, a rollup, a cluster store): deleted on every call
    * and rebuilt by the entry, so repeated verify/bench passes reuse one
    * path and never read a previous pass's state. */
  private[queries] def workDir(s: SparkSession, tag: String, sfDir: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft-rindex-$tag-" +
      java.lang.Integer.toHexString(sfDir.hashCode)
    val (fs, p) = graft.util.Fs(s, dir)
    fs.delete(p, true)
    dir
  }
}
