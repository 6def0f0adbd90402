package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.RelationalOps.{MaxBroadcastRows, exceedsCap, guardedBroadcast}

/** The tombstone set of a persisted index: right-to-be-forgotten ids
  * appended under `dir/tomb` (one long column, `idCol`), anti-joined by
  * every reader from the moment they land, and applied physically by the
  * index's compaction, which then clears the set. Shared by
  * [[graft.dedup.TextDedupIndex]] (`doc_id`) and
  * [[graft.similarity.IvfIndex]] (`cand_id`); callers hold the index's
  * [[FileLease]] for every mutation. (RetrievalIndex commits its
  * tombstones per batch through `commits/` and keeps its own protocol.)
  *
  * The set is bounded between compactions by contract, but the bound is
  * probed, not assumed: the anti-join broadcasts while the set holds at
  * most `cap` ids and degrades to shuffle-hash past it, and an [[append]]
  * that takes the set past the cap tells the caller to compact now, so one
  * large delete wave does not tax every later search.
  */
final class Tombstones private[util] (spark: SparkSession, dir: String,
    idCol: String, cap: Long) {

  def this(spark: SparkSession, dir: String, idCol: String) =
    this(spark, dir, idCol, MaxBroadcastRows)

  private val loc = s"$dir/tomb"

  /** The committed set; an absent `tomb/` is the empty set at the cost of
    * one exists(). */
  private def read: Option[DataFrame] = {
    val (f, p) = Fs(spark, loc)
    if (!f.exists(p)) None
    else Some(spark.read.schema(s"$idCol LONG").parquet(p.toString))
  }

  /** Whether any tombstone awaits compaction (which forces the id-keyed
    * rewrites regardless of file count). */
  def pending: Boolean = read.exists(_.limit(1).count() > 0)

  /** `df` minus the tombstoned ids; a no-op for an index that has never
    * seen a delete. */
  def minus(df: DataFrame): DataFrame =
    read.fold(df)(tb =>
      df.join(guardedBroadcast(tb, exceedsCap(tb, cap)), Seq(idCol), "left_anti"))

  /** Append the ids in column `srcCol` of `ids` (cast to long,
    * deduplicated). Returns true when the set is now past the cap: the
    * caller compacts in the same lease hold. Idempotent — re-deleting an
    * id or deleting an unknown one changes no result. */
  def append(ids: DataFrame, srcCol: String): Boolean = {
    ids.select(col(srcCol).cast("long").as(idCol)).distinct()
      .write.mode("append").parquet(loc)
    read.exists(exceedsCap(_, cap))
  }

  /** Drop the set: after compaction applied it (a crash before this is
    * benign — the rows are gone and the anti-join no-ops until the next
    * compaction clears again), and on a rebuild, whose new generation old
    * tombstones must never touch (a re-added id would read as
    * not-indexed, and the next compaction would delete its rows). */
  def clear(): Unit = {
    val (f, p) = Fs(spark, loc)
    f.delete(p, true): Unit
  }
}
