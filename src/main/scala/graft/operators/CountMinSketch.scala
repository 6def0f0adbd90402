package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.portableHash60
import graft.util.{FileLease, Fs, SwapDir}

/** Count-min sketch over an item stream — frequency estimation whose STATE
  * is a fixed `depth × width` grid of counters no matter how large the
  * corpus grows. The exact heavy-hitter query (`t_top_terms`' shape) keeps
  * one aggregation group per distinct item — vocabulary-sized state that a
  * web-scale n-gram stream turns into billions of groups; the sketch caps
  * state at `depth·width` cells (4096 by default), making the aggregation
  * a pure map-side-combining HashAggregate whose spill size is a
  * PARAMETER, not a data property. The price is one-sided error: an
  * estimate is ≥ the true count (collisions only ever inflate), within
  * εN with probability 1−δ for width ≈ e/ε, depth ≈ ln(1/δ) — the
  * standard Cormode–Muthukrishnan bound.
  *
  * Hashing is the portable md5-prefix family (`portableHash60` of
  * `"j:item"` mod width), so sketch contents — not just query answers —
  * reproduce bit-for-bit in any engine with md5 and BIGINT arithmetic,
  * which is what lets the full sketch→probe→threshold pipeline be
  * byte-checked against a SQL oracle. All counters are exact integer
  * sums: order- and partitioning-independent under any merge schedule.
  *
  * Scale shape: [[sketch]] explodes each item occurrence into `depth`
  * (row, bucket) pairs — the item string itself dies at the projection,
  * only two small integers per probe cross the aggregate — and the
  * partial aggregation collapses every partition to ≤ depth·width cells
  * before the (single, tiny) exchange. [[estimate]] broadcasts the sketch
  * (bounded by construction — the ONE frame in the engine whose broadcast
  * needs no census guard) and probes only the candidate set, which a
  * production pipeline draws from a sample (heavy hitters are precisely
  * the items a uniform sample cannot miss).
  */
object CountMinSketch {

  /** Counter row `j`'s bucket for `item` — md5-prefix hash of
    * `"j:item"`, reduced mod `width`. */
  private def bucket(item: Column, j: Int, width: Int): Column =
    pmod(portableHash60(concat(lit(s"$j:"), item)), lit(width))

  /** One (item, j, b) probe row per counter row of the sketch. */
  private def probes(df: DataFrame, itemCol: String,
      depth: Int, width: Int): DataFrame =
    df.select(col(itemCol),
        explode(array((0 until depth).map(j =>
          struct(lit(j).as("j"), bucket(col(itemCol), j, width).as("b"))): _*))
          .as("_e"))
      .select(col(itemCol), col("_e.j").as("j"), col("_e.b").as("b"))

  /** Build the sketch: `(j, b, cnt)` with one row per NON-EMPTY cell
    * (absent cells are zero; [[estimate]] restores them via its left
    * join). `items` is the occurrence stream — duplicates are the counts. */
  def sketch(items: DataFrame, itemCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame =
    probes(items, itemCol, depth, width)
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("cnt"))

  /** Point estimates for `candidates` (a distinct-item frame): the
    * classic min-over-rows upper bound, `(itemCol, est_count)`. Items
    * hashing only to empty cells estimate 0 — the left join + coalesce
    * keeps the textbook semantics for never-seen items. */
  def estimate(candidates: DataFrame, itemCol: String, sk: DataFrame,
      depth: Int = 4, width: Int = 1024): DataFrame =
    probes(candidates, itemCol, depth, width)
      .join(broadcast(sk), Seq("j", "b"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))

  // ---- Persisted lifecycle (the index-family discipline: build once,
  // append deltas, read the standing state — never rescan the corpus) ----
  //
  // `dir/cells/` holds PARTIAL sketches: each append writes one ≤ d·w-row
  // delta; [[readSketch]] merges by integer cell sums, which are exact and
  // order-independent, so any interleaving of appends reads the same
  // sketch. Appends run under the shared [[FileLease]] and fold the
  // splinter files down via [[SwapDir]] past a file-count threshold, like
  // every other persisted index here. Retry semantics are MONITORING-grade
  // and documented, not hidden: a replayed append double-counts its batch
  // (counts only ever over-estimate further — the sketch's one-sided error
  // direction, never an undercount). A pipeline needing exactly-once
  // accounting wraps appends in its own batch ledger (the curateStream
  // marker pattern); the sketch itself stays marker-free.

  /** Append one batch's counts to the sketch at `dir`, then fold the
    * partial cells into one file past [[SwapDir.maxFiles]] (`maxFiles`:
    * 0 = the default threshold, a positive value overrides it). */
  def append(items: DataFrame, itemCol: String, dir: String,
      depth: Int = 4, width: Int = 1024,
      maxFiles: Int = 0): Unit = {
    val spark = items.sparkSession
    val f = Fs.of(spark, dir)
    f.mkdirs(new Path(dir))
    new FileLease(dir).withLease(f) {
      sketch(items, itemCol, depth, width)
        .coalesce(1).write.mode("append")
        .parquet(new Path(dir, "cells").toString)
      SwapDir.compact(spark, s"$dir/cells", SwapDir.maxFiles(spark, maxFiles)) {
        merged(_).coalesce(1)
      }
    }
  }

  /** The standing sketch: partial cells merged by exact integer sums —
    * feed straight into [[estimate]]. Readers take no lease (any
    * completed prefix of appends is a consistent sketch; mid-compaction
    * they resolve through the swap backup). */
  def readSketch(spark: SparkSession, dir: String): DataFrame =
    merged(SwapDir.read(spark, s"$dir/cells"))

  private def merged(cells: DataFrame): DataFrame =
    cells.groupBy(col("j"), col("b")).agg(sum(col("cnt")).as("cnt"))
}
