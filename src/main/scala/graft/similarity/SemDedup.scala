package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.portableHash60
import graft.operators.RelationalOps.round6
import graft.similarity.SimilaritySearch.cosine // the fused codegen'd
// kernel, bit-for-bit ≡ VectorFunctions.cosine (property-tested) — the
// pair stages evaluate it O(cell²) times, where the interpreted
// higher-order-function form was measured ~18-22× slower (BASELINE.md r7)

/** SemDeDup-style semantic deduplication over an embedding column: partition
  * the corpus into cells around a handful of seed vectors, then mark as
  * duplicates the vectors whose within-cell cosine to a LOWER-id neighbor
  * clears a threshold (keep-the-first semantics). The whole point of the
  * cell stage is to bound the quadratic pair scan to cell-sized blocks —
  * at corpus scale the all-pairs cosine is unrunnable, while per-cell pairs
  * are (cells shrink as nCells grows; production sizing is
  * nCells ≈ corpus / targetCellSize, seeds from a k-means pass).
  *
  * Everything here is DETERMINISTIC and engine-portable, which is what lets
  * the registry entry carry a full DuckDB oracle (rare for a clustering
  * operator):
  *  - seeds are not random and not iterative: the nCells vectors with the
  *    smallest portable 60-bit hash of their id — any engine recomputes the
  *    same seed set with one ORDER BY/LIMIT;
  *  - assignment is argmax cosine over the seed set, on the 6-dp-ROUNDED
  *    score with the smaller seed id breaking ties — no last-bit float
  *    divergence can flip a cell;
  *  - the duplicate rule compares 6-dp-rounded pair cosines, ties broken by
  *    the id order built into `a_id < b_id`.
  *
  * Scale shape: the seed set is O(nCells·dim) and broadcast once; assignment
  * is a pure per-row map (one array_max over nCells fused cosines — no
  * explode, no shuffle, no window); the only shuffle is the per-cell
  * self-join, which carries each embedding once per side. A pathologically
  * hot cell re-creates the quadratic blowup — the guard at scale is the same
  * census-and-cap discipline as the LSH bucket path
  * (`TextDedup.lshBucketStats`): count cell sizes, raise nCells (or split the
  * hot cell on a second seed round) before running the pair stage.
  *
  * Reference scope: the reference engine has no embedding operators at all —
  * this family extends it for training-data curation (SemDeDup: Abbas et al.
  * 2023, arXiv:2303.09540).
  */
object SemDedup {

  final case class Config(nCells: Int = 16, threshold: Double = 0.4)

  /** Deterministic seed vectors: the `nCells` rows with the smallest
    * portable hash of their id (tiebreak id). One TakeOrdered, O(nCells)
    * result — never a full sort at scale. */
  def seeds(emb: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame =
    emb.select(col(idCol).cast("long").as("seed_id"), col(vecCol).as("sv"),
        portableHash60(concat(lit("seed:"), col(idCol).cast("string"))).as("h"))
      .orderBy(col("h"), col("seed_id"))
      .limit(nCells)
      .drop("h")

  /** Nearest-seed cell assignment: (id, cell_id, vec). The seed set rides a
    * 1-row broadcast array; the argmax is a per-row `array_max` over a
    * struct of (rounded score, -seed_id) — max score wins, ties fall to the
    * smaller seed id. Zero shuffles, zero windows. */
  def assignCells(emb: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame =
    assignCellsTo(emb, idCol, vecCol, seeds(emb, idCol, vecCol, nCells))

  /** [[assignCells]] against a caller-supplied seed frame
    * `(seed_id, sv)` — for callers that already derived the seeds (the
    * IVF-PQ probe ranks the same frame: one corpus TakeOrdered instead of
    * two). */
  def assignCellsTo(emb: DataFrame, idCol: String, vecCol: String,
      seedsDf: DataFrame): DataFrame = {
    val seedArr = seedsDf
      .agg(sort_array(collect_list(struct(col("seed_id"), col("sv")))).as("seed_arr"))
    val best: Column = array_max(transform(col("seed_arr"), s =>
      struct(round6(cosine(col(vecCol), s.getField("sv"))).as("score"),
        (-s.getField("seed_id")).as("negid"))))
    emb.crossJoin(broadcast(seedArr))
      .withColumn("best", best)
      .select(col(idCol).cast("long").as(idCol), (-col("best.negid")).as("cell_id"),
        col(vecCol))
  }

  /** Cell-bounded hard-negative mining for contrastive training: for each
    * vector, the most cosine-similar SAME-CELL vector carrying a DIFFERENT
    * label — the "looks alike, isn't" example that makes a contrastive
    * batch informative (random negatives, cf. x_pair_contrastive, are
    * mostly trivially far). Exact hard-negative mining is an all-pairs
    * argmax; the cell restriction bounds it the same way semDedup bounds
    * the dup scan, and near vectors co-locate by construction, so the
    * in-cell argmax IS the plausible-hard candidate set. The per-vector
    * argmax is an aggregate (`max` of a (score, -negId, payload) struct —
    * partial aggregation shrinks each map side to one candidate per vector
    * before the shuffle), not a window sort. Vectors whose cell has no
    * other-label member yield no row. Output: (id, cell_id, neg_<id>,
    * neg_label, score), deterministic: 6-dp-rounded score, smaller neg id
    * on ties.
    *
    * `maxCellSize` is the same hot-cell enforcement as [[semDedup]]'s —
    * and it matters MORE here: different-label pairs do not halve via the
    * `a_id < b_id` triangle, so a hot cell costs a full cell² (the sf1
    * bench showed 17× at 10× data uncapped). Cells past the cap are
    * excluded from the pair stage entirely; their members simply yield no
    * row (a hard negative is an optional training extra, not corpus
    * membership — skipping is a coverage trade, observable via
    * [[cellStats]], never a wrong answer). The registry entry runs
    * uncapped so `x_pair_hardneg` keeps its full oracle. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nCells: Int,
      maxCellSize: Option[Int] = None): DataFrame = {
    val asgAll = assignCells(emb, idCol, vecCol, nCells)
      .join(emb.select(col(idCol).cast("long").as(idCol), col(labelCol)), Seq(idCol))
    val asg = capCells(asgAll, maxCellSize)
    val a = asg.select(col("cell_id"), col(idCol).as("a_id"),
      col(vecCol).as("va"), col(labelCol).as("la"))
    val b = asg.select(col("cell_id"), col(idCol).as("b_id"),
      col(vecCol).as("vb"), col(labelCol).as("lb"))
    a.join(b, Seq("cell_id"))
      .filter(col("la") =!= col("lb"))
      .withColumn("score", round6(cosine(col("va"), col("vb"))))
      .groupBy(col("a_id"), col("cell_id"))
      .agg(max(struct(col("score"), (-col("b_id")).as("negb"),
        col("lb").as("neg_label"))).as("m"))
      .select(col("a_id").as(idCol), col("cell_id"),
        (-col("m.negb")).as(s"neg_$idCol"), col("m.neg_label").as("neg_label"),
        col("m.score").as("score"))
  }

  /** Cell-size census: (cell_id, n) — the observability half of the
    * hot-cell guard. Same role as `TextDedup.lshBucketStats` on the LSH
    * path: before paying the quadratic pair stage, LOOK at the cell sizes;
    * a cell holding a disproportionate share of the corpus is the signal to
    * raise nCells (or re-seed) rather than discover the blowup mid-job. */
  def cellStats(emb: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame =
    census(assignCells(emb, idCol, vecCol, nCells))

  private def census(asg: DataFrame): DataFrame =
    asg.groupBy(col("cell_id")).agg(count(lit(1)).as("n"))

  /** The hot-cell guard's enforcement, shared by [[hardNegatives]] and
    * [[semDedupOnAssignment]]: `asgAll` minus the cells holding more than
    * the cap. nCells-row census (partial aggregation keeps the exchange at
    * nCells rows per task), then a broadcast left-semi join. */
  private def capCells(asgAll: DataFrame, maxCellSize: Option[Int]): DataFrame =
    maxCellSize match {
      case None => asgAll
      case Some(cap) =>
        val small = census(asgAll).filter(col("n") <= cap).select(col("cell_id"))
        asgAll.join(broadcast(small), Seq("cell_id"), "left_semi")
    }

  /** Per-vector verdict: (id, cell_id, keep 1|0). keep = 0 iff some
    * same-cell vector with a smaller id is cosine-similar past the
    * threshold.
    *
    * `maxCellSize` is the enforcement half of the hot-cell guard — the same
    * cap-and-census discipline as the LSH bucket path: cells larger than
    * the cap are EXCLUDED from the pair stage (their members all keep),
    * bounding the worst case at cap² per cell instead of hot-cell². The
    * exclusion is observable (cellStats names the skipped cells and their
    * sizes) and is a recall trade, never a precision one — exactly the
    * contract `TextDedup.candidatePairs` documents for oversized buckets.
    * The registry entry runs uncapped so the oracle sees the full
    * semantics; production at corpus scale runs capped. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String, cfg: Config,
      maxCellSize: Option[Int] = None): DataFrame =
    semDedupOnAssignment(assignCells(emb, idCol, vecCol, cfg.nCells),
      idCol, vecCol, cfg.threshold, maxCellSize)

  /** [[semDedup]] over a caller-supplied cell assignment
    * `(idCol, cell_id, vecCol)` — the hook for TRAINED cells: the scaladoc
    * above prescribes "seeds from a k-means pass" at production sizing,
    * and [[KMeans.assign]] produces exactly this frame. Semantics, the
    * hot-cell cap, and the keep-verdict contract are identical to the
    * hash-seeded path (which now delegates here). */
  def semDedupOnAssignment(asgAll: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxCellSize: Option[Int] = None): DataFrame = {
    val asg = capCells(asgAll, maxCellSize)
    val a = asg.select(col("cell_id"), col(idCol).as("a_id"), col(vecCol).as("va"))
    val b = asg.select(col("cell_id"), col(idCol).as("b_id"), col(vecCol).as("vb"))
    val dropped = a.join(b, Seq("cell_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(round6(cosine(col("va"), col("vb"))) >= threshold)
      .select(col("b_id").as(idCol)).distinct()
    // verdicts over asgAll, not asg: members of an over-cap cell were never
    // examined, so they keep — excluding them from the OUTPUT would instead
    // silently shrink the corpus
    asgAll.select(col(idCol), col("cell_id"))
      .join(dropped.withColumn("is_dup", lit(1L)), Seq(idCol), "left")
      .select(col(idCol), col("cell_id"),
        when(col("is_dup").isNull, 1L).otherwise(0L).as("keep"))
  }
}
