package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.portableHash60

/** Top principal direction of an integer-vector corpus by power iteration
  * over the (scaled) covariance — the embedding-whitening / anisotropy
  * primitive (dominant-direction removal is the standard post-processing
  * for embedding retrieval, and the dominant direction itself is the
  * drift axis a curation loop watches).
  *
  * Everything is exact integer arithmetic, so the iteration byte-matches
  * a SQL oracle the same way [[graft.operators.PageRank]] does:
  *   - covariance (times N): `S_ij = N·Σx_i x_j − (Σx_i)(Σx_j)`, integer
  *     sums of int8-quantized components; stored divided by N (truncating
  *     division — a deterministic, documented rescale that leaves the
  *     eigenvectors of the exact matrix unchanged up to the division's
  *     rounding).
  *   - power steps `u = S̃v` renormalized to max-abs `scale` each round;
  *     division is SIGN-SPLIT truncating (`sign(u)·(|u|·scale div m)`),
  *     because Spark's `div` truncates toward zero while DuckDB's `//`
  *     floors — on negatives they disagree, on magnitudes they agree.
  *
  * Scale shape: the covariance aggregation has FIXED d² state — each row
  * expands to its d² outer-product cells map-side (the vector dies at the
  * projection; only (i, j, x·y) ints survive) and partial aggregation
  * collapses every partition to ≤ d² cells before one tiny exchange, the
  * same bounded-state discipline as the count-min sketch. The iteration
  * then runs on d-row/d²-row frames: corpus size prices ONE aggregation
  * pass, the eigensolve is corpus-free. Overflow headroom: |S̃| ≲
  * 2N·127², so `u` stays under 64·|S̃|·scale — at 10⁹ vectors quantize
  * the accumulation down or train on a deterministic sample, as the IVF
  * trainer does (documented, not enforced).
  */
object PrincipalComponent {

  /** `(i, v)` — the settled direction's integer components on the
    * max-abs = `scale` grid, one row per dimension, after `iterations`
    * power steps from a deterministic hash-seeded start. `vecCol` must be
    * an `array<long>` of uniform length (quantize floats first — see
    * e_quant_topk's int8 grid). */
  def topComponent(vecs: DataFrame, vecCol: String,
      iterations: Int = 12, scale: Long = 4096L,
      maxDriverCells: Long = 1L << 20): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val v = col(vecCol)
    // ONE corpus pass (r13; the r12 shape scanned the corpus three times —
    // outer products, per-dim means, row count): each row emits its d²
    // outer-product cells PLUS d mean cells tagged j = −1 PLUS one count
    // cell tagged (−1, −1), and a single fixed-state aggregation collapses
    // all of them. Sums are order-independent integers, so the three
    // slices are byte-identical to the three separate aggregations.
    val outer = flatten(transform(v, (x, i) =>
      transform(v, (y, j) =>
        struct(i.as("i"), j.as("j"), (x * y).as("xy")))))
    val meanCells = transform(v, (x, i) =>
      struct(i.as("i"), lit(-1).as("j"), x.as("xy")))
    val countCell = array(struct(lit(-1).as("i"), lit(-1).as("j"), lit(1L).as("xy")))
    val agg = vecs.select(explode(concat(outer, meanCells, countCell)).as("c"))
      .select(col("c.i"), col("c.j"), col("c.xy"))
      .groupBy(col("i"), col("j")).agg(sum(col("xy")).as("sxy"))
      .localCheckpoint(true) // ≤ d²+d+1 rows; corpus work ends here
    val prod = agg.filter(col("i") >= 0 && col("j") >= 0)
    val means = agg.filter(col("i") >= 0 && col("j") === -1)
      .select(col("i"), col("sxy").as("m"))
    val n = agg.filter(col("i") === -1).select(col("sxy").as("n"))
    // S̃ = (N·Σxy − m_i·m_j) div N. Spark's `div` truncates toward zero on
    // the (possibly negative) numerator; the oracle sign-splits its `//`
    // (which floors) to agree — the scaladoc's portability note. All
    // frames below are d²-bounded views of the checkpointed aggregate —
    // tiny joins, no corpus lineage.
    val sm = prod
      .join(means.select(col("i"), col("m").as("mi")), "i")
      .join(means.select(col("i").as("j"), col("m").as("mj")), "j")
      .crossJoin(broadcast(n))
      .withColumn("num", col("n") * col("sxy") - col("mi") * col("mj"))
      .select(col("i"), col("j"), expr("num div n").as("sv"))
    // The eigensolve itself is corpus-FREE: its whole state is the d²-cell
    // matrix and a d-row vector — bounded by construction (the census /
    // k-centroids collect class). Running the 12 power steps as Spark jobs
    // costs ~3 tiny jobs per step in pure scheduling latency (measured r12:
    // ~70% of e_top_pc's wall); the same integer ops on the collected
    // cells are exact-identical (Scala Long `/` truncates toward zero like
    // Spark's `div`; overflow headroom per the scaladoc) and free. The
    // distributed loop remains for d past the collect bound — default
    // 2²⁰ cells (d ≤ 1024): ~16 B of payload per cell plus Row overhead,
    // order 100 MB of driver heap at the bound (r13; the old 2²² default
    // allowed ~4× that, a generous slice of a default driver heap).
    // The bound is probed with ONE limit-guarded collect — no separate
    // count() job.
    val spark = vecs.sparkSession
    val probeN = math.min(maxDriverCells, Int.MaxValue.toLong - 1L)
    val probed = sm.limit(probeN.toInt + 1).collect()
    if (probed.length <= maxDriverCells) {
      val cells = probed.map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2)))
      val dims = cells.map(_._1).distinct.sorted
      var v: Map[Int, Long] = dims.map(i =>
        i -> (math.floorMod(h60(s"pc0:$i"), 2 * scale) - scale)).toMap
      for (_ <- 1 to iterations) {
        val u = new scala.collection.mutable.HashMap[Int, Long]()
        cells.foreach { case (i, j, sv) =>
          u.update(i, u.getOrElse(i, 0L) + sv * v(j))
        }
        val mx = if (u.isEmpty) 0L else u.valuesIterator.map(math.abs).max
        v = dims.map(i => i ->
          (if (mx == 0L) u(i) else (u(i) * scale) / mx)).toMap
      }
      import spark.implicits._
      spark.createDataset(dims.map(i => (i, v(i))).toSeq).toDF("i", "v")
    } else {
      // materialize the matrix once: each of the power steps below reads
      // it, and lazily every read would re-run its three-way join
      val smm = sm.localCheckpoint(true)
      var vec = smm.select(col("i")).distinct()
        .select(col("i"),
          (pmod(portableHash60(concat(lit("pc0:"), col("i").cast("string"))),
            lit(2 * scale)) - scale).as("v"))
        .localCheckpoint(true)
      for (_ <- 1 to iterations) {
        val u = smm.join(vec.select(col("i").as("j"), col("v")), "j")
          .select(col("i"), (col("sv") * col("v")).as("p"))
          .groupBy(col("i")).agg(sum(col("p")).as("u"))
        val mx = u.agg(max(abs(col("u"))).as("mx"))
        vec = u.crossJoin(broadcast(mx))
          .select(col("i"),
            expr(s"CASE WHEN mx = 0 THEN u ELSE (u * $scale) div mx END").as("v"))
          .localCheckpoint(true)
      }
      vec
    }
  }

  /** Driver-side image of [[graft.functions.TextFunctions.portableHash60]]:
    * the first 15 hex chars of md5 parsed base-16 (a nonnegative 60-bit
    * long), byte-identical to the SQL expression. */
  private def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }
}
