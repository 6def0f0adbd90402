package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expressions.RademacherBands
import graft.functions.VectorFunctions._
import graft.similarity.SimilaritySearch

/** Similarity-search operators over the `embeddings` table (`vec_id`,
  * `embedding array<float>`, `label`).
  *
  * Oracle-checked members mirror the Spark in-order double fold with DuckDB
  * `list_reduce(list_prepend(0.0, ...))` — bit-identical accumulation — and
  * round scores to 6 dp with id tiebreaks for stable ordering. The LSH path
  * is rows-only (plane generation is engine-internal) and its recall is
  * asserted against the brute-force baseline in ScalaTest.
  */
object VectorQueries {

  private def emb(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings")

  /** The embeddings scan with the layout-adaptive spread (Tables.loadSpread)
    * — for pipelines that EXPAND each row by d× or d²× before aggregating
    * (the covariance outer product), where a degenerate single-row-group
    * layout serializes the expansion onto one task. Per-row vector kernels
    * (cosine, norms, banding) keep the plain scan: measured r12, the
    * exchange costs more than it wins there. */
  private def embSpread(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.loadSpread(s, dir, "embeddings")

  /** DuckDB in-order left fold: sum of `expr` over list `l` (index var i). */
  private def duckFoldSum(l: String, expr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(1, len($l)), i -> $expr)), (a, b) -> a + b)"

  private val DotQ = duckFoldSum("embedding", "CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)")
  private val NormE = s"sqrt(${duckFoldSum("embedding", "CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)")})"
  private val NormQ = s"sqrt(${duckFoldSum("qv", "CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)")})"

  // Pairwise-cosine fold fragments over aliased embeddings (ea, eb).
  private val DotAB = duckFoldSum("ea", "CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)")
  private val NormA = s"sqrt(${duckFoldSum("ea", "CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)")})"
  private val NormB = s"sqrt(${duckFoldSum("eb", "CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)")})"
  /** The 6-dp cosine from a pair's folded `d`, `na`, `nb`. */
  private val CosAB = "floor((CASE WHEN na * nb = 0 THEN 0.0 ELSE d / (na * nb) END) * 1000000 + 0.5) / 1000000"

  /** The all-pairs cosine ≥ 0.4 tail over candidate pairs `p(a_id, b_id,
    * ea, eb)` — shared by e_dup_pairs_exact and e_dup_pairs_portable. */
  private val DupPairsTailSql =
    s"""sc AS (SELECT a_id, b_id, $DotAB AS d, $NormA AS na, $NormB AS nb FROM p)
       |SELECT a_id, b_id, score FROM (
       |  SELECT a_id, b_id,
       |    $CosAB AS score
       |  FROM sc)
       |WHERE score >= 0.4""".stripMargin

  /** Per-`key` mean `mu` and population std `sigma` of double column `x`,
    * from fixed-point (1e-9 grid) BIGINT sums, so the moments are exact
    * under any merge order — shared by e_standardize and the SemDeDup
    * outlier z-scores. */
  private def fixedPointMoments(d: org.apache.spark.sql.DataFrame, key: String,
      x: String): org.apache.spark.sql.DataFrame =
    d.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(floor(col(x) * 1e9).cast("long")).as("s1"),
        sum(floor(col(x) * col(x) * 1e9).cast("long")).as("s2"))
      .withColumn("mu", col("s1").cast("double") / (col("n").cast("double") * 1e9))
      .withColumn("sigma", sqrt(greatest(
        col("s2").cast("double") / (col("n").cast("double") * 1e9) -
          col("mu") * col("mu"), lit(0.0))))
      .select(col(key), col("mu"), col("sigma"))

  /** The DuckDB image of [[fixedPointMoments]]: the `n, s1, s2` sums of
    * `x`, then `mu, sigma` over them. */
  private def momentSumsSql(x: String): String =
    s"""count(*) AS n,
       |    sum(CAST(floor($x * 1e9) AS BIGINT)) AS s1,
       |    sum(CAST(floor($x * $x * 1e9) AS BIGINT)) AS s2""".stripMargin
  private val MuSigmaSql =
    """CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) AS mu,
      |    sqrt(greatest(
      |      CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) -
      |        (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)) *
      |        (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)), 0.0)) AS sigma""".stripMargin

  /** Per-vector max-abs int8 quantization — the integer grid shared by
    * e_quant_topk and e_top_pc (Spark side). */
  private def quantQ(v: org.apache.spark.sql.Column) = {
    val mx = array_max(transform(v, x => abs(x.cast("double"))))
    when(mx === 0.0, transform(v, _ => lit(0L))).otherwise(
      transform(v, x => floor(x.cast("double") / mx * 127.0 + 0.5).cast("long")))
  }

  /** The same grid as DuckDB CTE `q(vec_id, qv)` — shared so the two
    * entries' quantization can never drift. */
  private val QuantCte = """q AS (
    |  SELECT vec_id,
    |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
    |         ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5) AS BIGINT)) END AS qv
    |  FROM (SELECT vec_id, embedding,
    |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
    |        FROM embeddings))""".stripMargin

  /** Iteration count shared by the e_top_pc Spark body (the operator's
    * default) and the oracle's unrolled chain. */
  private val PcIters = 12

  /** graft.similarity.PrincipalComponent's integer power iteration as
    * DuckDB CTEs ending in `pv12(i, v)`: int8 grid → d² covariance cells
    * (×N, then div N) → hash-seeded start → 12 unrolled steps with
    * max-abs renormalization. Division is sign-split because `//` floors
    * while Spark's `div` truncates — on negatives they disagree. */
  private val TopPcCtes: String = {
    // AS MATERIALIZED is load-bearing: pv_k reads pu_k twice (values +
    // max), and inlining would recompute the whole upstream chain per
    // reference — 2^iters scans of the base table (observed as an
    // fd-exhaustion failure before this was pinned).
    val iters = (1 to PcIters).map { k =>
      s"""pu$k AS MATERIALIZED (
         |  SELECT s.i, CAST(sum(s.sv * v.v) AS BIGINT) AS u
         |  FROM psm s JOIN pv${k - 1} v ON s.j = v.i GROUP BY s.i),
         |pv$k AS MATERIALIZED (
         |  SELECT i, CASE WHEN mx = 0 THEN u
         |                 WHEN u < 0 THEN -((-u * 4096) // mx)
         |                 ELSE (u * 4096) // mx END AS v
         |  FROM pu$k, (SELECT max(abs(u)) AS mx FROM pu$k))""".stripMargin
    }.mkString(",\n")
    s"""$QuantCte,
       |pcl0 AS (SELECT vec_id, qv, unnest(generate_series(1, len(qv))) AS gi FROM q),
       |pcells AS MATERIALIZED (SELECT vec_id, gi - 1 AS i, qv[gi] AS x FROM pcl0),
       |pprod AS (
       |  SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sxy
       |  FROM pcells a JOIN pcells b USING (vec_id) GROUP BY 1, 2),
       |pmean AS (SELECT i, CAST(sum(x) AS BIGINT) AS m FROM pcells GROUP BY i),
       |pn AS (SELECT count(*) AS n FROM q),
       |psm AS MATERIALIZED (
       |  SELECT i, j, CASE WHEN num < 0 THEN -((-num) // n) ELSE num // n END AS sv
       |  FROM (SELECT p.i AS i, p.j AS j, n * p.sxy - mi.m * mj.m AS num, n
       |        FROM pprod p JOIN pmean mi ON p.i = mi.i
       |          JOIN pmean mj ON p.j = mj.i CROSS JOIN pn)),
       |pv0 AS (
       |  SELECT i, ('0x' || substr(md5('pc0:' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 8192 - 4096 AS v
       |  FROM (SELECT DISTINCT i FROM psm)),
       |$iters""".stripMargin
  }

  /** Sizing shared by the e_kmeans Spark body and its unrolled oracle. */
  private val KmK = 8
  private val KmIters = 4

  /** graft.similarity.KMeans' Lloyd's rounds as DuckDB CTEs ending in
    * `kasg${KmIters+1}(vec_id, cid, score)` — the final assignment against
    * the round-`KmIters` centroids. Each round k: `ksc`/`kasg` replay the
    * argmax of the 6-dp-rounded cosine (in-order fold ≡ the fused Spark
    * kernel bit-for-bit; cid tiebreak), `kcs`/`kc` rebuild centroids as
    * elementwise SUMS of 1e-9-grid BIGINT components (cosine is
    * scale-invariant, so the sum IS the mean direction — exact integers,
    * no truncating-division portability hazard). Empty cells drop out of
    * the group-by in both engines. MATERIALIZED for the TopPcCtes reason:
    * inlining an unrolled chain re-evaluates upstream rounds per
    * reference. */
  private val KMeansCtes: String = {
    val dotEC = duckFoldSum("embedding", "CAST(embedding[i] AS DOUBLE) * cv[i]")
    val normC = s"sqrt(${duckFoldSum("cv", "cv[i] * cv[i]")})"
    def asg(k: Int) =
      s"""ksc$k AS (
         |  SELECT vec_id, cid, embedding,
         |    floor((CASE WHEN ne * nc = 0 THEN 0.0 ELSE d / (ne * nc) END) * 1000000 + 0.5) / 1000000 AS score
         |  FROM (SELECT e.vec_id, c.cid, e.embedding,
         |          $dotEC AS d, $NormE AS ne, $normC AS nc
         |        FROM embeddings e CROSS JOIN kc${k - 1} c)),
         |kasg$k AS MATERIALIZED (
         |  SELECT vec_id, cid, embedding, score FROM (
         |    SELECT vec_id, cid, embedding, score,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
         |    FROM ksc$k)
         |  WHERE rn = 1)"""
    def upd(k: Int) =
      s"""kcs$k AS (
         |  SELECT cid, idx, CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS s
         |  FROM (SELECT cid, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS idx
         |        FROM kasg$k)
         |  GROUP BY 1, 2),
         |kc$k AS MATERIALIZED (
         |  SELECT cid, list(CAST(s AS DOUBLE) ORDER BY idx) AS cv FROM kcs$k GROUP BY cid)"""
    val rounds = (1 to KmIters).map(k => asg(k) + ",\n" + upd(k)).mkString(",\n")
    s"""kc0 AS MATERIALIZED (
       |  SELECT vec_id AS cid,
       |    list_transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1e9) AS BIGINT) AS DOUBLE)) AS cv
       |  FROM embeddings
       |  ORDER BY ('0x' || substr(md5('seed:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
       |  LIMIT $KmK),
       |$rounds,
       |${asg(KmIters + 1)}""".stripMargin
  }

  /** graft.similarity.ProductQuantizer's encode + query-LUT chain as
    * DuckDB CTEs ending in `pqcodes(vec_id, j, code_id)` and
    * `pqlut(j, code_id, lf)` (fixed-point subspace dot products for the
    * vec_id=0 query) — shared by e_pq_topk and the IVF-PQ composition so
    * the two entries' quantization can never drift. Names are pq-prefixed
    * because the composition also inlines SemCellCtes (which owns `sc`).
    */
  private val PqCtes: String = {
    def sfold(expr: String) =
      "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(generate_series(j * 8 + 1, j * 8 + 8), i -> $expr)), (a, b) -> a + b)"
    val dist = sfold("(CAST(embedding[i] AS DOUBLE) - CAST(sv[i] AS DOUBLE)) * " +
      "(CAST(embedding[i] AS DOUBLE) - CAST(sv[i] AS DOUBLE))")
    val qdot = sfold("CAST(qv[i] AS DOUBLE) * CAST(sv[i] AS DOUBLE)")
    s"""pseeds AS (
       |  SELECT vec_id AS code_id, embedding AS sv FROM embeddings
       |  ORDER BY ('0x' || substr(md5('pqseed:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
       |           vec_id
       |  LIMIT 16),
       |pqsub AS (SELECT unnest(generate_series(0, 7)) AS j),
       |pqd AS (
       |  SELECT e.vec_id, j, code_id,
       |    floor(($dist) * 1000000 + 0.5) / 1000000 AS dist
       |  FROM embeddings e CROSS JOIN pqsub CROSS JOIN pseeds),
       |pqcodes AS (
       |  SELECT vec_id, j, code_id FROM (
       |    SELECT vec_id, j, code_id,
       |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code_id) AS rn
       |    FROM pqd) WHERE rn = 1),
       |pqlut AS (
       |  SELECT j, code_id, CAST(floor(($qdot) * 1e9) AS BIGINT) AS lf
       |  FROM (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |       CROSS JOIN pqsub CROSS JOIN pseeds)""".stripMargin
  }

  /** DuckDB in-order left fold over the FIRST `n` elements (the matryoshka
    * prefix image of [[duckFoldSum]]). */
  private def duckFoldSumN(n: Int, expr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(1, $n), i -> $expr)), (a, b) -> a + b)"

  /** Sizing of the matryoshka registry slice, shared Spark/oracle. */
  private val MkQueries = 4
  private val MkPrefix = 16
  private val MkShort = 32
  private val MkK = 10

  /** The dot and norms of `embedding`·`qv` over the first MkPrefix dims —
    * the stage-1 score of e_matryoshka_topk and e_eval_metrics. */
  private val DotQP = duckFoldSumN(MkPrefix,
    "CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)")
  private val NormEP = s"sqrt(${duckFoldSumN(MkPrefix,
    "CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)")})"
  private val NormQP = s"sqrt(${duckFoldSumN(MkPrefix,
    "CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)")})"

  /** Sizing of the MMR registry slice, shared by the Spark body and the
    * unrolled oracle below. */
  private val MmrQueries = 8
  private val MmrShort = 16
  private val MmrK = 5
  private val MmrLambda = 700 // λ = 0.7 as the rational 700/1000

  /** [[graft.similarity.Mmr.diversifiedTopK]]'s full pipeline as DuckDB
    * CTEs ending in `mselu$MmrK(query_id, cand_id, rel, rnk)` — relevance
    * grid, per-query shortlist, pairwise-sim grid, and the greedy MMR
    * selection UNROLLED round by round (the KMeansCtes discipline: an
    * iterative operator's oracle replays each round exactly; MATERIALIZED
    * because every round references the cumulative selection twice).
    * Round 1's objective is λ·rel alone (no selected set yet); round t
    * maximizes λnum·rel − (1000−λnum)·max-sim-to-selected over the
    * unselected shortlist — exact BIGINTs on the 1e6 grid, id tiebreak. */
  private val MmrCtes: String = {
    val lb = 1000 - MmrLambda
    val rounds = (2 to MmrK).map { t =>
      s"""msel$t AS MATERIALIZED (
         |  SELECT query_id, cand_id, rel, $t AS rnk FROM (
         |    SELECT s.query_id, s.cand_id, s.rel,
         |      row_number() OVER (PARTITION BY s.query_id
         |        ORDER BY $MmrLambda * s.rel - $lb * ms.msim DESC, s.cand_id) AS rn
         |    FROM msl s
         |    JOIN (SELECT p.query_id, p.ca AS cand_id, max(p.sim) AS msim
         |          FROM mps p JOIN mselu${t - 1} u
         |            ON p.query_id = u.query_id AND p.cb = u.cand_id
         |          GROUP BY 1, 2) ms
         |      ON s.query_id = ms.query_id AND s.cand_id = ms.cand_id
         |    WHERE NOT EXISTS (SELECT 1 FROM mselu${t - 1} u2
         |                      WHERE u2.query_id = s.query_id
         |                        AND u2.cand_id = s.cand_id))
         |  WHERE rn = 1),
         |mselu$t AS MATERIALIZED (
         |  SELECT * FROM mselu${t - 1} UNION ALL SELECT * FROM msel$t)""".stripMargin
    }.mkString(",\n")
    s"""mq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |       WHERE vec_id < $MmrQueries),
       |msc AS (
       |  SELECT query_id, cand_id, cv,
       |    CAST(floor((CASE WHEN na * nq = 0 THEN 0.0 ELSE d / (na * nq) END)
       |               * 1000000 + 0.5) AS BIGINT) AS rel
       |  FROM (SELECT query_id, cand_id, embedding AS cv,
       |          $DotQ AS d, $NormE AS na, $NormQ AS nq
       |        FROM (SELECT mq.query_id, e.vec_id AS cand_id, e.embedding, mq.qv
       |              FROM embeddings e CROSS JOIN mq
       |              WHERE e.vec_id <> mq.query_id))),
       |msl AS MATERIALIZED (
       |  SELECT query_id, cand_id, cv, rel FROM (
       |    SELECT query_id, cand_id, cv, rel,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY rel DESC, cand_id) AS rn
       |    FROM msc) WHERE rn <= $MmrShort),
       |mps AS MATERIALIZED (
       |  SELECT query_id, ca, cb,
       |    CAST(floor((CASE WHEN na * nb = 0 THEN 0.0 ELSE d / (na * nb) END)
       |               * 1000000 + 0.5) AS BIGINT) AS sim
       |  FROM (SELECT query_id, ca, cb, $DotAB AS d, $NormA AS na, $NormB AS nb
       |        FROM (SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
       |                a.cv AS ea, b.cv AS eb
       |              FROM msl a JOIN msl b
       |                ON a.query_id = b.query_id AND a.cand_id <> b.cand_id))),
       |msel1 AS MATERIALIZED (
       |  SELECT query_id, cand_id, rel, 1 AS rnk FROM (
       |    SELECT query_id, cand_id, rel,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY rel DESC, cand_id) AS rn
       |    FROM msl) WHERE rn = 1),
       |mselu1 AS MATERIALIZED (SELECT * FROM msel1),
       |$rounds""".stripMargin
  }

  /** Geometry of the portable-LSH twins — shared by the Spark builders and
    * the SQL replay below so they can never drift. */
  private val PortableLsh = SimilaritySearch.PortableLshConfig(
    dim = 64, bands = 16, bitsPerBand = 8, maxBucket = 2048)

  /** The DuckDB image of [[graft.expressions.RademacherBands]] over the
    * embeddings table + the bucket-cap census: CTEs `planes` (±1 signs from
    * the shared md5 derivation — the SQL body lives next to the Scala
    * derivation in RademacherBands.planesSql), `qv` (round6-quantized
    * integer vectors), `comp` (per-bit ±long sums — exact in any engine,
    * any order), `keys` (packed band keys, one per (vec, band)), `capped`
    * (keys in buckets ≤ maxBucket, the capBuckets image). */
  private val PortableKeyCtes: String =
    s"""planes AS (
       |  ${RademacherBands.planesSql(PortableLsh.dim, PortableLsh.bands, PortableLsh.bitsPerBand)}),
       |pqv AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |comp AS (
       |  SELECT v.vec_id, p.b, p.j, COALESCE(sum(v.q[p.i + 1] * p.sgn), 0) AS dot
       |  FROM pqv v CROSS JOIN planes p
       |  GROUP BY v.vec_id, p.b, p.j),
       |keys AS (
       |  SELECT vec_id,
       |    (CAST(b AS BIGINT) << 48) +
       |    sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS band_key
       |  FROM comp GROUP BY vec_id, b),
       |capped AS (
       |  SELECT band_key, vec_id FROM keys
       |  WHERE band_key IN (SELECT band_key FROM keys
       |                     GROUP BY band_key HAVING count(*) <= ${PortableLsh.maxBucket}))""".stripMargin

  /** The DuckDB image of [[graft.similarity.SemDedup.assignCells]] —
    * hash-ordered seed selection and rounded argmax-cosine assignment —
    * shared by e_semdedup and x_pair_hardneg so both oracles replay the
    * exact same cell structure. Yields CTEs `seeds`, `sc`, `asg`
    * (asg: vec_id, seed_id, embedding). */
  private def semCellCtes(src: String): String = {
    val dotES = duckFoldSum("embedding", "CAST(embedding[i] AS DOUBLE) * CAST(sv[i] AS DOUBLE)")
    val normS = s"sqrt(${duckFoldSum("sv", "CAST(sv[i] AS DOUBLE) * CAST(sv[i] AS DOUBLE)")})"
    s"""seeds AS (
       |  SELECT vec_id AS seed_id, embedding AS sv FROM $src
       |  ORDER BY ('0x' || substr(md5('seed:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
       |           vec_id
       |  LIMIT 16),
       |sc AS (
       |  SELECT vec_id, seed_id, embedding,
       |    floor((CASE WHEN na * ns = 0 THEN 0.0 ELSE d / (na * ns) END) * 1000000 + 0.5) / 1000000 AS score
       |  FROM (SELECT e.vec_id, s.seed_id, e.embedding,
       |          $dotES AS d, $NormE AS na, $normS AS ns
       |        FROM $src e, seeds s)),
       |asg AS (
       |  SELECT vec_id, seed_id, embedding FROM (
       |    SELECT vec_id, seed_id, embedding,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, seed_id) AS rn
       |    FROM sc)
       |  WHERE rn = 1)""".stripMargin
  }

  private val SemCellCtes: String = semCellCtes("embeddings")

  /** SemDeDup's verdict over cell assignment CTE `asg` (cell column
    * `cell`): within each cell, drop the larger id of every pair at cosine
    * ≥ 0.4, keep the rest. `prefix` names this chain's CTEs. */
  private def semDedupKeepSql(asg: String, cell: String, prefix: String): String =
    s"""${prefix}ps AS (
       |  SELECT b_id, $DotAB AS d, $NormA AS na, $NormB AS nb FROM (
       |    SELECT b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb
       |    FROM $asg a JOIN $asg b ON a.$cell = b.$cell AND a.vec_id < b.vec_id)),
       |${prefix}drp AS (
       |  SELECT DISTINCT b_id AS vec_id FROM ${prefix}ps
       |  WHERE $CosAB >= 0.4)
       |SELECT g.vec_id, CAST(g.$cell AS BIGINT) AS cell_id,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM $asg g LEFT JOIN ${prefix}drp d ON d.vec_id = g.vec_id""".stripMargin

  /** Exact top-5 by 6-dp cosine over the candidate pairs `cand(query_id,
    * cand_id)`: CTE `pairs` fetches both vectors from `src`, `scored`
    * folds dot and norms, then rank — the tail of every portable k-NN
    * oracle (IVF, IVF after delete, Rademacher LSH). */
  private def knnTop5Sql(src: String, pairs: String, scored: String): String =
    s"""$pairs AS (
       |  SELECT c.query_id, c.cand_id, eq.embedding AS ea, ec.embedding AS eb
       |  FROM cand c JOIN $src eq ON eq.vec_id = c.query_id
       |              JOIN $src ec ON ec.vec_id = c.cand_id),
       |$scored AS (SELECT query_id, cand_id, $DotAB AS d, $NormA AS na, $NormB AS nb FROM $pairs),
       |r AS (
       |  SELECT query_id, cand_id,
       |    $CosAB AS score
       |  FROM $scored)
       |SELECT query_id, cand_id, score, rnk FROM (
       |  SELECT query_id, cand_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rnk
       |  FROM r)
       |WHERE rnk <= 5""".stripMargin

  /** The e_knn_ivf_portable chain over `src`: the hash-seeded cells,
    * nProbe = 4 probed cells per query (vec_id < 20), every other member
    * of those cells a candidate, exact top-5 within. */
  private def ivfKnnSql(src: String): String =
    s"""${semCellCtes(src)},
       |probe AS (
       |  SELECT vec_id AS query_id, seed_id AS cell_id FROM (
       |    SELECT vec_id, seed_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, seed_id) AS rn
       |    FROM sc WHERE vec_id < 20)
       |  WHERE rn <= 4),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS cand_id
       |  FROM probe p JOIN asg a ON a.seed_id = p.cell_id
       |  WHERE a.vec_id <> p.query_id),
       |${knnTop5Sql(src, "cp", "cs")}""".stripMargin

  val all: Seq[Q] = Seq(

    // Vector stats: dimension + L2 norm.
    Q("e_norms",
      (s, dir) => emb(s, dir).select(
        col("vec_id"),
        dim(col("embedding")).as("dim"),
        graft.operators.RelationalOps.round6(norm(col("embedding"))).as("l2"),
        col("label")),
      Some(s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
              |  floor(($NormE) * 1000000 + 0.5) / 1000000 AS l2, label
              |FROM embeddings""".stripMargin),
      headline = true),

    // Brute-force cosine top-10 against the vec_id=0 embedding — the exact
    // ANN baseline. TakeOrderedAndProject: per-partition top-k, driver merge.
    Q("e_cosine_topk",
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id"), graft.operators.RelationalOps.round6(cosine(col("embedding"), col("qv"))).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
              |sc AS (SELECT vec_id, $DotQ AS d, $NormE AS na, $NormQ AS nq
              |       FROM embeddings, q WHERE vec_id <> 0)
              |SELECT vec_id,
              |  floor((CASE WHEN na * nq = 0 THEN 0.0 ELSE d / (na * nq) END) * 1000000 + 0.5) / 1000000 AS score
              |FROM sc ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),
      headline = true),

    // Label centroid similarity: exact per-label mean-vector cosine to the
    // query — aggregation over vectors (element-wise decimal-free but
    // deterministic: fixed fold inside a row, exact double sums avoided by
    // operating on per-row cosines). Group stats of per-row cosine scores.
    Q("e_label_stats",
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        e.crossJoin(broadcast(q))
          .select(col("label"), graft.operators.RelationalOps.round6(cosine(col("embedding"), col("qv"))).as("score"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            min(col("score")).as("min_score"),
            max(col("score")).as("max_score"))
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
              |sc AS (SELECT label, $DotQ AS d, $NormE AS na, $NormQ AS nq
              |       FROM embeddings, q)
              |SELECT label, count(*) AS n,
              |  min(floor((CASE WHEN na * nq = 0 THEN 0.0 ELSE d / (na * nq) END) * 1000000 + 0.5) / 1000000) AS min_score,
              |  max(floor((CASE WHEN na * nq = 0 THEN 0.0 ELSE d / (na * nq) END) * 1000000 + 0.5) / 1000000) AS max_score
              |FROM sc GROUP BY label""".stripMargin)),

    // LSH-bucketed approximate k-NN join for the first 20 query vectors —
    // the scale path (candidates via band join, no quadratic stage).
    // Rows-only; recall vs brute force asserted in SimilaritySpec.
    Q("e_knn_lsh",
      (s, dir) => {
        val e = emb(s, dir)
        SimilaritySearch.knnJoinLSH(
          e.filter(col("vec_id") < 20), e, "vec_id", "embedding",
          k = 5, SimilaritySearch.LshConfig(dim = 64))
      },
      None,
      headline = true),

    // IVF-bucketed approximate k-NN (coarse-quantizer scale path; rows-only,
    // recall vs brute force asserted in IvfSpec).
    Q("e_knn_ivf",
      (s, dir) => {
        val e = emb(s, dir)
        graft.similarity.IvfIndex.knnJoinIVF(
          e.filter(col("vec_id") < 20), e, "vec_id", "embedding",
          k = 5, graft.similarity.IvfIndex.Config(nCentroids = 16, nProbe = 8))
      },
      None),

    // PORTABLE-oracle twin of e_knn_ivf: identical IVF search semantics
    // (one cell per corpus vector, nProbe probed cells per query, exact
    // top-k within), with SemDeDup's deterministic hash-chosen seeds as
    // the quantizer — every stage SQL-replayable (the ANN analog of the
    // Rademacher LSH twins). The shared SemCellCtes means this oracle and
    // e_semdedup's replay the exact same cell structure.
    Q("e_knn_ivf_portable",
      (s, dir) => {
        val e = emb(s, dir)
        graft.similarity.IvfIndex.knnJoinIVFPortable(
          e.filter(col("vec_id") < 20), e, "vec_id", "embedding",
          k = 5, nCells = 16, nProbe = 4)
      },
      Some(s"WITH ${ivfKnnSql("embeddings")}")),

    // The ANN DELETION lifecycle under a full oracle (right-to-be-forgotten
    // for a standing vector index, the t_bm25_after_delete pattern): build
    // the portable persisted index on the survivors, append the doomed
    // vectors (assigned with the STORED seeds — no reseed), tombstone-
    // delete them, compact (physical removal + tomb clear), then search.
    // DuckDB replays the e_knn_ivf_portable chain over `embeddings WHERE
    // vec_id % 5 <> 0` — so the tombstone anti-join, the compaction's
    // physical drop, and the stored-seed append must land the index
    // byte-identical to a fresh build on the survivors, or the match
    // breaks. (The TRAINED index deliberately lacks this property — its
    // centroids are historical-corpus statistics; IvfSpec pins its
    // delete semantics instead.)
    Q("e_knn_after_delete",
      (s, dir) => {
        val idx = Q.workDir(s, "ivfdel", dir)
        val e = emb(s, dir)
        val survivors = e.filter(col("vec_id") % 5 =!= 0)
        val victims = e.filter(col("vec_id") % 5 === 0)
        graft.similarity.IvfIndex.buildPortable(
          survivors, "vec_id", "embedding", idx, nCells = 16)
        graft.similarity.IvfIndex.appendVectorsPortable(
          victims, "vec_id", "embedding", idx)
        graft.similarity.IvfIndex.deleteVectors(
          victims.select(col("vec_id")), idx, "vec_id")
        graft.similarity.IvfIndex.compact(s, idx, maxFiles = 1)
        graft.similarity.IvfIndex.searchIndexPortable(
          survivors.filter(col("vec_id") < 20), idx, "vec_id", "embedding",
          k = 5, nProbe = 4)
      },
      Some(
        s"""WITH surv AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
           |${ivfKnnSql("surv")}""".stripMargin)),

    // Embedding-cosine near-duplicate pairs (dedup family, embedding space),
    // LSH-bucketed — the 10⁹-row scale path. Threshold 0.4 is tuned to the
    // synthetic near-orthogonal test corpus (max pairwise cosine ≈ 0.51;
    // 0.95 matches nothing, a vacuous check) and the band count to recall at
    // that threshold: P(collide | cos=0.4) = (1−θ/π)^8 ≈ 0.025 per band, so
    // 96 bands give ≈ 0.91 recall; a production dedup threshold (≥ 0.9)
    // needs far fewer bands. Deterministic (seeded planes) → stable rows;
    // exactness of the kernel is oracle-checked via e_dup_pairs_exact, and
    // LSH-vs-exact recall is asserted in SimilaritySpec.
    Q("e_dup_pairs",
      (s, dir) => SimilaritySearch.embeddingDupPairs(
        emb(s, dir), "vec_id", "embedding", threshold = 0.4,
        SimilaritySearch.LshConfig(dim = 64, bands = 96, bitsPerBand = 8)),
      None),

    // Int8 scalar quantization + quantized cosine top-10 — the memory path
    // at 10⁹×768 scale (4 bytes/dim → 1). Quantize per vector to
    // round(x/max|x|·127); the dot/norm arithmetic is then INTEGER — exact
    // in any engine and any order — and only the final normalize/round is
    // float, mirrored by the oracle. SimilaritySpec-style recall vs exact
    // cosine is inherent: assert via the shared top-k with e_cosine_topk in
    // the spec; here the whole computation is byte-checked by DuckDB.
    Q("e_quant_topk",
      (s, dir) => {
        val e = emb(s, dir)
        val withQ = e.select(col("vec_id"), quantQ(col("embedding")).as("qv"))
        val q0 = withQ.filter(col("vec_id") === 0).select(col("qv").as("q0"))
        def idot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
        withQ.filter(col("vec_id") =!= 0).crossJoin(broadcast(q0))
          .select(col("vec_id"),
            idot(col("qv"), col("q0")).as("d"),
            idot(col("qv"), col("qv")).as("na2"),
            idot(col("q0"), col("q0")).as("nb2"))
          .select(col("vec_id"), graft.operators.RelationalOps.round6(
            when(col("na2") * col("nb2") === 0, 0.0).otherwise(
              col("d").cast("double") /
                (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))))
            .as("qscore"))
          .orderBy(col("qscore").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH $QuantCte,
             |q0 AS (SELECT qv AS v0 FROM q WHERE vec_id = 0),
             |sc AS (
             |  SELECT vec_id,
             |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * v0[i])) AS d,
             |    list_sum(list_transform(qv, x -> x * x)) AS na2,
             |    list_sum(list_transform(v0, x -> x * x)) AS nb2
             |  FROM q, q0 WHERE vec_id <> 0)
             |SELECT vec_id,
             |  floor((CASE WHEN na2 * nb2 = 0 THEN 0.0
             |              ELSE CAST(d AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) END) * 1000000 + 0.5) / 1000000 AS qscore
             |FROM sc ORDER BY qscore DESC, vec_id LIMIT 10""".stripMargin)),

    // Top principal direction of the embedding corpus
    // (graft.similarity.PrincipalComponent): covariance of the int8 grid
    // via map-side d² outer-product cells — FIXED 4096-cell aggregation
    // state at any corpus size, the count-min discipline applied to
    // linear algebra — then 12 integer power iterations with max-abs
    // renormalization, the PageRank exactness discipline applied to an
    // eigensolve. The dominant direction is the embedding-whitening /
    // anisotropy primitive (and the drift axis a curation loop watches);
    // a double-precision eigensolve reference is pinned in
    // PrincipalComponentSpec.
    Q("e_top_pc",
      (s, dir) => {
        val q = embSpread(s, dir).select(quantQ(col("embedding")).as("qv"))
        graft.similarity.PrincipalComponent.topComponent(q, "qv", PcIters)
          .select(col("i").cast("long").as("i"), col("v"))
      },
      Some(s"WITH $TopPcCtes\nSELECT i, v FROM pv$PcIters")),

    // Whitened cosine retrieval — the eigensolve USED: project the
    // dominant direction out of every embedding (the standard
    // all-but-the-top post-processing that removes anisotropy from the
    // similarity space) and rank by cosine in the whitened space. The PC
    // comes from e_top_pc's exact integer chain; the whitening and
    // scoring are in-order double folds (the composed VectorFunctions
    // form — O(rows) single-query scoring, where the discipline allows
    // it) rounded at 6 dp only at the end, so the oracle replays the
    // identical IEEE operation sequence.
    Q("e_whiten_topk",
      (s, dir) => {
        val e = emb(s, dir)
        val q = embSpread(s, dir).select(quantQ(col("embedding")).as("qv"))
        val pc = graft.similarity.PrincipalComponent.topComponent(q, "qv", PcIters)
        val pcArr = pc
          .agg(array_sort(collect_list(struct(col("i"), col("v")))).as("st"))
          .select(transform(col("st"), x => x.getField("v").cast("double")).as("pcv"))
        val withW = e.crossJoin(broadcast(pcArr))
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("ed"),
            col("pcv"))
          .withColumn("f",
            when(dot(col("pcv"), col("pcv")) === 0.0, lit(0.0))
              .otherwise(dot(col("ed"), col("pcv")) / dot(col("pcv"), col("pcv"))))
          .select(col("vec_id"),
            zip_with(col("ed"), col("pcv"), (a, b) => a - col("f") * b).as("wv"))
        val q0 = withW.filter(col("vec_id") === 0).select(col("wv").as("wq"))
        withW.filter(col("vec_id") =!= 0).crossJoin(broadcast(q0))
          .select(col("vec_id"),
            graft.operators.RelationalOps.round6(cosine(col("wv"), col("wq"))).as("wscore"))
          .orderBy(col("wscore").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH $TopPcCtes,
              |wpc AS (SELECT list(CAST(v AS DOUBLE) ORDER BY i) AS pcv FROM pv$PcIters),
              |wdf AS (
              |  SELECT vec_id, ed, pcv,
              |    CASE WHEN ${duckFoldSum("pcv", "pcv[i] * pcv[i]")} = 0 THEN 0.0
              |         ELSE ${duckFoldSum("ed", "ed[i] * pcv[i]")} / ${duckFoldSum("pcv", "pcv[i] * pcv[i]")} END AS f
              |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed, pcv
              |        FROM embeddings, wpc)),
              |wv AS MATERIALIZED (
              |  SELECT vec_id, list_transform(generate_series(1, len(ed)), i -> ed[i] - f * pcv[i]) AS w
              |  FROM wdf),
              |wq AS (SELECT w AS qw FROM wv WHERE vec_id = 0),
              |wsc AS (
              |  SELECT vec_id, ${duckFoldSum("w", "w[i] * qw[i]")} AS d,
              |    sqrt(${duckFoldSum("w", "w[i] * w[i]")}) AS na,
              |    sqrt(${duckFoldSum("qw", "qw[i] * qw[i]")}) AS nq
              |  FROM wv, wq WHERE vec_id <> 0)
              |SELECT vec_id,
              |  floor((CASE WHEN na * nq = 0 THEN 0.0 ELSE d / (na * nq) END) * 1000000 + 0.5) / 1000000 AS wscore
              |FROM wsc ORDER BY wscore DESC, vec_id LIMIT 10""".stripMargin)),

    // Product-quantization ADC top-10 (r9) — completes the quantization
    // family past e_quant_topk's int8 path: m=8 subspaces × 16 codes → a
    // 4-BYTE code per vector (vs 256 B float32, 64× compression), scoring
    // by per-query lookup table, no per-candidate float folds. FULL
    // ORACLE: codebooks follow the deterministic hash-seed discipline
    // (the SemCell pattern — md5-ordered seed vectors, per-subspace L2
    // argmin with 6-dp rounding + code-id tiebreak), the ADC sum rides
    // the 1e-9 fixed-point grid, so DuckDB replays seed choice, encode,
    // LUT and top-k byte-for-byte. Recall vs exact cosine (and the
    // shortlist+rerank production shape) is pinned in
    // ProductQuantizerSpec.
    Q("e_pq_topk",
      (s, dir) => graft.similarity.ProductQuantizer.pqTopK(
        emb(s, dir), "vec_id", "embedding", queryId = 0L, k = 10),
      Some(
        s"""WITH $PqCtes
           |SELECT c.vec_id,
           |  floor((CAST(sfp AS DOUBLE) / 1e9) * 1000000 + 0.5) / 1000000 AS pq_score
           |FROM (SELECT c.vec_id, sum(l.lf) AS sfp
           |      FROM pqcodes c JOIN pqlut l ON c.j = l.j AND c.code_id = l.code_id
           |      WHERE c.vec_id <> 0 GROUP BY c.vec_id) c
           |ORDER BY pq_score DESC, vec_id LIMIT 10""".stripMargin)),

    // IVF-PQ — the IVFADC composition (Jégou et al. §IV): the SemCell
    // coarse quantizer prunes candidates to the query's 4 nearest cells,
    // PQ-ADC scores only what's left. The billion-vector operating point:
    // IVF bounds the compute, PQ bounds the memory, and because BOTH
    // stages are the repo's deterministic hash-seed constructions the
    // whole two-layer approximation replays byte-for-byte in SQL
    // (shared SemCellCtes + PqCtes — the same fragments the standalone
    // entries compile from, so the composition cannot drift from its
    // parts). ProductQuantizerSpec measures the recall price of the cell
    // pruning against plain PQ and the exact baseline.
    Q("e_ivfpq_topk",
      (s, dir) => graft.similarity.ProductQuantizer.ivfPqTopK(
        emb(s, dir), "vec_id", "embedding", queryId = 0L, k = 10),
      Some(
        s"""WITH $SemCellCtes,
           |$PqCtes,
           |iprobe AS (
           |  SELECT seed_id AS cell_id FROM sc WHERE vec_id = 0
           |  ORDER BY score DESC, seed_id LIMIT 4),
           |icand AS (
           |  SELECT a.vec_id FROM asg a JOIN iprobe p ON a.seed_id = p.cell_id
           |  WHERE a.vec_id <> 0)
           |SELECT c.vec_id,
           |  floor((CAST(sfp AS DOUBLE) / 1e9) * 1000000 + 0.5) / 1000000 AS pq_score
           |FROM (SELECT c.vec_id, sum(l.lf) AS sfp
           |      FROM pqcodes c
           |      JOIN icand USING (vec_id)
           |      JOIN pqlut l ON c.j = l.j AND c.code_id = l.code_id
           |      GROUP BY c.vec_id) c
           |ORDER BY pq_score DESC, vec_id LIMIT 10""".stripMargin)),

    // Exact counterpart of e_dup_pairs: all-pairs cosine ≥ threshold.
    // Quadratic by construction — the recall baseline for bounded corpora,
    // NOT the scale path (that's e_dup_pairs). Fully oracle-checked: the
    // DuckDB fold mirrors the Spark in-order double accumulation.
    Q("e_dup_pairs_exact",
      (s, dir) => {
        val a = emb(s, dir).select(col("vec_id").as("a_id"), col("embedding").as("va"))
        val b = emb(s, dir).select(col("vec_id").as("b_id"), col("embedding").as("vb"))
        a.join(b, col("a_id") < col("b_id"))
          .withColumn("score", graft.operators.RelationalOps.round6(cosine(col("va"), col("vb"))))
          .filter(col("score") >= 0.4)
          .select(col("a_id"), col("b_id"), col("score"))
      },
      Some(s"""WITH p AS (
              |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb
              |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
              |$DupPairsTailSql""".stripMargin)),

    // PORTABLE-oracle twins of the hyperplane-LSH family (e_dup_pairs /
    // e_knn_lsh): the identical banding pipelines with RademacherBands —
    // md5-derived ±1 planes over the integer-quantized vector, so every
    // band key is a ±sum of LONGS that DuckDB replays exactly (see
    // RademacherBands' scaladoc; same pattern as t_simhash_portable for
    // the simhash family). The production entries keep the tuned Gaussian
    // geometry and stay rows-only with in-JVM recall specs; these two give
    // the ENTIRE band→cap→join→verify→top-k pipeline a byte-for-byte
    // oracle, including the bucket-cap census and the bounded-heap top-k.
    Q("e_dup_pairs_portable",
      (s, dir) => SimilaritySearch.embeddingDupPairsPortable(
        emb(s, dir), "vec_id", "embedding", threshold = 0.4, PortableLsh),
      Some(
        s"""WITH $PortableKeyCtes,
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
           |  FROM capped a JOIN capped b USING (band_key)
           |  WHERE a.vec_id < b.vec_id),
           |p AS (
           |  SELECT c.a_id, c.b_id, ea.embedding AS ea, eb.embedding AS eb
           |  FROM cand c JOIN embeddings ea ON ea.vec_id = c.a_id
           |              JOIN embeddings eb ON eb.vec_id = c.b_id),
           |$DupPairsTailSql""".stripMargin)),

    Q("e_knn_lsh_portable",
      (s, dir) => {
        val e = emb(s, dir)
        SimilaritySearch.knnJoinLSHPortable(
          e.filter(col("vec_id") < 20), e, "vec_id", "embedding",
          k = 5, PortableLsh)
      },
      Some(
        s"""WITH $PortableKeyCtes,
           |cand AS (
           |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
           |  FROM keys q JOIN capped c USING (band_key)
           |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
           |${knnTop5Sql("embeddings", "p", "sc")}""".stripMargin)),

    // Per-label centroids (cluster means / label prototypes), one row per
    // (label, dimension). Cross-row float sums are order-dependent in IEEE
    // arithmetic, so a naive double SUM is nondeterministic under shuffle —
    // the accumulation here is FIXED-POINT: each component is floored to an
    // exact 1e-9-grid BIGINT (float->double is exact; *1e9 is one rounding,
    // identical everywhere), summed exactly in any order, divided once at
    // the end. This is the scale-safe recipe for distributed vector means.
    // Shuffle carries O(labels x dim) after partial aggregation.
    Q("e_centroids",
      (s, dir) => emb(s, dir)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(sum(floor(col("v").cast("double") * 1e9).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .select(col("label"), col("pos"),
          graft.operators.RelationalOps.round6(
            col("s").cast("double") / (col("n").cast("double") * 1e9)).as("centroid_v"),
          col("n")),
      Some("""SELECT CAST(label AS BIGINT) AS label, CAST(idx - 1 AS BIGINT) AS pos,
             |  floor((CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)) * 1000000 + 0.5) / 1000000 AS centroid_v,
             |  n
             |FROM (SELECT label, idx,
             |        SUM(CAST(floor(CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS s, count(*) AS n
             |      FROM (SELECT label, unnest(embedding) AS v,
             |              generate_subscripts(embedding, 1) AS idx
             |            FROM embeddings)
             |      GROUP BY 1, 2)""".stripMargin)),

    // Spherical k-means (Lloyd's, cosine objective) — the trainable
    // clusterer above SemDedup's single-pass hash quantizer, and the
    // producer of the "k-means seeds" its production sizing calls for.
    // Fully oracle-checked THROUGH the iterations (rare for a clusterer)
    // because every round is deterministic and portable: hash-chosen
    // init, argmax on the 6-dp-rounded cosine with cid tiebreak, and
    // centroid updates as elementwise 1e-9-grid integer SUMS (cosine's
    // scale-invariance makes the sum the exact mean direction — no
    // division anywhere, so no truncation to disagree on). The oracle
    // unrolls all KmIters rounds as CTEs; KMeansSpec pins the quality
    // contract the oracle can't see (objective monotonicity, recovery of
    // planted clusters, partitioning invariance).
    Q("e_kmeans",
      (s, dir) => graft.similarity.KMeans.fit(
        emb(s, dir), "vec_id", "embedding",
        graft.similarity.KMeans.Config(k = KmK, iterations = KmIters)),
      Some(
        s"""WITH $KMeansCtes
           |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, score
           |FROM kasg${KmIters + 1}""".stripMargin)),

    // SemDeDup over TRAINED cells — the production wiring the SemDedup
    // scaladoc prescribes ("seeds from a k-means pass"): Lloyd's-trained
    // centroids replace the single-pass hash seeds, so cells track the
    // corpus's actual density and the quadratic pair stage runs inside
    // tighter, better-balanced blocks. Still a FULL oracle — the k-means
    // chain is byte-portable (e_kmeans) and the pair/verdict stage is
    // e_semdedup's — which is the point: even the trained variant of the
    // clusterer-dedup composition stays engine-checkable end to end.
    Q("e_semdedup_km",
      (s, dir) => {
        val e = emb(s, dir)
        val asg = graft.similarity.KMeans.assign(e, "vec_id", "embedding",
            graft.similarity.KMeans.centroids(e, "vec_id", "embedding",
              graft.similarity.KMeans.Config(k = KmK, iterations = KmIters)))
          .select(col("vec_id"), col("cid").as("cell_id"), col("embedding"))
        graft.similarity.SemDedup.semDedupOnAssignment(
          asg, "vec_id", "embedding", threshold = 0.4)
      },
      Some(
        s"""WITH $KMeansCtes,
           |kmasg AS (SELECT vec_id, cid AS cell_id, embedding FROM kasg${KmIters + 1}),
           |${semDedupKeepSql("kmasg", "cell_id", "km")}""".stripMargin)),

    // Per-dimension z-score standardization — the feature-normalization
    // pass before distance-based ops on heterogeneous embeddings (a
    // dimension with 10× the variance silently dominates cosine/L2).
    // Cross-row moment sums ride the e_centroids FIXED-POINT discipline:
    // each component and its square quantize to exact 1e-9-grid longs, so
    // the per-dim mean/std are order-independent under any merge schedule
    // and identical in any engine; only the final per-row (x−μ)/σ is
    // float, mirrored by the oracle. Partial aggregation shrinks the
    // shuffle to O(dim) rows; the dim-sized stats frame broadcasts back.
    // Output bounded to the first 10 vectors (the stats cover the corpus).
    Q("e_standardize",
      (s, dir) => {
        val comp = emb(s, dir)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(col("vec_id"), col("pos").cast("long").as("pos"),
            col("v").cast("double").as("v"))
        val stats = fixedPointMoments(comp, "pos", "v")
        comp.filter(col("vec_id") < 10).join(broadcast(stats), "pos")
          .select(col("vec_id"), col("pos"),
            graft.operators.RelationalOps.round6(
              when(col("sigma") === 0.0, 0.0)
                .otherwise((col("v") - col("mu")) / col("sigma"))).as("z"),
            graft.operators.RelationalOps.round6(col("mu")).as("mu"),
            graft.operators.RelationalOps.round6(col("sigma")).as("sigma"))
      },
      Some(s"""WITH comp AS (
             |  SELECT vec_id, CAST(idx - 1 AS BIGINT) AS pos, CAST(v AS DOUBLE) AS v
             |  FROM (SELECT vec_id, unnest(embedding) AS v,
             |          generate_subscripts(embedding, 1) AS idx
             |        FROM embeddings)),
             |st AS (
             |  SELECT pos, ${momentSumsSql("v")}
             |  FROM comp GROUP BY pos),
             |m AS (
             |  SELECT pos,
             |    $MuSigmaSql
             |  FROM st)
             |SELECT c.vec_id, c.pos,
             |  floor((CASE WHEN m.sigma = 0 THEN 0.0
             |              ELSE (c.v - m.mu) / m.sigma END) * 1000000 + 0.5) / 1000000 AS z,
             |  floor(m.mu * 1000000 + 0.5) / 1000000 AS mu,
             |  floor(m.sigma * 1000000 + 0.5) / 1000000 AS sigma
             |FROM comp c JOIN m USING (pos)
             |WHERE c.vec_id < 10""".stripMargin)),

    // SemDeDup — semantic dedup via cell-bounded cosine pruning (Abbas et
    // al. 2023): assign every vector to its nearest of 16 deterministic
    // hash-chosen seed vectors, then within each cell drop vectors with a
    // cosine-≥-0.4 lower-id neighbor. The cells exist to bound the
    // quadratic stage (all-pairs is unrunnable at corpus scale; per-cell
    // pairs shrink as nCells grows). Fully oracle-checked — unusual for a
    // clustering operator — because every choice is deterministic and
    // portable: hash-ordered seeds (no RNG, no k-means iterations),
    // argmax-cosine assignment on the 6-dp-rounded score with seed-id
    // tiebreak, rounded pair scores. SemDedupSpec asserts the quality
    // contract the oracle can't see: every dropped vector really has a
    // global cosine-≥-threshold lower-id near-dup (precision 1.0), and
    // recall vs the exact all-pairs baseline (e_dup_pairs_exact) is
    // reported; partitioning invariance pins determinism under shuffle.
    Q("e_semdedup",
      (s, dir) => graft.similarity.SemDedup.semDedup(
        emb(s, dir), "vec_id", "embedding",
        graft.similarity.SemDedup.Config(nCells = 16, threshold = 0.4)),
      Some(
        s"""WITH $SemCellCtes,
           |${semDedupKeepSql("asg", "seed_id", "")}""".stripMargin)),

    // Cell-bounded hard-negative mining — the contrastive-batch upgrade
    // over x_pair_contrastive's random negatives: for each vector, the
    // most-similar SAME-CELL vector with a DIFFERENT label ("looks alike,
    // isn't"). Exact mining is an all-pairs argmax; the SemDeDup cell
    // structure (shared CTE — both oracles replay the identical
    // assignment) bounds it, and near vectors co-locate by construction so
    // the in-cell argmax is the hard-candidate set. The per-vector argmax
    // is an AGGREGATE (max of a (score, -neg_id, label) struct — partial
    // aggregation collapses each map side to one candidate per vector
    // before the shuffle), not a window sort over all pairs. Deterministic:
    // 6-dp-rounded scores, smaller neg id on ties; vectors with no
    // other-label cellmate yield no row (both engines agree). SemDedupSpec
    // pins label-correctness, the argmax against an independent window
    // formulation, and partitioning invariance.
    Q("x_pair_hardneg",
      (s, dir) => graft.similarity.SemDedup.hardNegatives(
        emb(s, dir), "vec_id", "embedding", "label", nCells = 16),
      Some(
        s"""WITH $SemCellCtes,
           |al AS (
           |  SELECT a.vec_id, a.seed_id, a.embedding, e.label
           |  FROM asg a JOIN embeddings e USING (vec_id)),
           |p AS (
           |  SELECT a.vec_id AS a_id, a.seed_id AS cell_id, b.vec_id AS b_id,
           |         b.label AS neg_label, a.embedding AS ea, b.embedding AS eb
           |  FROM al a JOIN al b ON a.seed_id = b.seed_id AND a.label <> b.label),
           |psc AS (
           |  SELECT a_id, cell_id, b_id, neg_label,
           |    $DotAB AS d, $NormA AS na, $NormB AS nb FROM p),
           |rs AS (
           |  SELECT a_id, cell_id, b_id, neg_label,
           |    $CosAB AS score
           |  FROM psc)
           |SELECT a_id AS vec_id, CAST(cell_id AS BIGINT) AS cell_id,
           |  b_id AS neg_vec_id, neg_label, score
           |FROM (SELECT *, row_number() OVER (PARTITION BY a_id
           |        ORDER BY score DESC, b_id) AS rn FROM rs)
           |WHERE rn = 1""".stripMargin)),

    // The SemDeDup cell census as a first-class (oracle-checked) query —
    // the observability half of the hot-cell guard: run the census, read
    // the sizes, THEN decide nCells / maxCellSize before paying the
    // quadratic pair stage. Same cap-and-census discipline as
    // lshBucketStats, but here even the census itself is byte-checked.
    Q("e_cell_census",
      (s, dir) => graft.similarity.SemDedup.cellStats(
        emb(s, dir), "vec_id", "embedding", nCells = 16),
      Some(
        s"""WITH $SemCellCtes
           |SELECT seed_id AS cell_id, count(*) AS n FROM asg GROUP BY seed_id""".stripMargin)),

    // Embedding OUTLIER audit — the data-quality pass that catches
    // mis-encoded / corrupted / off-distribution vectors before they
    // poison retrieval or curation: per SemDeDup cell (shared CTE — the
    // identical deterministic assignment), each vector's L2 distance to
    // its cell's fixed-point centroid, z-scored against the cell's own
    // distance distribution, with the top-2 most-distant vectors per cell
    // emitted (O(cells·k) rows at any corpus size). All cross-row sums —
    // centroid components, squared-distance terms, distance moments —
    // ride the e_standardize 1e-9 fixed-point grid, so they are
    // order-independent and engine-exact; the per-cell top-2 is the
    // TopKByScore bounded-heap AGGREGATE over the 6-dp-rounded distance
    // (id tiebreak), not a window sort over every vector.
    Q("e_outliers",
      (s, dir) => {
        val asg = graft.similarity.SemDedup.assignCells(
          emb(s, dir), "vec_id", "embedding", nCells = 16)
        val comp = asg
          .select(col("vec_id"), col("cell_id"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(col("vec_id"), col("cell_id"),
            col("pos").cast("long").as("pos"), col("v").cast("double").as("v"))
        val cent = comp.groupBy(col("cell_id"), col("pos"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("v") * 1e9).cast("long")).as("s1"))
          .select(col("cell_id"), col("pos"),
            (col("s1").cast("double") / (col("n").cast("double") * 1e9)).as("c"))
        val dist = comp.join(broadcast(cent), Seq("cell_id", "pos"))
          .withColumn("t",
            floor((col("v") - col("c")) * (col("v") - col("c")) * 1e9).cast("long"))
          .groupBy(col("vec_id"), col("cell_id"))
          .agg(sum(col("t")).as("d2e9"))
          .withColumn("dist", graft.operators.RelationalOps.round6(
            sqrt(col("d2e9").cast("double") / 1e9)))
        val moms = fixedPointMoments(dist, "cell_id", "dist")
        dist.groupBy(col("cell_id"))
          .agg(graft.expressions.TopKByScore(col("dist"), col("vec_id"), 2).as("topk"))
          .select(col("cell_id"), posexplode(col("topk")).as(Seq("pos", "e")))
          .select(col("cell_id"), (col("pos") + 1).cast("long").as("rnk"),
            col("e.id").as("vec_id"), col("e.score").as("dist"))
          .join(broadcast(moms), "cell_id")
          .select(col("cell_id"), col("rnk"), col("vec_id"), col("dist"),
            graft.operators.RelationalOps.round6(
              when(col("sigma") === 0.0, 0.0)
                .otherwise((col("dist") - col("mu")) / col("sigma"))).as("z"))
      },
      Some(
        s"""WITH $SemCellCtes,
           |ocomp AS (
           |  SELECT vec_id, seed_id AS cell_id, CAST(idx - 1 AS BIGINT) AS pos,
           |    CAST(v AS DOUBLE) AS v
           |  FROM (SELECT vec_id, seed_id, unnest(embedding) AS v,
           |          generate_subscripts(embedding, 1) AS idx FROM asg)),
           |ocent AS (
           |  SELECT cell_id, pos,
           |    CAST(sum(CAST(floor(v * 1e9) AS BIGINT)) AS DOUBLE)
           |      / (CAST(count(*) AS DOUBLE) * 1e9) AS c
           |  FROM ocomp GROUP BY 1, 2),
           |odist AS (
           |  SELECT vec_id, cell_id,
           |    floor(sqrt(CAST(sum(CAST(floor((v - c) * (v - c) * 1e9) AS BIGINT)) AS DOUBLE)
           |               / 1e9) * 1000000 + 0.5) / 1000000 AS dist
           |  FROM ocomp JOIN ocent USING (cell_id, pos)
           |  GROUP BY 1, 2),
           |omom AS (
           |  SELECT cell_id, ${momentSumsSql("dist")}
           |  FROM odist GROUP BY 1),
           |omz AS (
           |  SELECT cell_id,
           |    $MuSigmaSql
           |  FROM omom)
           |SELECT CAST(cell_id AS BIGINT) AS cell_id, CAST(rn AS BIGINT) AS rnk,
           |  vec_id, dist,
           |  floor((CASE WHEN sigma = 0 THEN 0.0
           |              ELSE (dist - mu) / sigma END) * 1000000 + 0.5) / 1000000 AS z
           |FROM (SELECT cell_id, vec_id, dist,
           |        row_number() OVER (PARTITION BY cell_id
           |          ORDER BY dist DESC, vec_id) AS rn
           |      FROM odist) r JOIN omz USING (cell_id)
           |WHERE rn <= 2""".stripMargin)),

    // Cross-modal COVERAGE audit — the data-quality gate before any
    // id-aligned multimodal training run: how many documents have an
    // embedding, how many are text-only, how many embeddings are orphaned
    // (their document was filtered/dropped upstream). One id-keyed
    // full-outer join collapsed to three counts — the per-row frame never
    // leaves the executors and the shuffle carries ids only.
    Q("x_modality_coverage",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents").select(col("doc_id"))
        val e = emb(s, dir).select(col("vec_id"))
        d.join(e, col("doc_id") === col("vec_id"), "full_outer")
          .select(
            when(col("doc_id").isNotNull && col("vec_id").isNotNull, lit("paired"))
              .when(col("vec_id").isNull, lit("doc_only"))
              .otherwise(lit("embedding_only")).as("status"))
          .groupBy(col("status")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT status, count(*) AS n FROM (
             |  SELECT CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 'paired'
             |              WHEN e.vec_id IS NULL THEN 'doc_only'
             |              ELSE 'embedding_only' END AS status
             |  FROM documents d FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id)
             |GROUP BY status""".stripMargin)),

    // Cross-modal pair construction — the CLIP-style step that turns an
    // id-aligned (document, embedding) warehouse into contrastive training
    // pairs: the POSITIVE is the doc's own embedding (id equi-join), the
    // NEGATIVE is a deterministic hash-derived OTHER embedding
    // (offset 1 + h mod (n−1) guarantees neg ≠ self — a derangement by
    // construction, no RNG, reproducible on any engine/partitioning/run).
    // Scale shape: two id equi-joins (co-partitionable, AQE-handled) + one
    // 1-row scalar count broadcast + a pure per-row hash for the negative
    // id — neither modality table is ever broadcast or rescanned.
    Q("x_pair_contrastive",
      (s, dir) => {
        import graft.functions.TextFunctions.portableHash60
        val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
        val e = emb(s, dir)
        val nDf = e.agg(count(lit(1)).as("n"))
        d.join(e.select(col("vec_id").as("doc_id"), col("label").as("pos_label")), "doc_id")
          .crossJoin(broadcast(nDf))
          .withColumn("neg_vec_id",
            pmod(col("doc_id") + 1L +
              pmod(portableHash60(concat(lit("neg:"), col("doc_id").cast("string"))),
                col("n") - 1L), col("n")))
          .join(e.select(col("vec_id").as("neg_vec_id"), col("label").as("neg_label")),
            "neg_vec_id")
          .select(col("doc_id"), col("lang"), col("pos_label"),
            col("neg_vec_id"), col("neg_label"))
      },
      Some("""WITH n AS (SELECT count(*) AS n FROM embeddings),
             |pos AS (
             |  SELECT d.doc_id, d.lang, e.label AS pos_label
             |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
             |neg AS (
             |  SELECT p.doc_id, p.lang, p.pos_label,
             |    (p.doc_id + 1 +
             |     (('0x' || substr(md5('neg:' || CAST(p.doc_id AS VARCHAR)), 1, 15))::BIGINT
             |      % (n.n - 1))) % n.n AS neg_vec_id
             |  FROM pos p, n)
             |SELECT neg.doc_id, neg.lang, neg.pos_label, neg.neg_vec_id,
             |  ne.label AS neg_label
             |FROM neg JOIN embeddings ne ON ne.vec_id = neg.neg_vec_id""".stripMargin)),

    // MMR-diversified retrieval — greedy maximal-marginal-relevance rerank
    // between the relevance stage and a RAG prompt (Carbonell & Goldstein
    // 1998): per query, pick MmrK of the top-MmrShort exact-cosine
    // candidates maximizing λ·rel − (1−λ)·max-sim-to-selected. The greedy
    // is sequential in k, so it runs INSIDE one bounded-state aggregate
    // evaluation per query (expressions.MmrSelect) — one groupBy whose
    // exchange carries O(queries·shortlist); the oracle unrolls the same
    // selection round by round on the shared 1e6 integer grid (λ rational
    // 700/1000 — exact BIGINT objective, id tiebreaks), so an inherently
    // iterative rerank is still byte-checked end to end.
    Q("e_mmr_topk",
      (s, dir) => {
        val e = emb(s, dir)
        graft.similarity.Mmr.diversifiedTopK(
          e.filter(col("vec_id") < MmrQueries), e, "vec_id", "embedding",
          shortlist = MmrShort, k = MmrK, lambdaNum = MmrLambda,
          excludeSelf = true)
      },
      Some(
        s"""WITH $MmrCtes
           |SELECT query_id, cand_id, CAST(rel AS DOUBLE) / 1000000 AS rel,
           |  CAST(rnk AS BIGINT) AS rnk
           |FROM mselu$MmrK""".stripMargin)),

    // Matryoshka two-stage k-NN — prefix-dimension shortlist, exact
    // full-dimension rerank (the adaptive-retrieval pattern for
    // MRL-trained embeddings: Kusupati et al. 2022). Stage 1 folds
    // MkPrefix of 64 components — a 4x FLOP/bandwidth cut on the
    // corpus-sized scan, exchange = the bounded-heap top-shortlist; stage 2
    // touches full vectors for shortlist ids only. Both stages are
    // deterministic, so unlike the LSH/IVF families this ANN path carries
    // a DIRECT full oracle — no portable twin needed.
    Q("e_matryoshka_topk",
      (s, dir) => SimilaritySearch.knnPrefixRerank(
        emb(s, dir).filter(col("vec_id") < MkQueries), emb(s, dir),
        "vec_id", "embedding", prefixDim = MkPrefix, shortlist = MkShort,
        k = MkK),
      Some {
        s"""WITH mkq AS (SELECT vec_id AS query_id, embedding AS qv
           |             FROM embeddings WHERE vec_id < $MkQueries),
           |mk1 AS (
           |  SELECT query_id, cand_id,
           |    floor((CASE WHEN na * nq = 0 THEN 0.0 ELSE d / (na * nq) END)
           |          * 1000000 + 0.5) / 1000000 AS pscore
           |  FROM (SELECT query_id, cand_id,
           |          $DotQP AS d, $NormEP AS na, $NormQP AS nq
           |        FROM (SELECT mkq.query_id, e.vec_id AS cand_id,
           |                e.embedding, mkq.qv
           |              FROM embeddings e CROSS JOIN mkq
           |              WHERE e.vec_id <> mkq.query_id))),
           |mksl AS MATERIALIZED (
           |  SELECT query_id, cand_id FROM (
           |    SELECT query_id, cand_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY pscore DESC, cand_id) AS rn
           |    FROM mk1) WHERE rn <= $MkShort),
           |mk2 AS (
           |  SELECT query_id, cand_id,
           |    floor((CASE WHEN na * nq = 0 THEN 0.0 ELSE d / (na * nq) END)
           |          * 1000000 + 0.5) / 1000000 AS score
           |  FROM (SELECT query_id, cand_id,
           |          $DotQ AS d, $NormE AS na, $NormQ AS nq
           |        FROM (SELECT s.query_id, s.cand_id, e.embedding, q.qv
           |              FROM mksl s
           |              JOIN embeddings e ON e.vec_id = s.cand_id
           |              JOIN mkq q ON q.query_id = s.query_id)))
           |SELECT query_id, cand_id, score, CAST(rn AS BIGINT) AS rnk
           |FROM (SELECT query_id, cand_id, score,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY score DESC, cand_id) AS rn
           |      FROM mk2) WHERE rn <= $MkK""".stripMargin
      }),

    // Retrieval evaluation — nDCG@10 / MRR / precision / recall of the
    // prefix-16 (matryoshka stage-1) ranking judged against the exact
    // full-dimension top-10 as graded qrels (rel = 11 − true rank): the
    // metrics loop a user runs after every index or recall change. The
    // log2 discounts are computed ONCE in the JVM on the 1e6 grid and
    // rendered into the oracle as a literal VALUES table
    // (RetrievalMetrics.discountValuesSql), so DCG is an exact BIGINT dot
    // product in both engines — no cross-libm log hazard.
    Q("e_eval_metrics",
      (s, dir) => {
        val e = emb(s, dir)
        val qf = e.filter(col("vec_id") < MmrQueries)
          .select(col("vec_id").cast("long").as("query_id"),
            col("embedding").as("qv"))
        val c = e.select(col("vec_id").cast("long").as("cand_id"),
          col("embedding").as("cv"))
        import graft.operators.RelationalOps.round6
        def ranked(score: org.apache.spark.sql.Column, name: String) =
          SimilaritySearch.topKPerKey(
            c.crossJoin(broadcast(qf))
              .filter(col("query_id") =!= col("cand_id"))
              .select(col("query_id"), col("cand_id"), score.as(name)),
            "query_id", name, "cand_id", MkK)
        val results = ranked(round6(SimilaritySearch.cosine(
            slice(col("cv"), 1, MkPrefix), slice(col("qv"), 1, MkPrefix))),
          "pscore").select(col("query_id"), col("cand_id"), col("rnk"))
        val qrels = ranked(round6(
            SimilaritySearch.cosine(col("cv"), col("qv"))), "score")
          .select(col("query_id"), col("cand_id"),
            (lit(MkK + 1L) - col("rnk")).as("rel"))
        graft.retrieval.RetrievalMetrics.evaluate(results, qrels, MkK)
      },
      Some {
        s"""WITH evq AS (SELECT vec_id AS query_id, embedding AS qv
           |             FROM embeddings WHERE vec_id < $MmrQueries),
           |evb AS MATERIALIZED (
           |  SELECT evq.query_id, e.vec_id AS cand_id, e.embedding, evq.qv
           |  FROM embeddings e CROSS JOIN evq
           |  WHERE e.vec_id <> evq.query_id),
           |res AS MATERIALIZED (
           |  SELECT query_id, cand_id, CAST(rn AS BIGINT) AS rnk FROM (
           |    SELECT query_id, cand_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY pscore DESC, cand_id) AS rn
           |    FROM (SELECT query_id, cand_id,
           |            floor((CASE WHEN na * nq = 0 THEN 0.0
           |                        ELSE d / (na * nq) END) * 1000000 + 0.5)
           |              / 1000000 AS pscore
           |          FROM (SELECT query_id, cand_id,
           |                  $DotQP AS d, $NormEP AS na, $NormQP AS nq
           |                FROM evb))) WHERE rn <= $MkK),
           |qrels AS MATERIALIZED (
           |  SELECT query_id, cand_id, CAST(${MkK + 1} - rn AS BIGINT) AS rel
           |  FROM (
           |    SELECT query_id, cand_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY score DESC, cand_id) AS rn
           |    FROM (SELECT query_id, cand_id,
           |            floor((CASE WHEN na * nq = 0 THEN 0.0
           |                        ELSE d / (na * nq) END) * 1000000 + 0.5)
           |              / 1000000 AS score
           |          FROM (SELECT query_id, cand_id,
           |                  $DotQ AS d, $NormE AS na, $NormQ AS nq
           |                FROM evb))) WHERE rn <= $MkK),
           |disc(rnk, disc6) AS (
           |  ${graft.retrieval.RetrievalMetrics.discountValuesSql(MkK)}),
           |sc AS (
           |  SELECT r.query_id,
           |    CAST(sum(coalesce(q.rel, 0) * d.disc6) AS BIGINT) AS dcg6,
           |    CAST(sum(CASE WHEN coalesce(q.rel, 0) > 0 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS hits,
           |    min(CASE WHEN coalesce(q.rel, 0) > 0 THEN r.rnk END) AS first_hit
           |  FROM res r JOIN disc d ON r.rnk = d.rnk
           |  LEFT JOIN qrels q
           |    ON q.query_id = r.query_id AND q.cand_id = r.cand_id
           |  GROUP BY 1),
           |idl AS (
           |  SELECT query_id, CAST(sum(rel * disc6) AS BIGINT) AS idcg6
           |  FROM (SELECT query_id, rel, row_number() OVER (
           |          PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
           |        FROM qrels) i JOIN disc d ON i.rn = d.rnk
           |  WHERE rn <= $MkK GROUP BY 1),
           |tot AS (SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1)
           |SELECT i.query_id,
           |  floor(CAST(COALESCE(dcg6, 0) AS DOUBLE) / CAST(idcg6 AS DOUBLE)
           |        * 1000000 + 0.5) / 1000000 AS ndcg,
           |  floor((CASE WHEN first_hit IS NULL THEN 0.0
           |              ELSE 1.0 / CAST(first_hit AS DOUBLE) END)
           |        * 1000000 + 0.5) / 1000000 AS mrr,
           |  floor(CAST(COALESCE(hits, 0) AS DOUBLE) / $MkK
           |        * 1000000 + 0.5) / 1000000 AS precision_at_k,
           |  floor(CAST(COALESCE(hits, 0) AS DOUBLE) / CAST(n_rel AS DOUBLE)
           |        * 1000000 + 0.5) / 1000000 AS recall_at_k,
           |  COALESCE(hits, 0) AS hits
           |-- LEFT join: a judged query with no in-rank results must emit a
           |-- zero row, exactly as evaluate()'s left-join + zero-fill does
           |FROM idl i JOIN tot USING (query_id) LEFT JOIN sc USING (query_id)""".stripMargin
      }),

    // Binary-quantization ANN: 1 bit per dimension (the sign), 64 dims →
    // one machine word per vector — a 256× compression over float32 that
    // makes the first-pass scan PURE integer work: hamming = popcount of
    // two XORed 32-bit sign words (two words rather than one so the
    // DuckDB replay can build each by summing distinct powers of two
    // without BIGINT sign-bit overflow). Shortlist the 200 nearest codes
    // (TakeOrderedAndProject — constant memory per partition, no global
    // sort), then rerank exactly with the float cosine. At 100 TB the
    // codes column is what you scan — 8 bytes/vector against 256 — and
    // the rerank touches only 200 rows; recall@10 is 0.9–1.0 at the test
    // SFs (CcnetCollocBqSpec pins the floor). Sign quantization is
    // integer-EXACT (a float's sign survives parquet byte-identically),
    // so unlike the Gaussian-plane LSH twin this entry carries a FULL
    // oracle: DuckDB rebuilds the same sign words, the same hamming, the
    // same two deterministic (tie → vec_id) cuts.
    Q("e_knn_bq",
      (s, dir) => {
        def word(lo: Int): org.apache.spark.sql.Column = expr(
          s"aggregate(sequence($lo, ${lo + 31}), 0L, (acc, i) -> " +
            s"acc + IF(element_at(embedding, i + 1) > CAST(0 AS FLOAT), shiftleft(1L, i - $lo), 0L))")
        val e = emb(s, dir)
          .select(col("vec_id"), col("embedding"),
            word(0).as("c1"), word(32).as("c2"))
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"), col("c1").as("q1"), col("c2").as("q2"))
        e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id"), col("embedding"), col("qv"),
            expr("CAST(bit_count(c1 ^ q1) + bit_count(c2 ^ q2) AS BIGINT)").as("hamming"))
          .orderBy(col("hamming"), col("vec_id")).limit(200)
          .select(col("vec_id"), col("hamming"),
            graft.operators.RelationalOps.round6(
              cosine(col("embedding"), col("qv"))).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(10)
      },
      Some {
        def word(lo: Int): String =
          s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
            s"list_transform(generate_series(${lo + 1}, ${lo + 32}), " +
            s"i -> CASE WHEN embedding[i] > 0 THEN (CAST(1 AS BIGINT) << (i - ${lo + 1})) " +
            s"ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b)"
        s"""WITH cd AS (
           |  SELECT vec_id, embedding, ${word(0)} AS c1, ${word(32)} AS c2
           |  FROM embeddings),
           |q AS (SELECT embedding AS qv, c1 AS q1, c2 AS q2 FROM cd WHERE vec_id = 0),
           |h AS (
           |  SELECT cd.vec_id, cd.embedding, q.qv,
           |    CAST(bit_count(xor(cd.c1, q.q1)) + bit_count(xor(cd.c2, q.q2)) AS BIGINT) AS hamming
           |  FROM cd, q WHERE cd.vec_id <> 0),
           |s AS (SELECT * FROM h ORDER BY hamming, vec_id LIMIT 200),
           |sc AS (SELECT vec_id, hamming, $DotQ AS d, $NormE AS na, $NormQ AS nq FROM s)
           |SELECT vec_id, hamming,
           |  floor((CASE WHEN na * nq = 0 THEN 0.0 ELSE d / (na * nq) END) * 1000000 + 0.5) / 1000000 AS score
           |FROM sc ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
      }),

    // Hybrid retrieval by reciprocal-rank fusion: fuse the LEXICAL ranking
    // (t_bm25's exact fixed-point scores — one image, two paths via the
    // shared bm25Scores body) with the DENSE ranking (cosine to the query
    // embedding; vec_id ≡ doc_id, the testdata modality alignment) as
    // rrf = 1/(60+r_lex) + 1/(60+r_dense) — the standard fusion that needs
    // no score calibration between BM25's unbounded scale and cosine's
    // [-1,1]. Determinism: both input ranks are integers derived from
    // oracle-exact 6-dp scores with id tiebreaks; the fused double is two
    // IEEE divisions summed in a fixed order, then 6-dp-rounded. Shape at
    // scale: each leg cuts to its top-50 via TakeOrderedAndProject
    // (constant memory per partition, no global sort) BEFORE any window —
    // the rank row_numbers and the full outer join run on two 50-row
    // frames, so fusion cost is independent of corpus size; the legs
    // themselves are the already-pinned BM25 aggregate and brute cosine
    // scan (swap in e_knn_bq/IVF for the dense leg at scale — same
    // 50-row handoff).
    Q("t_hybrid_rrf",
      (s, dir) => {
        val byLex = Window.orderBy(col("bm25").desc, col("doc_id"))
        val lex = graft.queries.TextQueries.bm25Scores(s, dir)
          .orderBy(col("bm25").desc, col("doc_id")).limit(50)
          .select(col("doc_id"), row_number().over(byLex).cast("long").as("lex_rank"))
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val byCos = Window.orderBy(col("cos").desc, col("doc_id"))
        val den = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id").as("doc_id"),
            graft.operators.RelationalOps.round6(
              cosine(col("embedding"), col("qv"))).as("cos"))
          .orderBy(col("cos").desc, col("doc_id")).limit(50)
          .select(col("doc_id"), row_number().over(byCos).cast("long").as("dense_rank"))
        lex.join(den, Seq("doc_id"), "outer")
          .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
            graft.operators.RelationalOps.round6(
              coalesce(lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60.0) + col("dense_rank").cast("double")), lit(0.0)))
              .as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
      },
      Some(
        s"""WITH lexall AS (
           |${graft.queries.TextQueries.Bm25Sql}
           |),
           |lex AS (
           |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
           |  FROM (SELECT * FROM lexall ORDER BY bm25 DESC, doc_id LIMIT 50)),
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |den0 AS (
           |  SELECT vec_id AS doc_id,
           |    floor((CASE WHEN na * nq = 0 THEN 0.0 ELSE d / (na * nq) END) * 1000000 + 0.5) / 1000000 AS cos
           |  FROM (SELECT vec_id, $DotQ AS d, $NormE AS na, $NormQ AS nq
           |        FROM embeddings, q WHERE vec_id <> 0)),
           |den AS (
           |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS dense_rank
           |  FROM (SELECT * FROM den0 ORDER BY cos DESC, doc_id LIMIT 50))
           |SELECT doc_id, lex_rank, dense_rank,
           |  floor((COALESCE(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)), 0.0) +
           |         COALESCE(1.0 / (60.0 + CAST(dense_rank AS DOUBLE)), 0.0)) * 1000000 + 0.5) / 1000000 AS rrf
           |FROM lex FULL JOIN den USING (doc_id)
           |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // Johnson–Lindenstrauss random projection to k=16 dims with PORTABLE
    // Rademacher (±1) planes — the dimensionality-reduction operator, with
    // its accuracy contract as the OUTPUT: per-vector original vs
    // 1/√k-scaled projected L2 norm and their ratio (E[ratio²] = 1, the JL
    // norm-preservation statement made auditable per row, the same
    // self-auditing discipline as t_kmv_distinct's exact_distinct column).
    // Signs derive from the md5 hash family, so the whole projection is
    // full-oracle; every per-(vector, output-dim) accumulation is a
    // fixed-point BIGINT sum — order-insensitive, partial-aggregable.
    // Scale: cost is rows × d × k map-side expansion into ONE shuffle keyed
    // (vec_id, j) — the irreducible JL work — with the plane family shared
    // by construction (hash of (j, i)), never a materialized matrix.
    Q("e_jl_project",
      (s, dir) => {
        val k = 16
        // The ±1 projection matrix depends only on (j, i) — k·d entries.
        // Building it once driver-side (the portableHash60 image on k·d
        // strings) and broadcast-joining on i replaces an md5 evaluation
        // per (row, dim, j) — corpus·k hashes — with k·d of them; the
        // joined values are the identical hash function of (j, i), so the
        // projection is byte-unchanged. d comes from a 1-row probe (the
        // embedding dim is uniform by schema contract) — guarded (ADVICE
        // r12): an empty table yields d = 0 and an empty result (the old
        // per-row-hash form's behavior, not a NoSuchElementException), and
        // a row LONGER than the probed d raises instead of silently
        // dropping its tail dimensions (the uniform-dim contract enforced,
        // not assumed; shorter rows were always summed over their own
        // length by both forms).
        val d = emb(s, dir).select(size(col("embedding")).as("d"))
          .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(0)
        val el = emb(s, dir)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
          .select(col("vec_id"), col("i"),
            when(col("i") < lit(d), col("xf").cast("double"))
              .otherwise(raise_error(lit(
                s"e_jl_project: embedding longer than probed dim d=$d — " +
                  "the uniform-dim contract is violated")).cast("double"))
              .as("x"))
        val signRows = for (j <- 0L until k.toLong; i <- 0 until d) yield {
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(s"jl:$j:$i".getBytes("UTF-8"))
          val h = java.lang.Long.parseLong(
            md.map(b => f"$b%02x").mkString.substring(0, 15), 16)
          (j, i, if (h % 2L == 0L) 1.0 else -1.0)
        }
        import s.implicits._
        val signs = broadcast(s.createDataset(signRows.toSeq).toDF("j", "i", "sgn"))
        val y = el.join(signs, Seq("i"))
          .select(col("vec_id"), col("j"),
            floor(col("x") * col("sgn") * lit(1e9)).cast("long").as("tfx"))
          .groupBy(col("vec_id"), col("j")).agg(sum(col("tfx")).as("yfx"))
        val sy = y.select(col("vec_id"),
            floor((col("yfx").cast("double") / lit(1e9))
              * (col("yfx").cast("double") / lit(1e9)) * lit(1e6)).cast("long").as("y2"))
          .groupBy(col("vec_id")).agg(sum(col("y2")).as("sy2"))
        val sv = el.select(col("vec_id"),
            floor(col("x") * col("x") * lit(1e9)).cast("long").as("x2"))
          .groupBy(col("vec_id")).agg(sum(col("x2")).as("sv2"))
        val r6 = graft.operators.RelationalOps.round6 _
        val kd = lit(k.toDouble)
        sy.join(sv, "vec_id").select(col("vec_id"),
          r6(sqrt(col("sv2").cast("double") / lit(1e9))).as("l2_orig"),
          r6(sqrt(col("sy2").cast("double") / lit(1e6) / kd)).as("l2_proj_scaled"),
          when(col("sv2") <= 0L, lit(0.0)).otherwise(
            r6(sqrt((col("sy2").cast("double") / lit(1e6) / kd)
              / (col("sv2").cast("double") / lit(1e9))))).as("norm_ratio"))
      },
      Some("""WITH ex AS (SELECT vec_id, i, embedding FROM embeddings,
             |            unnest(generate_series(1, len(embedding))) AS u(i)),
             |el AS (SELECT vec_id, i - 1 AS i0, CAST(embedding[i] AS DOUBLE) AS x FROM ex),
             |jd AS (SELECT unnest(generate_series(0, 15)) AS j),
             |terms AS (SELECT vec_id, j,
             |    CAST(floor(x * (CASE WHEN ('0x' || substr(md5('jl:' || j || ':' || i0), 1, 15))::BIGINT % 2 = 0
             |                    THEN 1.0 ELSE -1.0 END) * 1e9) AS BIGINT) AS tfx
             |  FROM el, jd),
             |y AS (SELECT vec_id, j, CAST(sum(tfx) AS BIGINT) AS yfx FROM terms GROUP BY 1, 2),
             |sy AS (SELECT vec_id,
             |    CAST(sum(CAST(floor((CAST(yfx AS DOUBLE)/1e9) * (CAST(yfx AS DOUBLE)/1e9) * 1e6) AS BIGINT)) AS BIGINT) AS sy2
             |  FROM y GROUP BY 1),
             |sv AS (SELECT vec_id, CAST(sum(CAST(floor(x * x * 1e9) AS BIGINT)) AS BIGINT) AS sv2
             |  FROM el GROUP BY 1)
             |SELECT vec_id,
             |  floor(sqrt(CAST(sv2 AS DOUBLE)/1e9) * 1000000 + 0.5) / 1000000 AS l2_orig,
             |  floor(sqrt(CAST(sy2 AS DOUBLE)/1e6/16.0) * 1000000 + 0.5) / 1000000 AS l2_proj_scaled,
             |  CASE WHEN sv2 <= 0 THEN 0.0
             |       ELSE floor(sqrt((CAST(sy2 AS DOUBLE)/1e6/16.0) / (CAST(sv2 AS DOUBLE)/1e9)) * 1000000 + 0.5) / 1000000 END AS norm_ratio
             |FROM sy JOIN sv USING (vec_id)""".stripMargin)),

    // Simplified (centroid-based) silhouette per cluster — the clustering
    // QUALITY readout next to e_kmeans's assignments: a = cosine distance
    // to own centroid, b = min distance to any other centroid,
    // s = (b−a)/max(a,b), averaged per cluster. Exactly the centroid-
    // silhouette used at corpus scale (point-to-point silhouette is
    // O(n²); this is O(n·k), the ONE extra pass over the assignment
    // scores the trainer already computes). Distances derive from the
    // 6-dp-rounded cosine, so the whole chain — Lloyd's rounds included —
    // stays byte-portable; per-cluster means ride fixed-point sums.
    Q("e_silhouette",
      (s, dir) => {
        val e = emb(s, dir)
        val cents = graft.similarity.KMeans.centroids(e, "vec_id", "embedding",
          graft.similarity.KMeans.Config(k = KmK, iterations = KmIters))
        val centArr = cents
          .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cent_arr"))
        val scored = e.crossJoin(broadcast(centArr))
          .select(col("vec_id"), explode(col("cent_arr")).as("c"), col("embedding"))
          .select(col("vec_id"), col("c.cid").as("cid"),
            graft.operators.RelationalOps.round6(
              cosine(col("embedding"), col("c.cv"))).as("score"))
        val rn = scored.withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("cid").asc)))
        val own = rn.filter(col("rn") === 1)
          .select(col("vec_id"), col("cid").as("cluster_id"),
            (lit(1.0) - col("score")).as("a"))
        val oth = rn.join(own, "vec_id").filter(col("cid") =!= col("cluster_id"))
          .groupBy(col("vec_id")).agg(min(lit(1.0) - col("score")).as("b"))
        val sil = own.join(oth, "vec_id")
          .select(col("vec_id"), col("cluster_id"),
            when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
              .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sv"))
        sil.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("sv") * lit(1e9)).cast("long")).as("sfx"))
          .select(col("cluster_id"), col("n"),
            graft.operators.RelationalOps.round6(
              col("sfx").cast("double") / lit(1e9) / col("n").cast("double"))
              .as("mean_silhouette"))
      },
      Some(
        s"""WITH $KMeansCtes,
           |srn AS (
           |  SELECT vec_id, cid, score,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
           |  FROM ksc${KmIters + 1}),
           |own AS (SELECT vec_id, cid AS cluster_id, 1.0 - score AS a
           |        FROM srn WHERE rn = 1),
           |oth AS (SELECT s.vec_id, min(1.0 - s.score) AS b
           |        FROM srn s JOIN own o ON o.vec_id = s.vec_id AND s.cid <> o.cluster_id
           |        GROUP BY 1),
           |sil AS (SELECT own.vec_id, own.cluster_id,
           |    CASE WHEN greatest(a, b) = 0.0 THEN 0.0
           |         ELSE (b - a) / greatest(a, b) END AS sv
           |  FROM own JOIN oth USING (vec_id))
           |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, count(*) AS n,
           |  floor((CAST(sum(CAST(floor(sv * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS mean_silhouette
           |FROM sil GROUP BY 1""".stripMargin)),

    // PQ quantization distortion per vector — the ANN QUALITY diagnostic
    // next to e_pq_topk's latency path: total per-subspace L2 error of the
    // assigned codes (the exact quantity the encode argmin minimizes,
    // surfaced at zero extra compute via encodeDetailed). A distortion
    // drift after a codebook retrain is the early-warning signal recall
    // probes catch only later. Per-subspace distances are already on the
    // 6-dp grid, so the per-vector sum is an exact integer fold.
    Q("e_pq_distortion",
      (s, dir) => {
        val det = graft.similarity.ProductQuantizer.encodeDetailed(
          emb(s, dir), "vec_id", "embedding")
        det.groupBy(col("vec_id"))
          .agg(sum(floor(col("dist") * lit(1e6) + lit(0.5)).cast("long")).as("dfx"),
            count(lit(1)).as("n_sub"))
          .select(col("vec_id"), col("n_sub"),
            graft.operators.RelationalOps.round6(
              col("dfx").cast("double") / lit(1e6)).as("distortion"))
      },
      Some(
        s"""WITH $PqCtes,
           |pa AS (SELECT pqd.vec_id, pqd.j, pqd.dist
           |       FROM pqd JOIN pqcodes
           |         ON pqcodes.vec_id = pqd.vec_id AND pqcodes.j = pqd.j
           |        AND pqcodes.code_id = pqd.code_id)
           |SELECT vec_id, count(*) AS n_sub,
           |  floor((CAST(sum(CAST(floor(dist * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) * 1000000 + 0.5) / 1000000 AS distortion
           |FROM pa GROUP BY 1""".stripMargin))
  )
}
