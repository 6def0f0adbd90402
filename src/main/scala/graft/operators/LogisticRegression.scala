package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Distributed binary logistic regression by full-batch gradient descent —
  * the trainable upgrade of the fixed-weight quality classifier
  * (t_quality_classifier): a curation org hand-labels a slice (or derives
  * labels from metadata) and TRAINS the keep/drop rule instead of
  * hand-tuning it. The fastText-style quality filter every LLM data
  * pipeline runs, re-expressed Spark-first.
  *
  * Scale design (the part that must survive 100 TB):
  *  - each round is ONE partial-aggregable job over the feature frame —
  *    the shuffle carries (d+2) decimal partial sums PER PARTITION, never
  *    rows; driver state is O(d) weights per round. Rounds are a small
  *    constant (single-digit epochs are the norm for convex GLMs on
  *    corpus-scale data).
  *  - the caller materializes the feature frame ONCE (`train` takes
  *    features, not text): at bench SF a localCheckpoint suffices; a
  *    100 TB run persists the (id, label, d longs) projection — ~100×
  *    smaller than the corpus — and every round re-reads THAT, never the
  *    text.
  *
  * Engine-exact arithmetic (what lets an iterative trainer carry a
  * byte-for-byte DuckDB oracle, the KMeans/PageRank discipline):
  *  - features and weights live on the 1e6 integer grid (micro units);
  *    the per-doc logit `zp = w·x` is exact BIGINT arithmetic.
  *  - the link is the ALGEBRAIC fast sigmoid σ(z) = 0.5 + z / (2 + 2|z|):
  *    IEEE requires division to be correctly rounded, so any engine
  *    reproduces it bit-for-bit — `exp()` carries no such guarantee,
  *    which is why the textbook logistic link cannot be oracle-exact.
  *  - gradient sums are exact integer aggregates (Spark DECIMAL(38,0) /
  *    DuckDB HUGEINT); the weight update converts them to double (exact
  *    below 2^53 — at larger corpora the last bits of the STEP round,
  *    which perturbs training trajectories but never correctness of a
  *    given trajectory) through the identical floor(x + 0.5) sequence on
  *    both engines.
  */
object LogisticRegression {

  final case class Model(weightsMicro: Array[Long]) {
    require(weightsMicro.nonEmpty)
    /** Intercept first, then one weight per feature column. */
    def interceptMicro: Long = weightsMicro.head
  }

  private val Micro = 1000000L
  private val Micro2 = 1e12

  /** Fast-sigmoid probability on the 1e6 grid from a micro²-scaled logit
    * column: floor((0.5 + z/(2 + 2|z|)) · 1e6 + 0.5), z = zp / 1e12.
    * Every step is a correctly-rounded IEEE op on values exact below 2^53,
    * so the oracle's identical SQL sequence matches bit-for-bit. */
  def pMicro(zpMicro2: Column): Column = {
    val z = zpMicro2.cast("double") / Micro2
    floor((lit(0.5) + z / (lit(2.0) + lit(2.0) * abs(z))) * Micro.toDouble
      + lit(0.5)).cast("long")
  }

  /** The same link as DuckDB SQL over a micro²-scaled BIGINT expression. */
  def pMicroSql(zp: String): String =
    s"CAST(floor((0.5 + (CAST($zp AS DOUBLE) / 1000000000000.0) / " +
      s"(2.0 + 2.0 * abs(CAST($zp AS DOUBLE) / 1000000000000.0))) " +
      s"* 1000000.0 + 0.5) AS BIGINT)"

  private def zpColumn(w: Array[Long], featureCols: Seq[String]): Column =
    featureCols.zipWithIndex
      .map { case (c, j) => col(c) * lit(w(j + 1)) }
      .foldLeft(lit(w(0) * Micro): Column)(_ + _)

  /** The per-row logit over a joined [[weightFrame]]'s `__w0..__wd`. */
  private def zpJoined(featureCols: Seq[String]): Column =
    featureCols.zipWithIndex
      .map { case (c, j) => col(c) * col(s"__w${j + 1}") }
      .foldLeft(col("__w0") * Micro: Column)(_ + _)

  /** One epoch's gradient aggregates for the logit `zp`: exact integer
    * sums g0..gd (the intercept gradient uses x0 = 1e6), then the row
    * count n. */
  private def gradientAggs(zp: Column, labelCol: String,
      featureCols: Seq[String]): Seq[Column] = {
    val resid = pMicro(zp) - col(labelCol).cast("long") * Micro
    (sum((resid * Micro).cast("decimal(38,0)")).as("g0") +:
      featureCols.zipWithIndex.map { case (c, j) =>
        sum((resid * col(c)).cast("decimal(38,0)")).as(s"g${j + 1}")
      }) :+ count(lit(1)).as("n")
  }

  /** The fixed-point weight update in place, reading [[gradientAggs]]'s
    * g0..gd and n from `row` starting at column `offset`. */
  private def step(w: Array[Long], row: Row, offset: Int, lrMicro: Long): Unit = {
    val d = w.length - 1
    val n = row.getLong(offset + d + 1)
    require(n > 0, "empty training frame")
    var j = 0
    while (j <= d) {
      val g = row.getDecimal(offset + j).doubleValue() // exact below 2^53
      w(j) = w(j) - math.floor(
        lrMicro.toDouble * g / (n.toDouble * Micro2) + 0.5).toLong
      j += 1
    }
  }

  /** Per-group weights as a one-partition (__g, __w0..__wd) frame, in
    * group order — the broadcast dimension the grouped trainer and scorer
    * join on the group key. */
  private def weightFrame(spark: SparkSession,
      weights: scala.collection.Map[String, Array[Long]], d: Int): DataFrame = {
    val wRows = weights.toSeq.sortBy(_._1).map { case (g, ws) =>
      Row.fromSeq(g +: ws.toSeq)
    }
    val wSchema = StructType(StructField("__g", StringType, nullable = false) +:
      (0 to d).map(j => StructField(s"__w$j", LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(wRows, 1), wSchema)
  }

  /** Train by `rounds` full-batch GD epochs from zero weights.
    *
    * @param features    one row per example: `labelCol` ∈ {0, 1} and each
    *                    feature column a micro-grid long in a bounded range
    *                    (|x| ≤ ~1e6·scale; quality features live in [0, 1e6])
    * @param lrMicro     learning rate on the 1e6 grid (4e6 = 4.0)
    * @return weights on the micro grid, intercept first
    */
  def train(features: DataFrame, labelCol: String, featureCols: Seq[String],
      rounds: Int, lrMicro: Long): Model = {
    require(rounds >= 1 && rounds <= 64, "rounds must be in [1, 64]")
    require(featureCols.nonEmpty, "need at least one feature")
    val w = Array.fill(featureCols.size + 1)(0L)
    var r = 0
    while (r < rounds) {
      val aggs = gradientAggs(zpColumn(w, featureCols), labelCol, featureCols)
      step(w, features.agg(aggs.head, aggs.tail: _*).head(), 0, lrMicro)
      r += 1
    }
    Model(w)
  }

  /** Train one model PER GROUP (per-language, per-source, per-domain
    * quality classifiers — the standard shape: quality feature weights
    * differ by language) in a SINGLE distributed pass per epoch: the
    * per-group gradients are one `groupBy(groupCol)` partial-aggregable
    * job, so training k models costs the same shuffle as training one.
    * Driver state is O(groups · d); `maxGroups` keeps the per-epoch
    * collect bounded by contract (groups are languages/sources — small
    * cardinality by nature; a million-group call is a bug, not a
    * workload).
    *
    * Same fixed-point arithmetic as [[train]], applied per group — each
    * group's trajectory is EXACTLY what [[train]] would produce on that
    * group's rows alone (pinned by LogisticRegressionSpec), so the
    * grouped oracle unrolls the same CTEs with a GROUP BY.
    */
  def trainGrouped(features: DataFrame, groupCol: String, labelCol: String,
      featureCols: Seq[String], rounds: Int, lrMicro: Long,
      maxGroups: Int = 10000): Map[String, Array[Long]] = {
    require(rounds >= 1 && rounds <= 64, "rounds must be in [1, 64]")
    require(featureCols.nonEmpty, "need at least one feature")
    val d = featureCols.size
    val groups = features.select(col(groupCol).cast("string"))
      .distinct().limit(maxGroups + 1).collect().map(_.getString(0))
    require(groups.nonEmpty, "empty training frame")
    require(groups.length <= maxGroups,
      s"more than $maxGroups groups — grouped training collects O(groups·d) " +
        "per epoch; this cardinality needs a different design")
    require(!groups.contains(null), s"$groupCol must not be null")
    val w = scala.collection.mutable.Map(
      groups.map(g => g -> Array.fill(d + 1)(0L)).toSeq: _*)
    val spark = features.sparkSession
    var r = 0
    while (r < rounds) {
      // weights as a broadcast dimension joined on the group key: the
      // per-row logit reads its own group's weights, one map-side join.
      val wDf = weightFrame(spark, w, d)
      val joined = features.join(broadcast(wDf),
        features(groupCol).cast("string") === wDf("__g"))
      val aggs = gradientAggs(zpJoined(featureCols), labelCol, featureCols)
      joined.groupBy(col("__g")).agg(aggs.head, aggs.tail: _*)
        .collect().foreach(row => step(w(row.getString(0)), row, 1, lrMicro))
      r += 1
    }
    w.toMap
  }

  /** Score a feature frame with per-group models from [[trainGrouped]]:
    * the group's weights join back as a broadcast dimension, then the
    * same per-row fast-sigmoid map as [[score]]. Rows whose group has no
    * model are a CONTRACT VIOLATION (an inner join would silently drop
    * them; a left join would emit silent nulls) — they are counted with
    * one cheap anti-join on the broadcast dimension and fail loudly, so a
    * caller filters to the trained groups first. */
  def scoreGrouped(features: DataFrame, groupCol: String,
      weights: Map[String, Array[Long]], featureCols: Seq[String],
      thresholdMicro: Long = 500000L): DataFrame = {
    require(weights.nonEmpty, "no models")
    val d = featureCols.size
    weights.foreach { case (g, ws) =>
      require(ws.length == d + 1,
        s"group $g has ${ws.length} weights for $d features")
    }
    val wDf = broadcast(weightFrame(features.sparkSession, weights, d))
    val missing = features
      .join(wDf, features(groupCol).cast("string") === wDf("__g"),
        "left_anti")
      .limit(1).count()
    require(missing == 0L,
      s"feature rows reference a $groupCol with no trained model — " +
        "train that group or filter before scoring")
    val joined = features.join(wDf,
      features(groupCol).cast("string") === wDf("__g"))
    joined.withColumn("p_micro", pMicro(zpJoined(featureCols)))
      .withColumn("keep", col("p_micro") >= thresholdMicro)
      .drop("__g" +: (0 to d).map(j => s"__w$j"): _*)
  }

  /** Score a feature frame with a trained model: per-row fast-sigmoid
    * probability on the 1e6 grid plus the keep decision at `thresholdMicro`.
    * Pure per-row map — zero shuffle. */
  def score(features: DataFrame, model: Model, featureCols: Seq[String],
      thresholdMicro: Long = 500000L): DataFrame = {
    require(model.weightsMicro.length == featureCols.size + 1,
      s"model has ${model.weightsMicro.length} weights for ${featureCols.size} features")
    val p = pMicro(zpColumn(model.weightsMicro, featureCols))
    features.withColumn("p_micro", p)
      .withColumn("keep", col("p_micro") >= thresholdMicro)
  }

  /** The grouped twin of [[trainCtes]]: unrolls [[trainGrouped]] as
    * DuckDB CTEs with a GROUP BY on `groupCol`. `featuresSql` must yield
    * (id, groupCol, y, featureCols); emits `lrf` and per-round weight
    * frames `w0..w<rounds>` with one row per group (columns: groupCol,
    * w0..wd). */
  def trainGroupedCtes(featuresSql: String, groupCol: String,
      featureCols: Seq[String], rounds: Int, lrMicro: Long): String =
    unrolledCtes(featuresSql, Some(groupCol), featureCols, rounds, lrMicro)

  /** The whole unrolled training run as DuckDB CTEs — the oracle
    * counterpart of [[train]] (the KMeans discipline: the oracle replays
    * every round, so a drift in ANY round's arithmetic breaks the match).
    * `featuresSql` must yield (id, y, <featureCols>) with y ∈ {0, 1} and
    * micro-grid BIGINT features. Emits CTEs `lrf` (the feature frame) and
    * `w0..w<rounds>` (1-row weight frames with columns w0..wd). */
  def trainCtes(featuresSql: String, featureCols: Seq[String],
      rounds: Int, lrMicro: Long): String =
    unrolledCtes(featuresSql, None, featureCols, rounds, lrMicro)

  /** The CTE chain of [[trainCtes]] (`group` = None: 1-row weight frames,
    * cross joins) and [[trainGroupedCtes]] (one weight row per group,
    * equi-joins and GROUP BY on the group column). */
  private def unrolledCtes(featuresSql: String, group: Option[String],
      featureCols: Seq[String], rounds: Int, lrMicro: Long): String = {
    val d = featureCols.size
    // per-shape fragments: key-column prefixes, GROUP BY suffix, and the
    // weight-frame joins (cross join of a 1-row frame vs. key equi-join)
    val key = group.fold("")(g => s"$g, ")
    val wKey = group.fold("")(g => s"w.$g, ")
    val groupBy = group.fold("")(g => s" GROUP BY $g")
    def join(l: String, r: String, la: String, ra: String): String =
      group.fold(s"$l $la, $r $ra")(g => s"$l $la JOIN $r $ra ON $la.$g = $ra.$g")
    val sb = new StringBuilder
    // MATERIALIZED is load-bearing: every w_{r-1} is referenced twice
    // (by p_r and by w_r's update), so an inlining planner would expand
    // the chain 2^rounds times — materializing pins each round to run
    // exactly once (they are small frames; lrf is scanned once per round).
    sb ++= s"lrf AS MATERIALIZED (\n$featuresSql)"
    val zeros = (0 to d).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")
    sb ++= group.fold(s",\nw0 AS MATERIALIZED (SELECT $zeros)")(g =>
      s",\nw0 AS MATERIALIZED (SELECT DISTINCT $g, $zeros FROM lrf)")
    for (r <- 1 to rounds) {
      val zp = (s"w.w0 * 1000000" +:
        featureCols.zipWithIndex.map { case (c, j) => s"w.w${j + 1} * f.$c" })
        .mkString(" + ")
      sb ++= s""",
        |p$r AS (
        |  SELECT f.*, ${pMicroSql(zp)} - f.y * 1000000 AS resid
        |  FROM ${join("lrf", s"w${r - 1}", "f", "w")}),
        |g$r AS (
        |  SELECT ${key}sum(CAST(resid * 1000000 AS HUGEINT)) AS g0,
        |    ${featureCols.zipWithIndex.map { case (c, j) =>
                 s"sum(CAST(resid * $c AS HUGEINT)) AS g${j + 1}" }
               .mkString(",\n    ")},
        |    count(*) AS n
        |  FROM p$r$groupBy),
        |w$r AS MATERIALIZED (
        |  SELECT $wKey${(0 to d).map(j =>
                 s"w.w$j - CAST(floor($lrMicro.0 * CAST(g.g$j AS DOUBLE) / " +
                   s"(CAST(g.n AS DOUBLE) * 1000000000000.0) + 0.5) AS BIGINT) AS w$j")
               .mkString(",\n    ")}
        |  FROM ${join(s"w${r - 1}", s"g$r", "w", "g")})""".stripMargin
    }
    sb.toString
  }
}
