package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  test("imperatively registered SQL functions evaluate") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       simhash64(array('a', 'b')) AS s""".stripMargin).first()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getLong(1) !== 0L)
  }

  test("r8 functions: rademacher_bands and count_by_key evaluate from SQL") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT size(rademacher_bands(array(CAST(1.0 AS FLOAT), CAST(0.5 AS FLOAT)), 2, 4, 8)) AS nb,
        |       count_by_key(k) AS m
        |FROM VALUES (1), (1), (2) AS t(k)""".stripMargin).first()
    assert(row.getInt(0) === 4, "one key per band")
    assert(row.getMap[Int, Long](1) === Map(1 -> 2L, 2 -> 1L))
    // SQL path ≡ Column API path (both construct the same expression)
    import org.apache.spark.sql.functions.{col, explode}
    import spark.implicits._
    val viaSql = spark.sql(
      """SELECT explode(rademacher_bands(array(CAST(0.3 AS FLOAT), CAST(-0.7 AS FLOAT)), 2, 3, 5)) AS k"""
    ).as[Long].collect().toSeq
    val viaCol = Seq((0.3f, -0.7f)).toDF("a", "b")
      .select(explode(graft.expressions.RademacherBands(
        org.apache.spark.sql.functions.array(col("a"), col("b")), 2, 3, 5)).as("k"))
      .as[Long].collect().toSeq
    assert(viaSql === viaCol)
  }

  test("a GraftSession.local session carries the literal-hoisting columnar rule") {
    // register() cannot add it to an existing session; the extension must
    assert(spark.sessionState.columnarRules.map(_.preColumnarTransitions)
      .contains(graft.plans.LiteralHoisting))
  }

  test("extension injection wires without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw
  }

  test("nfc_normalize composes decomposed sequences; codegen and SQL agree") {
    GraftExtensions.register(spark)
    // "e" + U+0301 must compose to U+00E9; already-NFC input is unchanged
    val row = spark.sql(
      "SELECT nfc_normalize('café') AS c, nfc_normalize('plain') AS p," +
        " length(nfc_normalize('café')) AS l").first()
    assert(row.getString(0) == "café")
    assert(row.getString(1) == "plain")
    assert(row.getInt(2) == 4 || row.getLong(2) == 4L)
    // Column API matches the independent JDK reference on mixed input
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val mixed = Seq("äbc", "x", "", "ñ + ô")
    val got = mixed.toDF("s")
      .select(graft.expressions.NfcNormalize(col("s")).as("n"))
      .as[String].collect()
    val want = mixed.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq == want)
  }

  test("topk_by_score SQL aggregate evaluates and ranks") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((1L, 0.5, 10L), (1L, 0.9, 11L), (1L, 0.7, 12L), (2L, 0.1, 20L))
      .toDF("k", "score", "id").createOrReplaceTempView("topk_ext_test")
    val rows = spark.sql(
      "SELECT k, topk_by_score(score, id, 2) AS t FROM topk_ext_test GROUP BY k")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getDouble(0), e.getLong(1))))
      .toMap
    assert(rows(1L) === Seq((0.9, 11L), (0.7, 12L)))
    assert(rows(2L) === Seq((0.1, 20L)))
  }

  test("multi_pattern_hits evaluates from SQL and matches the Column API") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT multi_pattern_hits('ushers', array('he', 'she', 'his', 'hers')) AS h,
        |       multi_pattern_hits('nothing', array('zz')) AS e""".stripMargin)
      .first()
    assert(row.getSeq[Int](0) === Seq(0, 1, 3))
    assert(row.getSeq[Int](1) === Seq.empty)
    // non-literal pattern arg fails loudly at plan time
    val err = intercept[Exception] {
      spark.sql("SELECT multi_pattern_hits('x', array(repeat('a', 2)))").first()
    }
    assert(err.getMessage.contains("string literals") ||
      err.getMessage.contains("array literal"))
  }

  test("cosine_sim SQL equals Column API bit-for-bit") {
    GraftExtensions.register(spark)
    val emb = Tables.load(spark, GraftTestSpark.sfDir, "embeddings").limit(50)
    emb.createOrReplaceTempView("emb_ext_test")
    val viaSql = spark.sql(
      "SELECT vec_id, cosine_sim(embedding, embedding) AS c FROM emb_ext_test")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaCol = emb.select(org.apache.spark.sql.functions.col("vec_id"),
        graft.similarity.SimilaritySearch.cosine(
          org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql === viaCol)
  }

  test("register installs exactly the functions the extension injects") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
    // what apply() injects, read back through the extension's own
    // registration into an empty registry (registerFunctions is
    // package-private to Spark, hence the reflective call)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = new SimpleFunctionRegistry
    ext.getClass.getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, injected)
    val injectedNames = injected.listFunction().map(_.funcName).toSet
    assert(injectedNames.contains("minhash_sig") &&
      injectedNames.contains("hyperplane_bands"))
    // a session whose graft functions are dropped: register() must add
    // back exactly the injected set, nothing more and nothing less
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    injectedNames.foreach(n => reg.dropFunction(FunctionIdentifier(n)))
    val before = reg.listFunction().map(_.funcName).toSet
    assert((before & injectedNames).isEmpty)
    GraftExtensions.register(s)
    assert(reg.listFunction().map(_.funcName).toSet -- before === injectedNames)
    // the band and signature functions evaluate through the registered names
    val row = s.sql(
      """SELECT size(minhash_sig(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT)), 8, 7)) AS m,
        |       size(hyperplane_bands(array(CAST(1.0 AS FLOAT), CAST(0.5 AS FLOAT)),
        |         2, 4, 6, 42)) AS h""".stripMargin).first()
    assert(row.getInt(0) === 8, "one signature slot per permutation")
    assert(row.getInt(1) === 4, "one key per band")
  }
}
