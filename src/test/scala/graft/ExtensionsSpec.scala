package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions installs vec_dot and minhash_agg at session build —
  * no explicit register() call needed on a GraftSession. */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("custom functions are available via SQL from session extensions") {
    val d = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    import spark.implicits._
    Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("id", "tok")
      .createOrReplaceTempView("ext_toks")
    val sigs = spark.sql(
      "SELECT id, minhash_agg(tok, 4) AS sig FROM ext_toks GROUP BY id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 4 && sigs(2L).length == 4)
    assert(sigs(1L) != sigs(2L))
    val sh = spark.sql(
      "SELECT simhash_agg(tok) AS sh FROM ext_toks WHERE id = 1 GROUP BY id")
      .head().getLong(0)
    assert(sh != 0L)
  }

  test("every kernel is SQL-callable from extensions alone — " +
      "no per-session register() call") {
    // the spark-submit deployment contract: --conf
    // spark.sql.extensions=graft.GraftExtensions must expose the FULL
    // function surface
    val d2 = spark.sql(
      "SELECT vec_dist2(array(1L, 5L), array(4L, 3L)) AS d")
      .head().getLong(0)
    assert(d2 == 13L)
    val dl = spark.sql(
      "SELECT vec_dot_l(array(2L, 3L), array(10L, 100L)) AS d")
      .head().getLong(0)
    assert(dl == 320L)
    import spark.implicits._
    Seq("a", "a", "b").toDF("tok").createOrReplaceTempView("ext_cm_toks")
    val cm = spark.sql(
      "SELECT count_min_agg(tok, 2, 8) AS s FROM ext_cm_toks").head()
    assert(!cm.isNullAt(0))
    val cmp = spark.sql(
      "SELECT count_min_agg_portable(tok, 2, 8) AS s FROM ext_cm_toks")
      .head()
    assert(!cmp.isNullAt(0))
    val mg = spark.sql(
      "SELECT misra_gries_agg(tok, 4) AS s FROM ext_cm_toks")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(mg.nonEmpty && mg.head.getString(0) == "a")
    val ka = spark.sql(
      "SELECT kmeans_assign(array(1L, 1L)," +
        " array(array(0L, 0L), array(2L, 2L))) AS c")
      .head()
    assert(!ka.isNullAt(0))
    val nk = spark.sql("SELECT norm_key('Hello,  World!') AS k")
      .head().getString(0)
    assert(nk == "hello world")
  }

  test("topk_agg is SQL-callable and HammingJoinRewrite is installed") {
    import spark.implicits._
    Seq((1L, 5.0), (2L, 9.0), (3L, 1.0)).toDF("id", "score")
      .createOrReplaceTempView("ext_scores")
    val top = spark.sql(
      "SELECT topk_agg(score, id, 2) AS top FROM ext_scores")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(top.length == 2)
    // the optimizer rule arrived via the same extensions injection
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .exists(_ == graft.plans.HammingJoinRewrite) ||
      spark.sessionState.optimizer.batches.flatMap(_.rules)
        .contains(graft.plans.HammingJoinRewrite))
  }
}
