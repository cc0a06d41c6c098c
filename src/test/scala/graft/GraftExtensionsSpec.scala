package graft

import graft.plans.ExpandDeferredWith

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_similarity is callable from SQL after registration") {
    Seq((Array(1.0f, 0.0f), Array(0.5f, 0.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val r = spark.sql(
      "SELECT cosine_similarity(a, b) AS c FROM vecs").head()
    assert(r.getDouble(0) == 1.0)
  }

  test("rolling_hash is callable from SQL with literal window args") {
    Seq("abcdefghij").toDF("t").createOrReplaceTempView("rh")
    val arr = spark.sql("SELECT rolling_hash(t, 4, 2) AS h FROM rh")
      .head().getSeq[Long](0)
    assert(arr.nonEmpty)
    // non-literal k must be rejected, not silently miscomputed
    intercept[Exception] {
      spark.sql("SELECT rolling_hash(t, length(t), 2) FROM rh").collect()
    }
  }

  test("constructing queries leaves the recipe session unchanged") {
    // the three queries that used to install their own functions / rule
    val rules = spark.experimental.extraOptimizations
    val functions = spark.sessionState.functionRegistry.listFunction().toSet
    assert(rules.count(_ eq ExpandDeferredWith) == 1)
    for (name <- Seq("pipeline_pretrain", "f_sql_cosine", "a_udaf_geomean"))
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    assert(spark.experimental.extraOptimizations == rules)
    assert(spark.sessionState.functionRegistry.listFunction().toSet ==
      functions)
  }
}
