package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{CosineSimilarityExpr, GeoMeanUdaf, RollingHashExpr}
import graft.plans.ExpandDeferredWith

/** The one install point for graft's SQL functions and optimizer rule,
  * called by [[HarnessSession.build]] on every session it makes; no query
  * constructor mutates its session. Idempotent, in the shape of Pathling's
  * `SqlStrategy.setup`. It installs:
  *  - `cosine_similarity(a, b)` and `rolling_hash(str, k, stride)`, the
  *    codegen'd native expressions, in the temp-function registry — no
  *    UDF, full whole-stage codegen from plain SQL text;
  *  - `geomean(x)`, the typed [[GeoMeanUdaf]];
  *  - [[ExpandDeferredWith]], appended once to
  *    `experimental.extraOptimizations`. It must stay there, the
  *    optimizer's LAST batch: `injectOptimizerRule` would put it in the
  *    operator-optimization batch, whose pushdown re-inlines exactly the
  *    defs the rule exists to keep apart.
  *
  * A session made any other way (`spark.newSession()`) starts without
  * them and must call [[install]] itself. */
object GraftExtensions {

  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "cosine_similarity", cosineSimilarity, "built-in")
    registry.createOrReplaceTempFunction(
      "rolling_hash", rollingHash, "built-in")
    spark.udf.register("geomean",
      org.apache.spark.sql.functions.udaf(GeoMeanUdaf))
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(ExpandDeferredWith))
      spark.experimental.extraOptimizations = rules :+ ExpandDeferredWith
  }

  private def cosineSimilarity(args: Seq[Expression]): Expression = {
    require(args.length == 2,
      s"cosine_similarity expects 2 arguments, got ${args.length}")
    CosineSimilarityExpr(args(0), args(1))
  }

  private def rollingHash(args: Seq[Expression]): Expression = {
    require(args.length == 3,
      s"rolling_hash expects (str, k, stride), got ${args.length} args")
    def intLit(e: Expression, name: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"rolling_hash: $name must be an integer literal, got $other")
    }
    RollingHashExpr(args.head, intLit(args(1), "k"), intLit(args(2), "stride"))
  }
}
