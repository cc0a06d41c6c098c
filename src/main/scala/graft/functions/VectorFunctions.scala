package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns using Spark's built-in
  * higher-order functions (`zip_with` + `aggregate`) — no UDF, no
  * serialization boundary; everything stays in Catalyst expressions.
  *
  * All arithmetic is forced to DOUBLE before multiplication/summation:
  * float-by-float products then double accumulation would differ from an
  * external engine's double-by-double path by more than rounding can hide.
  * (Left-to-right sequential accumulation matches a straightforward loop;
  * residual last-bit drift across engines is absorbed by ranking on values
  * ROUNDED to 4 dp — see graft.queries.QueryDef.)
  */
object VectorFunctions {

  private def asD(c: Column): Column = c.cast("array<double>")

  /** Dot product Σ aᵢ·bᵢ in double precision — HOF formulation
    * (interpreted lambda per element; the semantic reference for the
    * codegen'd path). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asD(a), asD(b), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)

  /** Dot product via the codegen'd [[DotProductExpr]] — bitwise-equal to
    * [[dotHof]] (identical left-to-right double accumulation, identical
    * null outcomes; pinned by VectorFunctionsSpec) and fused into
    * whole-stage codegen instead of walking an interpreted lambda per
    * element. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(DotProductExpr(
      GraftShims.expression(asD(a)), GraftShims.expression(asD(b))))
  }

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity dot/(‖a‖·‖b‖) — HOF formulation (interpreted lambda
    * per element; kept as the semantic reference for the codegen'd path). */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Cosine similarity via the codegen'd [[CosineSimilarityExpr]]: same
    * value bitwise, ~an order of magnitude faster in the hot path. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(CosineSimilarityExpr(
      GraftShims.expression(a), GraftShims.expression(b)))
  }

  /** Cosine rounded to `d` decimals — the cross-engine-stable form used for
    * thresholding and ranking. */
  def cosineRounded(a: Column, b: Column, d: Int = 4): Column =
    round(cosine(a, b), d)
}
