package graft.plans

import graft.{GraftExtensions, SparkSpec}
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** DeferredWith: the late-expanded With common-expression (the
  * pipeline_pretrain gate mechanism). Pins (1) value parity with the
  * plain inlined formulation, (2) that the expansion SURVIVES filter
  * pushdown — the final plan carries `_common_expr` def-Projects and the
  * Filter condition references them instead of duplicated subtrees, (3)
  * nested defs expand fully (no With survives to physical planning),
  * (4) GraftExtensions.install is idempotent, (5) a session without it
  * fails LOUDLY
  * rather than silently executing something else. */
class DeferredWithSpec extends SparkSpec {

  // parquet-backed so pushdown has a real scan to target; a
  // LocalRelation would be constant-folded before the shapes we pin.
  private def docs(s: org.apache.spark.sql.SparkSession): DataFrame =
    graft.io.Sources.table(s, "/root/testdata/sf0.001", "documents")

  private lazy val withRule = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s
  }

  /** Expensive shared def (regexp chain) referenced three times. */
  private def gate(df: DataFrame): org.apache.spark.sql.Column = {
    val text = GraftShims.expression(df("text"))
    val norm = StringTrim(RegExpReplace(Lower(text), Literal("\\s+"), Literal(" ")))
    GraftShims.column(DeferredWith(norm) { case Seq(n) =>
      // nested level: token count over the outer ref
      val nTok = Cast(Size(StringSplit(n, Literal(" "), Literal(-1))), LongType)
      DeferredWith(nTok) { case Seq(nt) =>
        And(And(
          GreaterThanOrEqual(nt, Literal(3L)),
          LessThan(nt, Literal(500L))),
          GreaterThan(
            new Divide(Cast(Length(n), DoubleType), Cast(nt, DoubleType)),
            Literal(2.0)))
      }
    })
  }

  private def inlineGate(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val norm = trim(regexp_replace(lower(df("text")), "\\s+", " "))
    val nt = size(split(norm, " ")).cast("long")
    nt >= 3L && nt < 500L && (length(norm).cast("double") / nt.cast("double")) > 2.0
  }

  test("value parity with the inlined formulation, and rows survive") {
    val d = docs(withRule)
    val got = d.filter(gate(d)).select("doc_id").collect().map(_.getLong(0)).sorted
    val want = d.filter(inlineGate(d)).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.nonEmpty, "gate must keep some rows for the parity to mean anything")
    assert(got.sameElements(want))
  }

  test("expansion survives pushdown: defs projected once, filter references them") {
    val d = docs(withRule)
    val qe = d.filter(gate(d)).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("_common_expr"),
      s"expected _common_expr def-projects in the physical plan:\n$plan")
    // the expensive def appears ONCE (its def-project), not once per ref
    val regexCopies = "regexp_replace".r.findAllIn(plan).length
    assert(regexCopies == 1,
      s"normalize chain duplicated $regexCopies times in the physical plan")
    // nothing unexpanded
    assert(!plan.contains("commonexpressionref"), "dangling With ref in physical plan")
  }

  test("install is idempotent") {
    val functions =
      withRule.sessionState.functionRegistry.listFunction().toSet
    GraftExtensions.install(withRule)
    GraftExtensions.install(withRule)
    assert(withRule.experimental.extraOptimizations ==
      Seq(ExpandDeferredWith))
    assert(withRule.sessionState.functionRegistry.listFunction().toSet ==
      functions)
  }

  test("uninstalled session fails loudly, not silently") {
    val bare = spark.newSession()
    val d = docs(bare)
    val e = intercept[Exception] {
      d.filter(gate(d)).collect()
    }
    assert(e.getMessage != null)
  }

  test("pipeline_pretrain itself carries the collapsed gate") {
    val s = spark.newSession()
    GraftExtensions.install(s)
    val out = graft.ext.Pretrain.curate(docs(s))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("_common_expr"))
    // one normalize for the gate's def + two in the post-filter
    // projection (n_tokens, content_hash) — never the ~270 of the
    // inlined formulation
    val copies = "regexp_replace".r.findAllIn(plan).length
    assert(copies <= 4, s"normalize chain duplicated $copies times")
  }
}
