package graft.plans

import org.apache.spark.sql.catalyst.expressions.{CommonExpressionDef, CommonExpressionRef, Expression, Unevaluable, With}
import org.apache.spark.sql.catalyst.optimizer.{ColumnPruning, RemoveNoopOperators, RewriteWithExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DataType

/** A `With` common-expression that survives filter pushdown.
  *
  * Spark 4's `With` (SPARK-44145) evaluates shared subtrees once per row,
  * but its expansion rule (`RewriteWithExpression`) sits in an EARLY
  * optimizer batch: the def-Project it plants under a Filter is
  * immediately re-inlined by the operator-optimization batch's
  * `PushDownPredicates` (alias substitution duplicates the def once per
  * reference — measured on pipeline_pretrain: ~270 copies of the
  * normalize→pad regexp chain, a 54 KB Filter condition whose
  * whole-stage-codegen SOURCE generation alone held the driver ~1.3 s
  * before the first job of every execution; Janino caching can't help
  * because source text generation is not cached).
  *
  * [[DeferredWith]] is structurally the same node under a class the early
  * batch does not match, so it rides through analysis and every
  * inlining/pushdown rule as one opaque (deterministic) scalar.
  * [[ExpandDeferredWith]] — installed by `graft.GraftExtensions.install`
  * into `spark.experimental.extraOptimizations`, which SparkOptimizer runs
  * as its LAST batch — converts it to a real `With` and expands it there,
  * after which no pushdown rule runs again (AQE's re-optimizer has its
  * own small batch list that never re-inlines project aliases). The
  * expansion is Spark's own rule, so evaluation semantics are exactly
  * `With`'s: each def computed once per row in a Project below the
  * consumer, refs reading the projected column.
  *
  * Construction contract (same as `With.apply`): defs must be resolved,
  * deterministic, fully-typed expressions — build them from a resolved
  * column's expression and catalyst nodes with explicit casts, because a
  * `CommonExpressionRef` snapshots its def's root dataType eagerly.
  * Queries build this only through [[DeferredWith.apply]], which wires
  * fresh def ids; the session must carry [[ExpandDeferredWith]] (every
  * `graft.HarnessSession` does). The node is Unevaluable by design — a
  * session without the rule fails loudly at physical planning, never
  * silently.
  */
case class DeferredWith(child: Expression, defs: Seq[CommonExpressionDef])
    extends Expression with Unevaluable {
  override def children: Seq[Expression] = child +: defs
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head,
      defs = newChildren.tail.map(_.asInstanceOf[CommonExpressionDef]))
}

object DeferredWith {
  /** `f`'s result with each expression in `commonExprs` bound once: the
    * i-th argument passed to `f` is a reference to `commonExprs(i)`,
    * evaluated once per row however many times `f` uses it. Nest calls
    * when one def must reference another. */
  def apply(commonExprs: Expression*)(
      f: Seq[Expression] => Expression): DeferredWith = {
    val defs = commonExprs.map(e => CommonExpressionDef(e))
    val refs = defs.map(d => new CommonExpressionRef(d))
    DeferredWith(f(refs), defs)
  }
}

/** The late expansion: `DeferredWith` → `With`, then Spark's own
  * `RewriteWithExpression` run to ITS fixed point (upstream hosts it in
  * a fixed-point batch: one application peels one nesting level, and
  * nested defs are the normal shape here — pn references norm, scores
  * reference pn). Idempotent (a plan with no DeferredWith is returned
  * as-is), so it is safe under the fixed-point "User Provided
  * Optimizers" batch. */
object ExpandDeferredWith extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    var found = false
    val converted = plan.transformAllExpressions {
      case DeferredWith(c, d) => found = true; With(c, d)
    }
    if (!found) plan
    else {
      var prev = converted
      var cur = RewriteWithExpression(prev)
      var guard = 0
      while (!(cur eq prev) && guard < 32) {
        prev = cur; cur = RewriteWithExpression(prev); guard += 1
      }
      require(guard < 32, "ExpandDeferredWith: RewriteWithExpression did " +
        "not reach a fixed point in 32 iterations — nested With depth is " +
        "bounded by construction, so this indicates a rewrite cycle")
      // Re-prune after the expansion: the batch that pruned columns ran
      // BEFORE this one, so the fresh def-Projects still carry their
      // child's FULL output — leaving them as-is widened the parquet
      // ReadSchema back to every column (measured: pretrain's scan read
      // 5 columns instead of 2). ColumnPruning narrows the pass-through
      // lists and plants the scan-side projection again;
      // RemoveNoopOperators drops the projects the narrowing empties.
      // (CollapseProject is deliberately NOT run: its cheap-alias
      // heuristic is what the defs exist to bypass, and it must not get
      // a second chance to re-inline them.)
      RemoveNoopOperators(ColumnPruning(cur))
    }
  }
}
