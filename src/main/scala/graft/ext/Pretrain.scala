package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Sources.scatter

/** The composed pretraining-curation pipeline: quality gate → language
  * filter → exact dedup → deterministic split assignment, FUSED into the
  * shape a 100 TB run wants rather than chained operator calls.
  *
  * Composing the individual operators ([[TextAnalysis.filterByQuality]],
  * [[TextAnalysis.languageId]], [[Dedup.exactGroups]], [[Splits.assign]])
  * would scan and re-normalize the corpus once PER STAGE and join the
  * stages on doc_id. Every signal here is a pure function of the same
  * normalized text, so one projection derives them all in a single scan:
  * normalize once; token count, stopword hits, language scores, and the
  * content hash come out of the same codegen'd map; the gates are narrow
  * filters that push into the scan boundary. The ONLY exchange in the
  * whole pipeline is the exact-dedup hash partition — done as a window
  * min over content_hash (one shuffle) instead of aggregate-then-join
  * (two). Split assignment is again a narrow projection.
  *
  * Same cut semantics as the standalone operators: quality and token
  * gates match text_quality_filter, the language argmax matches
  * text_langid, keep-min-doc_id matches dedup_exact_groups, buckets match
  * f_split_assign — each individually oracle-checked; the composition is
  * oracle-checked end-to-end as pipeline_pretrain.
  */
object Pretrain {

  /** The curation gate as ONE catalyst predicate over the raw text with
    * the shared subtrees (normalized text, padded text, token count, the
    * five language scores) bound as `With` common-expressions
    * (SPARK-44145 — the node `between` and the NullIf rewrites use).
    *
    * Why (guide §7.2/§3.3 — plan size IS a driver cost): the previous
    * withColumn/foldLeft formulation produced identical VALUES, but
    * filter pushdown inlines deterministic Project aliases into the
    * pushed condition once per reference, so the gate carried ~270
    * copies of the normalize→pad regexp chain — a 54 KB physical plan
    * whose analysis + optimization + codegen-source cost the driver
    * re-paid on every construction (~2 s/pass at sf0.1, vs 0.5 s of task
    * CPU; executors were fine — whole-stage codegen's subexpression
    * elimination already deduped at runtime). `RewriteWithExpression`
    * runs AFTER filter pushdown, so the collapsed tree survives into the
    * scan-side Filter and materializes each def once per row in a
    * Project below it.
    *
    * Built directly in catalyst (not via `functions._`) because a
    * `CommonExpressionRef` snapshots its def's root dataType at
    * construction: defs must be resolved and fully typed, which the
    * Column API only yields after analysis. Each node below is exactly
    * what the analyzer derives from the Column original (explicit
    * DivisionTypeCoercion casts written out; same conjunct order, same
    * left-associated marker sums, same single CASE with an 'und' else),
    * so the gate is value-identical arm for arm. */
  private def curationGate(text: org.apache.spark.sql.catalyst.expressions.Expression,
                           minScore: Double, minTokens: Long, wantLang: String)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.plans.DeferredWith
    val norm = StringTrim(RegExpReplace(Lower(text), Literal("\\s+"), Literal(" ")))
    DeferredWith(norm) { case Seq(n) =>
      val pn = Concat(Seq(Literal(" "), n, Literal(" ")))
      val nTok = Cast(Size(StringSplit(n, Literal(" "), Literal(-1))), LongType)
      DeferredWith(pn, nTok) { case Seq(pnR, ntR) =>
        // countCol's length-of-replace identity, division pre-cast to
        // double (the tree DivisionTypeCoercion + ConstantFolding make).
        def cnt(w: String): Expression = {
          val p = s" $w "
          new Divide(
            Cast(new Subtract(Length(pnR),
              Length(StringReplace(pnR, Literal(p), Literal("")))), DoubleType),
            Literal(p.length.toDouble))
        }
        val scores = TextAnalysis.langMarkers.map { case (l, ws) =>
          l -> ws.map(cnt).reduce[Expression]((a, b) => new Add(a, b))
        }
        DeferredWith(scores.map(_._2): _*) { refs =>
          val byLang = scores.map(_._1).zip(refs)
          val stopHits = byLang.find(_._1 == "en").get._2
          val ntD = Cast(ntR, DoubleType)
          val quality = new Add(
            new Multiply(Least(Seq(new Divide(ntD, Literal(100.0)),
              Literal(1.0))), Literal(0.5)),
            new Multiply(Least(Seq(new Multiply(new Divide(stopHits, ntD),
              Literal(5.0)), Literal(1.0))), Literal(0.5)))
          val arms = byLang.map { case (l, s) =>
            (byLang.map(_._2).map(o => GreaterThanOrEqual(s, o))
              .reduce[Expression]((a, b) => And(a, b)), Literal(l))
          }
          val langCase = CaseWhen(arms, Some(Literal("und")))
          And(And(
            GreaterThanOrEqual(ntR, Literal(minTokens)),
            GreaterThanOrEqual(quality, Literal(minScore))),
            EqualTo(langCase, Literal(wantLang)))
        }
      }
    }
  }

  /** Curate `docs` → (doc_id, n_tokens, split) for the surviving corpus.
    * The gate needs [[graft.plans.ExpandDeferredWith]] on the session,
    * which [[graft.GraftExtensions.install]] puts there. */
  def curate(docs: DataFrame, minScore: Double = 0.5, minTokens: Long = 10,
             wantLang: String = "en", idCol: String = "doc_id"): DataFrame = {
    val raw = scatter(docs.select(col(idCol), col("text")))
    val gate = org.apache.spark.sql.GraftShims.column(curationGate(
      org.apache.spark.sql.GraftShims.expression(raw("text")),
      minScore, minTokens, wantLang))
    val gated = raw
      .filter(gate)
      .select(col(idCol),
        size(TextAnalysis.tokens(TextAnalysis.normalize(col("text"))))
          .cast("long").as("n_tokens"),
        md5(TextAnalysis.normalize(col("text"))).as("content_hash"))
    // Exact dedup, keep-min: window min needs no sort and no second join —
    // the shuffle carries (hash, id, n_tokens), never document bodies.
    val keepId = min(col(idCol)).over(Window.partitionBy(col("content_hash")))
    gated
      .withColumn("keep_id", keepId)
      .filter(col(idCol) === col("keep_id"))
      .select(col(idCol), col("n_tokens"),
        when(Splits.hashBucket(col(idCol)) < 80, lit("train"))
          .when(Splits.hashBucket(col(idCol)) < 90, lit("val"))
          .otherwise(lit("test")).as("split"))
  }
}
