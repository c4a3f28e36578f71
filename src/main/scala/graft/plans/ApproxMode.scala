package graft.plans

import graft.core.FreqSketch
import graft.functions.Graft
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Mode}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `mode(x)` rewritten: `topk_agg`'s Misra-Gries sketch over the string
  * value (seeded with the library seed), its top-1 item as the result,
  * NULL on empty input, type-compatible with `Mode` over a string child.
  * EXACT whenever the group's distinct-value count fits the sketch
  * capacity (no decrement ever fires — all counts are true counts);
  * beyond capacity it is the classic heavy-hitter approximation
  * (undercounts bounded by n/capacity, the true mode survives when
  * its frequency exceeds that). Ties resolve deterministically to the
  * smallest value (FreqSketch.topK order), where exact `Mode` with no
  * WITHIN GROUP ordering returns an arbitrary one. */
case class MgModeKind(capacity: Int)
    extends ResultKind[FreqSketch](TopKKind(capacity, Graft.SketchSeed)) {
  def name: String = "mg_mode_agg"
  override def dataType: DataType = StringType
  override def result(s: FreqSketch): Any =
    s.topK(1).headOption.map(t => UTF8String.fromString(t._1)).orNull
}

/** O76 — opt-in `mode(x)` -> Misra-Gries rewrite (the third member of
  * the approximate-planner family, after O64 COUNT(DISTINCT)->HLL and
  * O71 percentile->KLL).
  *
  * Why: Spark's exact `Mode` buffers EVERY distinct value with its
  * count in a per-group hash map and ships the whole map between
  * partial and final aggregation — the same unbounded-state shape as
  * exact Percentile, dying exactly when the answer matters (mode of a
  * high-cardinality column at corpus scale). The Misra-Gries form is a
  * fixed `capacity`-slot summary per group: EXACT while the group's
  * distinct count fits (every count is a true count — this covers the
  * typical categorical-mode use outright), heavy-hitter-approximate
  * beyond, with the documented n/capacity undercount bound.
  *
  * Semantics change twice over (estimate beyond capacity; ties resolve
  * to the smallest value where exact mode with no ordering picks an
  * arbitrary one), so the rule is opt-in per query
  * (`spark.graft.approxMode.enabled`, optional `.capacity`). Fires
  * only on a plain `mode(x)` with a deterministic non-foldable STRING
  * child (the result type must stay the child's type; strings are the
  * categorical case this serves) and no WITHIN GROUP ordering
  * (`reverseOpt` empty — `mode() WITHIN GROUP (ORDER BY ..)` requests
  * a specific deterministic tie-break and stays exact), in a
  * non-streaming Aggregate. Idempotent: the rewrite removes the only
  * pattern it matches.
  */
object ApproxModeRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.approxMode.enabled", "false") != "true") return plan
    val capacity = conf.getConfString("spark.graft.approxMode.capacity",
      FreqSketch.DefaultCapacity.toString).toInt
    plan.transformUp {
      case agg: Aggregate if !agg.child.isStreaming =>
        agg.transformExpressions {
          case ae @ AggregateExpression(Mode(c, _, _, None), _, false, _, _)
              if c.deterministic && !c.foldable && c.dataType == StringType =>
            // copy preserves resultId — downstream references keep resolving
            ae.copy(aggregateFunction = SketchAgg(Seq(c), MgModeKind(capacity)))
        }
    }
  }
}
