package graft.plans

import graft.core.Hll
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** `COUNT(DISTINCT x)` rewritten: `hll_agg`'s sketch over the key at
  * the default p and seed, its estimate as a non-null bigint, so it is
  * type-compatible with `Count`. The rewritten estimate therefore EQUALS
  * `hll_estimate(hll_agg(key))`, the equivalence the driver gate
  * asserts. */
case object HllEstimateKind extends ResultKind[Hll](HllKind()) {
  def name: String = "hll_ndv_agg"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def result(s: Hll): Any = s.estimate
}

/** O64 — opt-in `COUNT(DISTINCT x)` -> HLL estimate rewrite.
  *
  * Why: an exact distinct count is the most expensive aggregate shape
  * Spark plans — `planAggregateWithOneDistinct` runs TWO full
  * aggregation passes with an exchange keyed on (group, key), i.e. the
  * shuffle carries every distinct (group, key) pair. At 10^11 rows
  * with high-cardinality keys that exchange IS the job. The HLL form
  * is one pass, partial-aggregated map-side, and ships one sketch
  * (4 KB dense at the default p=12) per group per task — at the
  * documented cost of an ESTIMATE (sigma ~ 1.04/sqrt(2^p), ~1.6%
  * at p=12). Because the answer changes, this is opt-in per query
  * (`SET spark.graft.approxDistinct.enabled=true`), the same posture
  * as BigQuery's APPROX_COUNT_DISTINCT being a separate function —
  * here existing SQL gets the lever without a rewrite.
  *
  * Fires only on `Count` with `isDistinct`, a SINGLE deterministic
  * non-foldable child of non-floating atomic type (same allowlist as
  * [[EbfJoinPruneRule]]: the key is rendered to its canonical string
  * for hashing, and float -0.0/NaN renderings could split or merge
  * value classes), in a non-streaming Aggregate. Multi-column
  * `COUNT(DISTINCT a, b)` is left alone — and so is
  * `COUNT(DISTINCT x) FILTER (...)` and any multi-distinct query:
  * Spark's own `RewriteDistinctAggregates` expands those to the
  * Expand form BEFORE the user-rule batch runs, so this rule never
  * sees them and they stay exact (spec-pinned, conservative by
  * construction). Idempotent: the rewrite removes the only pattern
  * it matches.
  */
object ApproxDistinctRewriteRule extends Rule[LogicalPlan] {

  private def rewritableType(t: DataType): Boolean = t match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         BooleanType | DateType | TimestampType | TimestampNTZType | BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.approxDistinct.enabled", "false") != "true") return plan
    plan.transformUp {
      case agg: Aggregate if !agg.child.isStreaming =>
        agg.transformExpressions {
          case ae @ AggregateExpression(Count(Seq(c)), _, true, _, _)
              if c.deterministic && !c.foldable && rewritableType(c.dataType) =>
            val key = if (c.dataType == StringType) c
              else Cast(c, StringType, Some(conf.sessionLocalTimeZone))
            // copy preserves resultId, so downstream attribute
            // references to the count keep resolving
            ae.copy(aggregateFunction = SketchAgg(Seq(key), HllEstimateKind), isDistinct = false)
        }
    }
  }
}
