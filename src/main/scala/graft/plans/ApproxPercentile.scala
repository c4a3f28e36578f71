package graft.plans

import graft.core.Kll
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile, PercentileDisc}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `percentile`/`percentile_disc` rewritten: `kll_agg`'s sketch over the
  * value at the default k, the quantile ESTIMATE(s) as its result, NULL
  * on empty input like `Percentile`. The type must mirror `Percentile`'s
  * exactly (double, or array<double> for the array form), since the
  * rewrite keeps the AggregateExpression's resultId. The estimate
  * carries the library's published single-rank error
  * eps ~= 1.969/k^0.9433 (~1.55% at the default k=200) under any merge
  * tree; KLL is deliberately NOT byte-stable across merge trees (the
  * same posture as every kll_* gate in this repo). */
case class KllQuantileKind(percentages: Seq[Double], returnArray: Boolean)
    extends ResultKind[Kll](KllKind()) {
  def name: String = "kll_quantile_agg"
  override def dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false) else DoubleType
  override def result(s: Kll): Any =
    if (s.n == 0L) null
    else if (returnArray) new GenericArrayData(percentages.map(s.quantile).toArray)
    else s.quantile(percentages.head)
}

/** O71 — opt-in exact `percentile(x, p)` / `median(x)` -> KLL estimate
  * rewrite (the quantile twin of [[ApproxDistinctRewriteRule]]).
  *
  * Why: Spark's exact `Percentile` buffers EVERY distinct input value
  * with its count per group (an `OpenHashMap[value, count]` that
  * serializes whole between partial and final aggregation) — at 10^11
  * rows of high-cardinality doubles the aggregation state IS the
  * dataset, and the job dies long before the sort would. The KLL form
  * holds a ~1 KB bounded sketch per group whatever the input size, is
  * partial-aggregated map-side, and answers within the published rank
  * error (~1.55% of rank at the default k=200) — the difference
  * between "impossible at scale" and "one shuffle of sketches". The
  * answer changes (estimate, and order-statistic semantics rather than
  * `Percentile`'s linear interpolation between adjacent values), so
  * the rule is opt-in per query: `SET spark.graft.approxPercentile
  * .enabled=true`.
  *
  * Fires only on non-distinct `Percentile` with unit frequency,
  * foldable percentage(s), a deterministic non-foldable NUMERIC child,
  * reverse=false, in a non-streaming Aggregate. `median(x)` and
  * `percentile_cont` arrive here already rewritten to `Percentile` by
  * Spark's `ReplaceExpressions` (Finish-Analysis batch, which runs
  * before `experimental.extraOptimizations` / injected rules — the
  * same ordering O64 relies on for distinct-FILTER expansion).
  * `percentile(x, p, freq)` with freq != 1, `percentile(DISTINCT ..)`,
  * WITHIN GROUP (ORDER BY .. DESC) (reverse=true) and `percentile_disc`
  * (its own aggregate, already discrete) are left exact — spec-pinned.
  * Idempotent: the rewrite removes the only pattern it matches.
  */
object ApproxPercentileRewriteRule extends Rule[LogicalPlan] {

  private def unitFrequency(e: Expression): Boolean = e match {
    case Literal(1L, LongType) => true
    case _ => e.foldable && e.dataType == LongType && e.eval() == 1L
  }

  /** Extract the percentage list and arrayness from the foldable
    * percentage expression; None if any value is null/out of range
    * (Percentile itself would fail at runtime — leave it alone). */
  private def foldPercentages(e: Expression): Option[(Seq[Double], Boolean)] = e.dataType match {
    case ArrayType(elemType, _) =>
      Option(e.eval()).flatMap { raw =>
        val arr = raw.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val out = new Array[Double](arr.numElements())
        var i = 0
        var ok = out.nonEmpty
        while (ok && i < out.length) {
          if (arr.isNullAt(i)) ok = false
          else { out(i) = toDouble(arr.get(i, elemType), elemType); i += 1 }
        }
        if (ok && out.forall(p => p >= 0.0 && p <= 1.0)) Some((out.toSeq, true)) else None
      }
    case _ =>
      Option(e.eval()).map(v => toDouble(v, e.dataType))
        .filter(p => p >= 0.0 && p <= 1.0).map(p => (Seq(p), false))
  }

  private def toDouble(v: Any, t: DataType): Double = t match {
    case DoubleType => v.asInstanceOf[Double]
    case FloatType => v.asInstanceOf[Float].toDouble
    case IntegerType => v.asInstanceOf[Int].toDouble
    case LongType => v.asInstanceOf[Long].toDouble
    case ShortType => v.asInstanceOf[Short].toDouble
    case ByteType => v.asInstanceOf[Byte].toDouble
    case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    case _ => throw new IllegalStateException(s"non-numeric percentage type $t")
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.approxPercentile.enabled", "false") != "true") return plan
    plan.transformUp {
      case agg: Aggregate if !agg.child.isStreaming =>
        agg.transformExpressions {
          case ae @ AggregateExpression(p: Percentile, _, false, _, _)
              if !p.reverse && unitFrequency(p.frequencyExpression) &&
                p.percentageExpression.foldable &&
                p.child.deterministic && !p.child.foldable &&
                p.child.dataType.isInstanceOf[NumericType] =>
            foldPercentages(p.percentageExpression) match {
              case Some((pcts, isArray)) =>
                val value = if (p.child.dataType == DoubleType) p.child
                  else Cast(p.child, DoubleType)
                // copy preserves resultId — downstream references keep resolving
                ae.copy(aggregateFunction = SketchAgg(Seq(value), KllQuantileKind(pcts, isArray)))
              case None => ae
            }
          // percentile_disc: the closest exact twin of the KLL estimate —
          // both return the smallest value whose cumulative fraction
          // reaches p (no interpolation), so the rewrite approximates
          // the SAME definition. Scalar-percentage form only (disc's SQL
          // surface); legacyCalculation uses a different rank formula
          // and is left exact.
          case ae @ AggregateExpression(p: PercentileDisc, _, false, _, _)
              if !p.reverse && !p.legacyCalculation &&
                p.percentageExpression.foldable &&
                p.child.deterministic && !p.child.foldable &&
                p.child.dataType.isInstanceOf[NumericType] =>
            foldPercentages(p.percentageExpression) match {
              case Some((pcts, false)) =>
                val value = if (p.child.dataType == DoubleType) p.child
                  else Cast(p.child, DoubleType)
                ae.copy(aggregateFunction =
                  SketchAgg(Seq(value), KllQuantileKind(pcts, returnArray = false)))
              case _ => ae
            }
        }
    }
  }
}
