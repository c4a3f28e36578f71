package graft.plans

import graft.core.Hll
import graft.functions.Graft
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native HLL distinct-count aggregate — `TypedImperativeAggregate[Hll]`
  * emitting the ESTIMATE directly as a long, so it is type-compatible
  * with `Count` and an optimizer rule can swap it in post-analysis
  * (`hll_agg`, a [[SketchAgg]], emits sketch bytes instead).
  *
  * Inserts hash exactly like `hll_agg` over the same string key
  * ([[Utf8Key]], same default p and seed), so the rewritten estimate
  * EQUALS `hll_estimate(hll_agg(key))` — the equivalence the driver
  * gate asserts. Buffers serialize through the HLL wire format (sparse
  * below m/8); merge is the register max, associative under any
  * partial-aggregation tree.
  */
case class HllNdvAggExpr(child: Expression, p: Int = Hll.DefaultP,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Hll] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_ndv_agg"

  override def createAggregationBuffer(): Hll = Hll.empty(p, Graft.SketchSeed)

  override def update(buffer: Hll, input: InternalRow): Hll = {
    val v = child.eval(input)
    if (v != null)
      buffer.addHash(Utf8Key.hash(v.asInstanceOf[UTF8String], Graft.SketchSeed).h1)
    buffer
  }

  override def merge(buffer: Hll, other: Hll): Hll = buffer.merge(other)
  override def eval(buffer: Hll): Any = buffer.estimate
  override def serialize(buffer: Hll): Array[Byte] = buffer.toBytes
  override def deserialize(storageFormat: Array[Byte]): Hll = Hll.fromBytes(storageFormat)

  override def withNewMutableAggBufferOffset(newOffset: Int): HllNdvAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllNdvAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllNdvAggExpr =
    copy(child = newChild)
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
    val p = conf.getConfString("spark.graft.approxDistinct.p", Hll.DefaultP.toString).toInt
    plan.transformUp {
      case agg: Aggregate if !agg.child.isStreaming =>
        agg.transformExpressions {
          case ae @ AggregateExpression(Count(Seq(c)), _, true, _, _)
              if c.deterministic && !c.foldable && rewritableType(c.dataType) =>
            val key = if (c.dataType == StringType) c
              else Cast(c, StringType, Some(conf.sessionLocalTimeZone))
            // copy preserves resultId, so downstream attribute
            // references to the count keep resolving
            ae.copy(aggregateFunction = HllNdvAggExpr(key, p), isDistinct = false)
        }
    }
  }
}
