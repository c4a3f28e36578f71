package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, EqualTo, Expression, PredicateHelper, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types._

/** O36 — the library-call semi-join reduction (`JoinPrune.ebfPrunedJoin`,
  * O31) as an OPT-IN optimizer rule: existing SQL / DataFrame joins get
  * map-side EBF pruning with no query rewrite.
  *
  * For a qualifying equi-join it rewrites
  *
  *   Join(fact, build, type, factKey = buildKey)
  *     -> Join(Filter(ebf_might_contain(scalar-subquery(ebf_agg(buildKey)
  *             over build), factKey), fact), build, ...)
  *
  * the same shape Spark's own `InjectRuntimeFilter` emits with its
  * fixed-size bloom filter. The probe is a [[SketchFn]] of the
  * `ebf_might_contain` kind: the subquery's value is the same array
  * instance on every row of a task, so the expression's per-input slot
  * reads it once per task, from the executor's
  * [[graft.functions.SketchCache]]. The fact-side exchange then carries only
  * rows that MIGHT match; the EBF's no-false-negative guarantee makes
  * the result exactly the plain join's (a false positive reaches the
  * join and is dropped there as before).
  *
  * Fires only when ALL of:
  *  - `spark.graft.joinPrune.enabled` = true (default FALSE — opt-in);
  *  - join type Inner (either side prunable) or LeftSemi (left side);
  *  - an `EqualTo` conjunct with one side per input, both deterministic,
  *    key type non-floating atomic (float/double excluded: the probe
  *    compares canonical string renderings, and -0.0/0.0 or NaN
  *    normalization could disagree with join-key normalization —
  *    refuse rather than risk dropping a matching row, the same
  *    defensive posture as `JoinPrune.ebfPrunedJoin`'s type guard);
  *  - build side stats <= `spark.graft.joinPrune.maxBuildBytes`
  *    (default 256 MB: past it no filter, sharded or not, beat the
  *    plain join in BENCH/PLANS.md PLAN18), and fact side >= build *
  *    `spark.graft.joinPrune.minSizeRatio` (default 2.0) — pruning a
  *    side smaller than the filter build cannot pay for itself;
  *  - neither side is streaming, and the join was not already rewritten
  *    (tree-node tag; the rule runs in a fixed-point batch).
  */
object EbfJoinPruneRule extends Rule[LogicalPlan] with PredicateHelper {

  private val appliedTag = TreeNodeTag[Boolean]("graft.ebfJoinPrune.applied")

  /** Structural re-application guard backing up [[appliedTag]]: tags
    * live on tree-node INSTANCES, so any later rule that rebuilds the
    * Join via `copy()` silently drops them — in a fixed-point batch the
    * rule would then re-fire each iteration, stacking duplicate probe
    * filters (each with its own scalar-subquery EBF build). A side
    * already wearing a Filter whose condition probes an EBF against
    * this key (modulo the string cast the rewrite itself adds) is one
    * we pruned. */
  private def alreadyPruned(side: LogicalPlan, key: Expression): Boolean = {
    def sameKey(k: Expression): Boolean = k.semanticEquals(key) || (k match {
      case Cast(inner, StringType, _, _) => inner.semanticEquals(key)
      case _ => false
    })
    side.exists {
      case Filter(cond, _) => cond.exists {
        case p @ SketchFn(Seq(_, k), _) if SketchFn.isA[EbfMightContain](p) => sameKey(k)
        case _ => false
      }
      case _ => false
    }
  }

  /** Key types whose canonical string rendering agrees with equi-join
    * equality (see scaladoc: floats excluded on purpose). */
  private def prunableKeyType(t: DataType): Boolean = t match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         BooleanType | DateType | TimestampType | TimestampNTZType | BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.joinPrune.enabled", "false") != "true") return plan
    val maxBuild = BigInt(
      conf.getConfString("spark.graft.joinPrune.maxBuildBytes", (256L << 20).toString))
    val ratio = conf.getConfString("spark.graft.joinPrune.minSizeRatio", "2.0").toDouble

    plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _)
          if (jt == Inner || jt == LeftSemi) && j.getTagValue(appliedTag).isEmpty &&
            !left.isStreaming && !right.isStreaming =>
        // first equi-conjunct with one side per input; one key pair is
        // enough (the filter is conservative — extra conjuncts and keys
        // only make the join itself drop more)
        val equi = splitConjunctivePredicates(cond).collectFirst {
          case EqualTo(l, r)
              if l.references.nonEmpty && l.references.subsetOf(left.outputSet) &&
                r.references.subsetOf(right.outputSet) &&
                l.deterministic && r.deterministic && prunableKeyType(l.dataType) =>
            (l, r)
          case EqualTo(l, r)
              if r.references.nonEmpty && r.references.subsetOf(left.outputSet) &&
                l.references.subsetOf(right.outputSet) &&
                l.deterministic && r.deterministic && prunableKeyType(l.dataType) =>
            (r, l) // (leftSideKey, rightSideKey)
        }
        equi match {
          case None => j
          case Some((lk, rk)) =>
            val lBytes = left.stats.sizeInBytes
            val rBytes = right.stats.sizeInBytes
            def worth(factBytes: BigInt, buildBytes: BigInt): Boolean =
              buildBytes <= maxBuild && BigDecimal(factBytes) >= BigDecimal(buildBytes) * ratio
            val out =
              if (!alreadyPruned(left, lk) && worth(lBytes, rBytes))
                j.copy(left = prunedSide(left, lk, right, rk))
              else if (jt == Inner && !alreadyPruned(right, rk) && worth(rBytes, lBytes))
                j.copy(right = prunedSide(right, rk, left, lk))
              else j
            if (out ne j) out.setTagValue(appliedTag, true)
            out
        }
    }
  }

  private def asString(e: Expression): Expression =
    if (e.dataType == StringType) e
    else Cast(e, StringType, Some(conf.sessionLocalTimeZone))

  /** `Filter(ebf_might_contain(subquery(ebf_agg(buildKey)), factKey), fact)`.
    * The subquery aggregates the build side down to ONE sketch row
    * (partial aggregation map-side — no build row ever moves
    * unaggregated), evaluated once per query like any scalar subquery,
    * then the probe is a map-only, codegen'd fact-side filter. Its
    * `ebf_agg` is `SketchAgg(Seq(key), EbfKind())`, the SQL function at
    * its default parameters. The elastic filter is what makes one
    * un-sized code path safe here: Spark's runtime bloom filter must
    * guess NDV from (often stale) stats at plan time; this filter
    * EXPANDS to the observed keys at a bounded FPR, so a 10^3-key and a
    * 10^8-key build side get the same plan. */
  private def prunedSide(fact: LogicalPlan, factKey: Expression,
                         build: LogicalPlan, buildKey: Expression): LogicalPlan = {
    // manual column pruning: this rule runs in the last (user) batch,
    // AFTER the pruning rules — without the Project the subquery would
    // re-scan every build column
    val buildProj = Project(buildKey.references.toSeq, build)
    val agg = Alias(AggregateExpression(SketchAgg(Seq(asString(buildKey)), EbfKind()), Complete,
      isDistinct = false), "graft_prune_ebf")()
    val subq = ScalarSubquery(Aggregate(Nil, Seq(agg), buildProj))
    Filter(SketchFn(Seq(subq, asString(factKey)), EbfMightContain()), fact)
  }
}
