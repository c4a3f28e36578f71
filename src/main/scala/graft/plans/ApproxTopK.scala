package graft.plans

import graft.core.FreqSketch
import graft.functions.Graft
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Inline, IntegerLiteral, Literal, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, Generate}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.Descending
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The build side of [[ApproxTopKRewriteRule]]: `topk_agg`'s
  * Misra-Gries sketch over the string key (seeded with the library
  * seed), its retained (key, count) entries as `array<struct<key,cnt>>`
  * in the library's canonical heavy-hitter order (count desc, key asc),
  * which the rule `Inline`s back into rows under the query's own
  * Sort/Limit. */
case class MgPairsKind(capacity: Int)
    extends ResultKind[FreqSketch](TopKKind(capacity, Graft.SketchSeed)) {
  def name: String = "mg_topk_pairs_agg"
  override def dataType: DataType = ApproxTopKRewriteRule.PairsType
  override def nullable: Boolean = false
  override def result(s: FreqSketch): Any =
    new GenericArrayData(s.topK(capacity).map { case (k, c) =>
      InternalRow(UTF8String.fromString(k), c)
    }.toArray[Any])
}

/** O80 — opt-in top-k-by-count -> Misra-Gries rewrite, the fourth
  * approximate-planner lever (O64 COUNT(DISTINCT)->HLL, O71
  * percentile->KLL, O76 mode->MG).
  *
  * The shape it retires is the single most common webtext query there
  * is — "the k most frequent tokens/hosts/urls":
  *
  *   SELECT key, count(*) AS cnt FROM t GROUP BY key
  *   ORDER BY cnt DESC [, key] LIMIT k
  *
  * Exactly evaluated, the aggregation's exchange carries one (key,
  * count) pair PER DISTINCT KEY — at corpus scale the full vocabulary
  * flows through the shuffle to produce k rows. Rewritten, each task
  * folds its rows into one fixed-`capacity` Misra-Gries buffer and the
  * exchange carries ONE buffer per task: O(capacity x tasks) bytes,
  * independent of vocabulary size. The query's own Sort/Limit are KEPT
  * on top (now sorting <= capacity rows), so result ordering and any
  * secondary tie-break columns behave identically.
  *
  * Result semantics: exact — counts and membership both — whenever the
  * true distinct-key count fits `capacity` (no MG decrement fires);
  * beyond that, counts undercount by at most n/capacity and the top-k
  * SET is guaranteed only for keys whose frequency clears that bound
  * (the classic heavy-hitter contract). NULL keys are excluded from
  * the approximate result where exact GROUP BY counts the null group
  * as a row — the library-wide aggregator convention and the standard
  * frequent-items posture (DataSketches frequent-items and
  * approx-top-k implementations ignore nulls); spec-pinned.
  * Result-changing, hence opt-in per query:
  * `spark.graft.approxTopK.enabled`, optional `.capacity`.
  *
  * Guards: fires only on GlobalLimit/LocalLimit(k) over a global Sort
  * whose PRIMARY order is the count column DESCENDING, over a
  * non-streaming Aggregate with exactly one deterministic non-foldable
  * STRING grouping expression and exactly two outputs — the key and an
  * unfiltered, non-distinct `count(*)`/`count(lit)` alias — with
  * k <= capacity (the retained set must cover the limit) and every
  * sort column drawn from those two outputs. Idempotent: the rewritten
  * subtree (grouping-less Aggregate under Generate) never re-matches.
  */
object ApproxTopKRewriteRule extends Rule[LogicalPlan] {

  val PairsType: ArrayType = ArrayType(StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  /** The aggregate output named expressions, when the plan matches:
    * (key output, count alias). */
  private def matchAgg(agg: Aggregate): Option[(NamedExpression, Alias)] = {
    if (agg.groupingExpressions.size != 1) return None
    val g = agg.groupingExpressions.head
    if (g.dataType != StringType || !g.deterministic || g.foldable) return None
    if (agg.aggregateExpressions.size != 2) return None
    val (keyOuts, rest) = agg.aggregateExpressions.partition {
      case a: Attribute => a.semanticEquals(g)
      case Alias(c, _) => c.semanticEquals(g)
      case _ => false
    }
    (keyOuts, rest) match {
      case (Seq(keyOut), Seq(cntOut: Alias)) =>
        cntOut.child match {
          case AggregateExpression(Count(cs), Complete, false, None, _)
              if cs.forall(c => c.foldable && c.isInstanceOf[Literal]
                && c.asInstanceOf[Literal].value != null) =>
            Some((keyOut, cntOut))
          case _ => None
        }
      case _ => None
    }
  }

  private def sortMatches(order: Seq[SortOrder], keyOut: NamedExpression,
                          cntOut: Alias): Boolean = {
    val primaryIsCntDesc = order.headOption.exists(so => so.child match {
      case a: Attribute => a.exprId == cntOut.exprId && so.direction == Descending
      case _ => false
    })
    val allKnown = order.forall(_.child match {
      case a: Attribute => a.exprId == cntOut.exprId || a.exprId == keyOut.exprId
      case _ => false
    })
    primaryIsCntDesc && allKnown
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.approxTopK.enabled", "false") != "true") return plan
    val capacity = conf.getConfString("spark.graft.approxTopK.capacity",
      FreqSketch.DefaultCapacity.toString).toInt
    plan.transformUp {
      case gl @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(IntegerLiteral(k2),
          s @ Sort(order, true, agg: Aggregate, _)))
          if k == k2 && k <= capacity && !agg.child.isStreaming =>
        matchAgg(agg).filter { case (keyOut, cntOut) =>
          sortMatches(order, keyOut, cntOut)
        }.map { case (keyOut, cntOut) =>
          val pairs = Alias(AggregateExpression(
            SketchAgg(Seq(agg.groupingExpressions.head), MgPairsKind(capacity)),
            Complete, isDistinct = false), "__mg_topk_pairs")()
          val global = Aggregate(Nil, Seq(pairs), agg.child)
          val keyGen = AttributeReference("key", StringType, nullable = false)()
          val cntGen = AttributeReference("cnt", LongType, nullable = false)()
          val gen = Generate(Inline(pairs.toAttribute),
            unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
            generatorOutput = Seq(keyGen, cntGen), global)
          // re-establish the ORIGINAL output exprIds so the kept
          // Sort/Limit (and anything above) resolve unchanged
          val proj = Project(Seq(
            Alias(keyGen, keyOut.name)(exprId = keyOut.exprId),
            Alias(cntGen, cntOut.name)(exprId = cntOut.exprId)), gen)
          gl.copy(child = ll.copy(child = s.copy(child = proj)))
        }.getOrElse(gl)
    }
  }
}
