package graft.plans

import graft.core.{Ebf, ShardedEbf}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, EqualTo, Expression, PredicateHelper, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types._

/** Collapses a `(shard, sk)` shard table into ONE ShardedEbf wire blob
  * (`ShardedEbf.toWire`, also the partial buffer's wire) — the final,
  * cheap step of the rule's BEYOND-broadcast-window rewrite: the heavy
  * per-shard merges happen in the grouped `ebf_agg` BELOW this
  * aggregate (numShards parallel reducers — the single-reducer merge
  * tail is exactly why the monolithic form stops at `maxBuildBytes`),
  * and this one-row aggregate only concatenates numShards finished
  * sketch blobs. A null shard or sketch skips the row; duplicate shard
  * rows (impossible from the grouped child, kept safe anyway) merge
  * EBF-wise. */
case class EbfShardedWireKind(numShards: Int)
    extends SketchKind[Array[Array[Byte]]](EbfShardedWireKind.wire) {
  def name: String = "ebf_sharded_wire_agg"
  def inputTypes: Seq[DataType] = Seq(IntegerType, BinaryType)
  override def nullable: Boolean = false

  def empty(): Array[Array[Byte]] = new Array[Array[Byte]](numShards)
  def update(s: Array[Array[Byte]], row: InternalRow, in: Array[Expression]): Array[Array[Byte]] = {
    val shard = in(0).eval(row)
    val sk = in(1).eval(row)
    if (shard != null && sk != null) {
      val i = shard.asInstanceOf[Int]
      require(i >= 0 && i < numShards, s"shard id $i out of [0, $numShards)")
      s(i) = EbfShardedWireKind.mergeBytes(s(i), sk.asInstanceOf[Array[Byte]])
    }
    s
  }
}

object EbfShardedWireKind {
  private def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a == null) b else if (b == null) a else Ebf.fromBytes(a).merge(Ebf.fromBytes(b)).toBytes

  val wire: Wire[Array[Array[Byte]]] = Wire(
    ShardedEbf.fromWire(_).shardBytes,
    new ShardedEbf(_, ShardedEbf.DefaultRouteSeed).toWire,
    (a, b) => { var i = 0; while (i < a.length) { a(i) = mergeBytes(a(i), b(i)); i += 1 }; a })
}

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
  * instance on every row of a task, so [[graft.functions.SketchCache]]'s
  * reference fast path decodes it once per task. The fact-side exchange then carries only
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
  *    (default 256 MB) for the monolithic filter, or <=
  *    `spark.graft.joinPrune.maxShardedBuildBytes` (default 512 MB —
  *    sized by the scalar-subquery channel's per-task blob
  *    duplication, see the arithmetic in apply()) for the SHARDED form
  *    (`spark.graft.joinPrune.shardedShards`-way parallel per-shard
  *    builds under a one-row wire concat — see [[EbfShardedWireKind]]);
  *    and fact side >= build *
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
        case p @ SketchFn(Seq(_, k), _)
            if SketchFn.isA[EbfMightContain](p) || SketchFn.isA[EbfShardedMightContain](p) =>
          sameKey(k)
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
    // The sharded window: builds in (maxBuildBytes, maxShardedBuildBytes]
    // rewrite to a SHARDED filter — numShards parallel per-shard
    // builds+merges below a trivial one-row concat (the monolithic
    // form's limit is its single-reducer merge tail and its one
    // full-size in-memory filter). The blob rides the scalar-subquery
    // channel like Spark's own runtime-filter blooms — and that channel
    // has a HARD, measured heap arithmetic: the probe stage's task
    // binary is broadcast once, but EVERY TASK deserializes its own
    // copy of the plan (and so of the blob), so transient probe-side
    // heap is concurrentTasksPerExecutor x blobBytes. The default-
    // parameter EBF spends ~16 wire bytes per distinct key (8n buckets
    // x 16-bit fingerprints), i.e. blob ~ 2x the PRUNED bigint-key
    // stats this guard sees — at 32 local cores a 40M-key build
    // (320 MB stats, 640 MB blob) needs >20 GB transient and OOM'd a
    // 24 GB heap (BENCH/PLANS.md PLAN18). Hence the
    // conservative 512 MB default; raise it only with
    // heap/cores-per-executor headroom, and use the explicit
    // ShardedProbe broadcast/cogroup paths beyond that.
    val maxSharded = BigInt(
      conf.getConfString("spark.graft.joinPrune.maxShardedBuildBytes", (512L << 20).toString))
    val numShards =
      conf.getConfString("spark.graft.joinPrune.shardedShards", "64").toInt
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
            // None = not worth it; Some(false) = monolithic window;
            // Some(true) = sharded window
            def mode(factBytes: BigInt, buildBytes: BigInt): Option[Boolean] =
              if (BigDecimal(factBytes) < BigDecimal(buildBytes) * ratio) None
              else if (buildBytes <= maxBuild) Some(false)
              else if (buildBytes <= maxSharded) Some(true)
              else None
            val leftMode =
              if ((jt == Inner || jt == LeftSemi) && !alreadyPruned(left, lk))
                mode(lBytes, rBytes)
              else None
            leftMode match {
              case Some(sharded) =>
                val out = j.copy(left = prunedSide(left, lk, right, rk, sharded, numShards))
                out.setTagValue(appliedTag, true)
                out
              case None =>
                val rightMode =
                  if (jt == Inner && !alreadyPruned(right, rk)) mode(rBytes, lBytes)
                  else None
                rightMode match {
                  case Some(sharded) =>
                    val out = j.copy(right = prunedSide(right, rk, left, lk, sharded, numShards))
                    out.setTagValue(appliedTag, true)
                    out
                  case None => j
                }
            }
        }
    }
  }

  private def asString(e: Expression): Expression =
    if (e.dataType == StringType) e
    else Cast(e, StringType, Some(conf.sessionLocalTimeZone))

  /** Monolithic window:
    * `Filter(ebf_might_contain(subquery(ebf_agg(buildKey)), factKey), fact)`.
    * The subquery aggregates the build side down to ONE sketch row
    * (partial aggregation map-side — no build row ever moves
    * unaggregated), evaluated once per query like any scalar subquery,
    * then the probe is a map-only, codegen'd fact-side filter. Its
    * `ebf_agg` is `SketchAgg(Seq(key), EbfKind())`, the SQL function at
    * its default parameters. The elastic filter is what makes one
    * un-sized code path safe here: Spark's runtime bloom filter must
    * guess NDV from (often stale) stats at plan time; this filter
    * EXPANDS to the observed keys at a bounded FPR, so a 10^3-key and a
    * 10^8-key build side get the same plan.
    *
    * Sharded window (`sharded = true`): the subquery becomes
    *
    *   Aggregate(Nil, ebf_sharded_wire_agg(shard, sk),
    *     Aggregate(shard = graft_shard(buildKey, n),
    *       [shard, ebf_agg(buildKey) as sk], buildProj))
    *
    * — numShards PARALLEL per-shard builds+merges (the grouped inner
    * aggregate), then a one-row concat into a ShardedEbf wire blob that
    * the [[EbfShardedMightContain]] filter routes each fact row into. The
    * per-shard merge tail shrinks by numShards, which is what lets the
    * rule reach build sides past the monolithic window. */
  private def prunedSide(fact: LogicalPlan, factKey: Expression,
                         build: LogicalPlan, buildKey: Expression,
                         sharded: Boolean, numShards: Int): LogicalPlan = {
    // manual column pruning: this rule runs in the last (user) batch,
    // AFTER the pruning rules — without the Project the subquery would
    // re-scan every build column
    val buildProj = Project(buildKey.references.toSeq, build)
    val ebfAgg = AggregateExpression(SketchAgg(Seq(asString(buildKey)), EbfKind()), Complete,
      isDistinct = false)
    if (!sharded) {
      val agg = Alias(ebfAgg, "graft_prune_ebf")()
      val subq = ScalarSubquery(Aggregate(Nil, Seq(agg), buildProj))
      Filter(SketchFn(Seq(subq, asString(factKey)), EbfMightContain()), fact)
    } else {
      val shardExpr = SketchFn(Seq(asString(buildKey)), GraftShard(numShards))
      val shardAlias = Alias(shardExpr, "graft_prune_shard")()
      val skAlias = Alias(ebfAgg, "graft_prune_sk")()
      val perShard = Aggregate(Seq(shardExpr), Seq(shardAlias, skAlias), buildProj)
      val blob = Alias(
        AggregateExpression(
          SketchAgg(Seq(shardAlias.toAttribute, skAlias.toAttribute), EbfShardedWireKind(numShards)),
          Complete, isDistinct = false),
        "graft_prune_sharded_ebf")()
      val subq = ScalarSubquery(Aggregate(Nil, Seq(blob), perShard))
      Filter(SketchFn(Seq(subq, asString(factKey)), EbfShardedMightContain()), fact)
    }
  }
}
