package graft

import graft.functions.Graft
import graft.plans.{EbfKind, EbfMightContain, SketchAgg, SketchFn}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** O36 — the auto-injected EBF join-prune optimizer rule: fires only
  * when opted in and safe, rewrites to the probe-filtered shape, and
  * never changes results (no-false-negative pruning). */
class EbfJoinPruneRuleSpec extends AnyFunSuite with BeforeAndAfterEach {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  override def afterEach(): Unit = {
    spark.conf.unset("spark.graft.joinPrune.enabled")
    spark.conf.unset("spark.graft.joinPrune.maxBuildBytes")
    spark.conf.unset("spark.graft.joinPrune.minSizeRatio")
  }

  private def enable(): Unit =
    spark.conf.set("spark.graft.joinPrune.enabled", "true")

  // spark.range sources: a local Seq becomes a LocalRelation and folds
  // away, which would sidestep the plan shapes under test
  private def fact: DataFrame =
    spark.range(100000).select(col("id"), pmod(col("id"), lit(1000)).as("fk"))
  private def build: DataFrame =
    spark.range(50).select((col("id") * 3).as("bk"), col("id").as("payload"))

  private def probeFilters(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreach(p => p.expressions.foreach(_.foreach { e =>
      if (SketchFn.isA[EbfMightContain](e)) n += 1
    }))
    n
  }

  test("fires on a qualifying inner join and preserves the exact result") {
    val plain = fact.join(build, col("fk") === col("bk")).orderBy("id", "bk")
    val expected = plain.collect()
    enable()
    val pruned = fact.join(build, col("fk") === col("bk")).orderBy("id", "bk")
    assert(probeFilters(pruned.queryExecution.optimizedPlan) === 1,
      s"rule did not fire:\n${pruned.queryExecution.optimizedPlan}")
    assert(pruned.collect() === expected)
  }

  test("fires for left_semi, pruning the left side") {
    enable()
    val semi = fact.join(build, col("fk") === col("bk"), "left_semi")
    assert(probeFilters(semi.queryExecution.optimizedPlan) === 1)
    spark.conf.unset("spark.graft.joinPrune.enabled")
    val plain = fact.join(build, col("fk") === col("bk"), "left_semi")
    assert(semi.count() === plain.count())
  }

  test("no-op when disabled (default)") {
    val j = fact.join(build, col("fk") === col("bk"))
    assert(probeFilters(j.queryExecution.optimizedPlan) === 0)
  }

  test("no-op for fact-preserving outer joins") {
    enable()
    val j = fact.join(build, col("fk") === col("bk"), "left_outer")
    assert(probeFilters(j.queryExecution.optimizedPlan) === 0)
  }

  test("no-op when the build side is too large or the ratio unmet") {
    // the rule must leave the join exactly as the rule-off plan has it:
    // no probe of any kind, no sketch build, no scalar subquery
    val off = fact.join(build, col("fk") === col("bk")).queryExecution.optimizedPlan
    def untouched(plan: LogicalPlan): Unit = {
      assert(plan.canonicalized === off.canonicalized, s"rule changed the plan:\n$plan")
      assert(!plan.exists(_.expressions.exists(_.exists {
        case _: SketchFn | _: ScalarSubquery => true
        case _ => false
      })), s"plan carries a sketch or a subquery:\n$plan")
    }
    enable()
    spark.conf.set("spark.graft.joinPrune.maxBuildBytes", "16")
    untouched(fact.join(build, col("fk") === col("bk")).queryExecution.optimizedPlan)
    spark.conf.unset("spark.graft.joinPrune.maxBuildBytes")
    spark.conf.set("spark.graft.joinPrune.minSizeRatio", "1e12")
    untouched(fact.join(build, col("fk") === col("bk")).queryExecution.optimizedPlan)
  }

  test("no-op for floating-point join keys (string-render hazard)") {
    enable()
    val f = spark.range(100000).select(col("id"), (col("id") % 100).cast("double").as("fk"))
    val b = spark.range(50).select(col("id").cast("double").as("bk"))
    val j = f.join(b, col("fk") === col("bk"))
    assert(probeFilters(j.queryExecution.optimizedPlan) === 0)
    // still correct even though unpruned
    assert(j.count() === 50000L)
  }

  test("non-equi conjuncts ride along; pruning still fires on the equi pair") {
    enable()
    val j = fact.join(build, col("fk") === col("bk") && col("id") > col("payload"))
    assert(probeFilters(j.queryExecution.optimizedPlan) === 1)
    spark.conf.unset("spark.graft.joinPrune.enabled")
    val plain = fact.join(build, col("fk") === col("bk") && col("id") > col("payload"))
    enable()
    assert(j.count() === plain.count())
  }

  test("ShardedEbf wire round-trips and probes identically") {
    val keys = (0 until 5000).map(i => s"key-$i")
    val shards = 8
    val byShard = keys.groupBy(k => java.lang.Math.floorMod(graft.core.Hash128.hashBytes(
      k.getBytes("UTF-8"), graft.core.ShardedEbf.DefaultRouteSeed).h1, shards.toLong).toInt)
    val rows = byShard.toSeq.map { case (s, ks) =>
      val e = graft.core.Ebf.empty(seed = Graft.SketchSeed)
      ks.foreach(k => e.insert(k.getBytes("UTF-8")))
      (s, e.toBytes)
    }
    val sharded = graft.core.ShardedEbf.fromShardBytes(rows, shards)
    // each shard's wire bytes decode to the filter that wrote them
    rows.foreach { case (s, bytes) =>
      assert(java.util.Arrays.equals(sharded.shard(s).toBytes, bytes), s"shard $s")
    }
    assert(keys.forall(sharded.mightContain), "String probe lost members")
    assert(keys.forall(k => sharded.mightContain(k.getBytes("UTF-8"))), "byte probe lost members")
    assert(sharded.numShards === shards)
  }

  test("structural guard: tag loss via copy() does not stack duplicate probes") {
    // TreeNodeTags live on node INSTANCES: a later rule rebuilding the
    // Join via copy() drops the applied-tag, and in a fixed-point batch
    // the rule would re-fire forever without the structural guard
    // (a Filter carrying an EBF probe on the same key).
    enable()
    val j = fact.join(build, col("fk") === col("bk"))
    val once = graft.plans.EbfJoinPruneRule(j.queryExecution.optimizedPlan)
    assert(probeFilters(once) === 1)
    // strip ALL tags (what a copy()-rebuilding rule effectively does),
    // then re-apply: the structural guard must hold the line
    val stripped = once.transformUp { case p => p.makeCopy(p.productIterator
      .map(_.asInstanceOf[AnyRef]).toArray) }
    val twice = graft.plans.EbfJoinPruneRule(stripped)
    assert(probeFilters(twice) === 1,
      s"rule re-fired after tag loss:\n$twice")
  }

  test("the rule's SketchAgg(k, EbfKind()) build is byte-identical to ebf_agg") {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val keys = spark.range(2000).select(concat(lit("k"), col("id")).as("k"))
    val nativeCol = ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression(
        SketchAgg(Seq(ColumnBridge.expression(col("k"))), EbfKind()),
        org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false))
    val a = keys.agg(nativeCol.as("sk")).head.getAs[Array[Byte]](0)
    val b = keys.agg(expr("ebf_agg(k)").as("sk")).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(a, b))
  }
}
