package graft

import graft.functions.Graft
import graft.plans.{EbfKind, EbfMightContain, EbfShardedMightContain, SketchAgg, SketchFn}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
    spark.conf.unset("spark.graft.joinPrune.maxShardedBuildBytes")
    spark.conf.unset("spark.graft.joinPrune.shardedShards")
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
    enable()
    spark.conf.set("spark.graft.joinPrune.maxBuildBytes", "16")
    val j = fact.join(build, col("fk") === col("bk"))
    assert(probeFilters(j.queryExecution.optimizedPlan) === 0)
    spark.conf.unset("spark.graft.joinPrune.maxBuildBytes")
    spark.conf.set("spark.graft.joinPrune.minSizeRatio", "1e12")
    val j2 = fact.join(build, col("fk") === col("bk"))
    assert(probeFilters(j2.queryExecution.optimizedPlan) === 0)
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

  private def shardedProbeFilters(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreach(p => p.expressions.foreach(_.foreach { e =>
      if (SketchFn.isA[EbfShardedMightContain](e)) n += 1
    }))
    n
  }

  test("sharded window: fires past maxBuildBytes with the blob probe, exact result") {
    val plain = fact.join(build, col("fk") === col("bk")).orderBy("id", "bk")
    val expected = plain.collect()
    enable()
    // push the monolithic window below this build side so only the
    // sharded window can admit it
    spark.conf.set("spark.graft.joinPrune.maxBuildBytes", "1")
    spark.conf.set("spark.graft.joinPrune.shardedShards", "8")
    val pruned = fact.join(build, col("fk") === col("bk")).orderBy("id", "bk")
    val opt = pruned.queryExecution.optimizedPlan
    assert(probeFilters(opt) === 0, s"monolithic probe fired out of window:\n$opt")
    assert(shardedProbeFilters(opt) === 1, s"sharded probe did not fire:\n$opt")
    assert(pruned.collect() === expected)
  }

  test("sharded window: no-op past maxShardedBuildBytes") {
    enable()
    spark.conf.set("spark.graft.joinPrune.maxBuildBytes", "1")
    spark.conf.set("spark.graft.joinPrune.maxShardedBuildBytes", "2")
    val j = fact.join(build, col("fk") === col("bk"))
    val opt = j.queryExecution.optimizedPlan
    assert(probeFilters(opt) === 0 && shardedProbeFilters(opt) === 0,
      s"rule fired beyond every window:\n$opt")
  }

  test("sharded blob probe has no false negatives and routes like graft_shard") {
    enable()
    spark.conf.set("spark.graft.joinPrune.maxBuildBytes", "1")
    spark.conf.set("spark.graft.joinPrune.shardedShards", "8")
    // left_semi: surviving keys == exactly the distinct fk values with a
    // matching bk (false positives are dropped by the join itself)
    val semi = fact.join(build, col("fk") === col("bk"), "left_semi")
    assert(shardedProbeFilters(semi.queryExecution.optimizedPlan) === 1)
    spark.conf.unset("spark.graft.joinPrune.enabled")
    val plainSemi = fact.join(build, col("fk") === col("bk"), "left_semi")
    assert(semi.count() === plainSemi.count())
  }

  test("ShardedEbf wire round-trips and probes identically") {
    val keys = (0 until 5000).map(i => s"key-$i")
    val shards = 8
    val byShard = keys.groupBy(k => graft.core.Hash128.hashBytes(
      k.getBytes("UTF-8"), graft.core.ShardedEbf.DefaultRouteSeed).h1 match {
      case h => { val m = (h % shards).toInt; if (m < 0) m + shards else m }
    })
    val rows = byShard.toSeq.map { case (s, ks) =>
      val e = graft.core.Ebf.empty(seed = Graft.SketchSeed)
      ks.foreach(k => e.insert(k.getBytes("UTF-8")))
      (s, e.toBytes)
    }
    val orig = graft.core.ShardedEbf.fromShardBytes(rows, shards)
    val rt = graft.core.ShardedEbf.fromWire(orig.toWire)
    assert(java.util.Arrays.equals(orig.toWire, rt.toWire))
    assert(keys.forall(rt.mightContain), "wire round-trip lost members")
    assert(rt.numShards === shards)
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
