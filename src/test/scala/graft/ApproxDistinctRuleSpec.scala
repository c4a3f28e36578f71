package graft

import graft.functions.Graft
import graft.plans.{HllEstimateKind, KllQuantileKind, SketchAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** O64 — the opt-in COUNT(DISTINCT) -> HLL rewrite: fires only when
  * enabled and safe, the estimate equals the library's own
  * hll_estimate(hll_agg(key)) (same hash, p, seed), and every guarded
  * shape is left exactly alone. */
class ApproxDistinctRuleSpec extends AnyFunSuite with BeforeAndAfterEach {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  override def afterEach(): Unit = {
    spark.conf.unset("spark.graft.approxDistinct.enabled")
  }

  private def enable(): Unit =
    spark.conf.set("spark.graft.approxDistinct.enabled", "true")

  // spark.range source: a local Seq folds to a LocalRelation and would
  // sidestep the plan shapes under test
  private def t: DataFrame =
    spark.range(20000).select(
      pmod(col("id"), lit(7)).as("g"),
      pmod(col("id"), lit(3000)).as("k"),
      (col("id") % 2 === 0).as("even"),
      col("id").cast("double").as("f"))

  private def hllAggs(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreach(p => p.expressions.foreach(_.foreach {
      case e if SketchAgg.isA[HllEstimateKind.type](e) => n += 1
      case _ =>
    }))
    n
  }

  test("disabled by default: plan untouched, result exact") {
    val q = t.groupBy("g").agg(countDistinct(col("k")).as("ndv"))
    assert(hllAggs(q.queryExecution.optimizedPlan) === 0)
    val exact = t.select("g", "k").distinct().groupBy("g").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.collect().foreach(r => assert(r.getLong(1) === exact(r.getLong(0))))
  }

  test("fires when enabled; estimate equals hll_estimate(hll_agg(key))") {
    enable()
    val q = t.groupBy("g").agg(countDistinct(col("k")).as("ndv"))
    assert(hllAggs(q.queryExecution.optimizedPlan) === 1,
      s"rule did not fire:\n${q.queryExecution.optimizedPlan}")
    val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = t.groupBy("g")
      .agg(expr("hll_estimate(hll_agg(cast(k as string)))").as("ndv"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref, "rewrite must match the library HLL exactly")
    // and the estimate is a real estimate: within 3 sigma of exact
    val exact = t.groupBy("g").agg(countDistinct(col("k")).as("ndv"))
    spark.conf.unset("spark.graft.approxDistinct.enabled")
    val ex = exact.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sigma = 1.04 / math.sqrt(1 << graft.core.Hll.DefaultP)
    got.foreach { case (g, est) =>
      assert(math.abs(est - ex(g)) <= 3 * sigma * ex(g) + 1, s"group $g: $est vs ${ex(g)}")
    }
  }

  test("sql COUNT(DISTINCT) rewrites; FILTER-distinct is expanded first and stays exact") {
    enable()
    t.createOrReplaceTempView("approx_t")
    val q = spark.sql("SELECT count(DISTINCT k) AS ndv FROM approx_t")
    assert(hllAggs(q.queryExecution.optimizedPlan) === 1)
    val ref = spark.sql(
      "SELECT hll_estimate(hll_agg(cast(k as string))) AS ndv FROM approx_t")
      .head.getLong(0)
    assert(q.head.getLong(0) === ref)
    // FILTER (WHERE ...) on a distinct count triggers Spark's own
    // RewriteDistinctAggregates expansion BEFORE the user-rule batch,
    // so the rule never sees it — pinned: the result stays EXACT
    val qf = spark.sql(
      "SELECT count(DISTINCT k) FILTER (WHERE even) AS ndv FROM approx_t")
    assert(hllAggs(qf.queryExecution.optimizedPlan) === 0,
      "FILTER-distinct should be left to the exact expanded path")
    val exact = t.filter(col("even")).select("k").distinct().count()
    assert(qf.head.getLong(0) === exact)
  }

  test("guards: float key, multi-column distinct, plain count left alone") {
    enable()
    val qf = t.agg(countDistinct(col("f")))
    assert(hllAggs(qf.queryExecution.optimizedPlan) === 0, "float key must not rewrite")
    val qm = t.agg(countDistinct(col("g"), col("k")))
    assert(hllAggs(qm.queryExecution.optimizedPlan) === 0, "multi-column must not rewrite")
    val qp = t.agg(count(col("k")))
    assert(hllAggs(qp.queryExecution.optimizedPlan) === 0, "plain count must not rewrite")
    assert(qp.head.getLong(0) === 20000L)
  }

  test("mixed aggregate: only the distinct count is swapped") {
    enable()
    val q = t.groupBy("g").agg(
      countDistinct(col("k")).as("ndv"),
      count(lit(1)).as("n"),
      sum("k").as("s"))
    assert(hllAggs(q.queryExecution.optimizedPlan) === 1)
    val exactN = t.groupBy("g").agg(count(lit(1)).as("n"), sum("k").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    q.collect().foreach { r =>
      val (n, s) = exactN(r.getLong(0))
      assert(r.getLong(2) == n && r.getLong(3) == s,
        "non-distinct aggregates must stay exact")
    }
  }

  test("composes with the EBF join-prune rule in one query") {
    enable()
    spark.conf.set("spark.graft.joinPrune.enabled", "true")
    try {
      val fact = spark.range(100000).select(col("id"), pmod(col("id"), lit(1000)).as("fk"))
      val build = spark.range(50).select((col("id") * 3).as("bk"))
      // join gets EBF-pruned, the distinct count gets HLL-swapped —
      // two independent rewrites on one plan
      val q = fact.join(build, col("fk") === col("bk"))
        .agg(countDistinct(col("fk")).as("ndv"))
      val plan = q.queryExecution.optimizedPlan
      assert(hllAggs(plan) === 1, s"approx rewrite missing:\n$plan")
      var probes = 0
      plan.foreach(p => p.expressions.foreach(_.foreach {
        case _: graft.plans.EbfProbeExpr => probes += 1
        case _ =>
      }))
      assert(probes === 1, s"join prune missing:\n$plan")
      // exact distinct fk values surviving the join: bk = 0,3,...,147
      // intersect fk domain [0,1000) = 50 values; HLL is exact at n=50
      assert(q.head.getLong(0) === 50L)
    } finally spark.conf.unset("spark.graft.joinPrune.enabled")
  }

  test("fires inside cube/rollup aggregates (the grouping-set stats shape)") {
    enable()
    spark.conf.set("spark.graft.approxPercentile.enabled", "true")
    try {
      val q = t.cube(col("g"), col("even")).agg(
        countDistinct(col("k")).as("ndv"),
        expr("percentile(f, 0.5D)").as("p50"))
      val plan = q.queryExecution.optimizedPlan
      assert(hllAggs(plan) === 1, s"distinct rewrite must fire under cube:\n$plan")
      var klls = 0
      plan.foreach(p => p.expressions.foreach(_.foreach {
        case e if SketchAgg.isA[KllQuantileKind](e) => klls += 1
        case _ =>
      }))
      assert(klls === 1, s"percentile rewrite must fire under cube:\n$plan")
      // 7x3 grouping-set rows: (g x even) 14 + g 7 + even 2 + total 1
      assert(q.count() === 24)
    } finally spark.conf.unset("spark.graft.approxPercentile.enabled")
  }

  test("streaming aggregate is not rewritten") {
    enable()
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
    val q = stream.agg(countDistinct(col("value")))
    assert(q.isStreaming)
    // a streaming plan can't be driven through batch optimizedPlan;
    // apply the rule directly to the analyzed plan (conf is enabled
    // on this session's thread-local SQLConf)
    val out = graft.plans.ApproxDistinctRewriteRule(q.queryExecution.analyzed)
    assert(hllAggs(out) === 0)
  }
}
