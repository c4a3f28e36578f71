package graft

import graft.core.Kll
import graft.functions.Graft
import graft.plans.{HllEstimateKind, KllQuantileKind, SketchAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** O71 — the opt-in exact percentile/median -> KLL rewrite: fires only
  * when enabled and safe (scalar and array percentage forms, median's
  * runtime replacement), estimates sit within the published rank
  * error, and every guarded shape is left exactly alone. */
class ApproxPercentileRuleSpec extends AnyFunSuite with BeforeAndAfterEach {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  override def afterEach(): Unit = {
    spark.conf.unset("spark.graft.approxPercentile.enabled")
  }

  private def enable(): Unit =
    spark.conf.set("spark.graft.approxPercentile.enabled", "true")

  // spark.range source: a local Seq folds to a LocalRelation and would
  // sidestep the plan shapes under test. Values 0..19999 so the exact
  // quantiles and ranks are known in closed form.
  private def t: DataFrame =
    spark.range(20000).select(
      pmod(col("id"), lit(4)).as("g"),
      col("id").cast("double").as("v"),
      col("id").as("l"))

  private def kllAggs(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreach(p => p.expressions.foreach(_.foreach {
      case e if SketchAgg.isA[KllQuantileKind](e) => n += 1
      case _ =>
    }))
    n
  }

  private val eps = Kll.empty().normalizedRankError * 2.0

  test("disabled by default: plan untouched, result is the exact interpolated percentile") {
    val q = t.agg(expr("percentile(v, 0.5D)").as("p"))
    assert(kllAggs(q.queryExecution.optimizedPlan) === 0)
    assert(q.head.getDouble(0) === 9999.5) // (9999+10000)/2, linear interpolation
  }

  test("fires when enabled; estimate within the published rank error") {
    enable()
    val q = t.groupBy("g").agg(expr("percentile(v, 0.5D)").as("p"))
    assert(kllAggs(q.queryExecution.optimizedPlan) === 1,
      s"rule did not fire:\n${q.queryExecution.optimizedPlan}")
    // per group of 5000 uniformly-spaced values, rank error eps maps to
    // a value error of eps * 20000 (group values stride by 4)
    q.collect().foreach { r =>
      val est = r.getDouble(1)
      assert(math.abs(est - 10000.0) <= eps * 20000 + 4,
        s"group ${r.getLong(0)}: median est $est")
    }
  }

  test("array percentage form keeps the array result type and order") {
    enable()
    val q = t.agg(expr("percentile(v, array(0.1D, 0.5D, 0.9D))").as("ps"))
    assert(kllAggs(q.queryExecution.optimizedPlan) === 1)
    val ps = q.head.getSeq[Double](0)
    assert(ps.length === 3)
    val targets = Seq(2000.0, 10000.0, 18000.0)
    ps.zip(targets).foreach { case (est, target) =>
      assert(math.abs(est - target) <= eps * 20000 + 1, s"$est vs $target")
    }
    assert(ps(0) <= ps(1) && ps(1) <= ps(2), "quantiles must be monotone")
  }

  test("median() is runtime-replaced to Percentile before the rule and rewrites") {
    enable()
    t.createOrReplaceTempView("approx_pct_t")
    val q = spark.sql("SELECT median(v) AS m FROM approx_pct_t")
    assert(kllAggs(q.queryExecution.optimizedPlan) === 1,
      s"median must arrive as Percentile(0.5):\n${q.queryExecution.optimizedPlan}")
    assert(math.abs(q.head.getDouble(0) - 9999.5) <= eps * 20000 + 1)
  }

  test("guards: frequency != 1, DISTINCT and DESC (reverse) stay exact") {
    enable()
    t.createOrReplaceTempView("approx_pct_t")
    val qf = spark.sql("SELECT percentile(v, 0.5D, 2) AS p FROM approx_pct_t")
    assert(kllAggs(qf.queryExecution.optimizedPlan) === 0, "freq != 1 must not rewrite")
    assert(qf.head.getDouble(0) === 9999.5)
    val qd = spark.sql("SELECT percentile(DISTINCT v, 0.5D) AS p FROM approx_pct_t")
    assert(kllAggs(qd.queryExecution.optimizedPlan) === 0, "DISTINCT must not rewrite")
    val qr = spark.sql(
      "SELECT percentile_cont(0.25D) WITHIN GROUP (ORDER BY v DESC) AS p FROM approx_pct_t")
    assert(kllAggs(qr.queryExecution.optimizedPlan) === 0, "reverse must not rewrite")
    assert(qr.head.getDouble(0) === 14999.25) // exact: 0.75 quantile ascending
    val qrd = spark.sql(
      "SELECT percentile_disc(0.5D) WITHIN GROUP (ORDER BY v DESC) AS p FROM approx_pct_t")
    assert(kllAggs(qrd.queryExecution.optimizedPlan) === 0,
      "reverse disc must not rewrite")
  }

  test("percentile_disc rewrites (same no-interpolation definition as the KLL quantile)") {
    enable()
    t.createOrReplaceTempView("approx_pct_t")
    val q = spark.sql(
      "SELECT percentile_disc(0.5D) WITHIN GROUP (ORDER BY v) AS p FROM approx_pct_t")
    assert(kllAggs(q.queryExecution.optimizedPlan) === 1,
      s"disc did not rewrite:\n${q.queryExecution.optimizedPlan}")
    // exact disc answer is 9999.0 (smallest v with cum fraction >= 0.5)
    assert(math.abs(q.head.getDouble(0) - 9999.0) <= eps * 20000 + 1)
  }

  test("mixed aggregate: only the percentile is swapped; long child casts") {
    enable()
    val q = t.groupBy("g").agg(
      expr("percentile(l, 0.9D)").as("p"),
      count(lit(1)).as("n"),
      sum("l").as("s"))
    assert(kllAggs(q.queryExecution.optimizedPlan) === 1)
    q.collect().foreach { r =>
      assert(r.getLong(2) === 5000L, "count must stay exact")
      assert(math.abs(r.getDouble(1) - 18000.0) <= eps * 20000 + 4)
    }
  }

  test("composes with the approx-distinct rewrite in one aggregate") {
    enable()
    spark.conf.set("spark.graft.approxDistinct.enabled", "true")
    try {
      val q = t.groupBy("g").agg(
        expr("percentile(v, 0.5D)").as("p"),
        countDistinct(col("l")).as("ndv"))
      val plan = q.queryExecution.optimizedPlan
      assert(kllAggs(plan) === 1, s"percentile rewrite missing:\n$plan")
      var hlls = 0
      plan.foreach(p => p.expressions.foreach(_.foreach {
        case e if SketchAgg.isA[HllEstimateKind.type](e) => hlls += 1
        case _ =>
      }))
      assert(hlls === 1, s"distinct rewrite missing:\n$plan")
      assert(q.count() === 4)
    } finally spark.conf.unset("spark.graft.approxDistinct.enabled")
  }

  test("streaming aggregate is not rewritten") {
    enable()
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
    val q = stream.agg(expr("percentile(value, 0.5D)"))
    assert(q.isStreaming)
    val out = graft.plans.ApproxPercentileRewriteRule(q.queryExecution.analyzed)
    assert(kllAggs(out) === 0)
  }
}
