package graft

import graft.functions.Graft
import graft.plans.{HllEstimateKind, MgModeKind, SketchAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** O76 — the opt-in mode() -> Misra-Gries rewrite: exact below
  * capacity with the deterministic smallest-of-ties convention, heavy
  * hitter beyond capacity, every guarded shape left exactly alone. */
class ApproxModeRuleSpec extends AnyFunSuite with BeforeAndAfterEach {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  override def afterEach(): Unit = {
    spark.conf.unset("spark.graft.approxMode.enabled")
    spark.conf.unset("spark.graft.approxMode.capacity")
  }

  private def enable(): Unit =
    spark.conf.set("spark.graft.approxMode.enabled", "true")

  // g: 4 groups; s: value "vK" with K = id%10, so "v0" wins in every
  // group (ids divisible by 10 recur); f double for the type guard
  private def t: DataFrame =
    spark.range(20000).select(
      pmod(col("id"), lit(4)).as("g"),
      concat(lit("v"), pmod(col("id"), lit(10))).as("s"),
      when(pmod(col("id"), lit(3)) === 0, lit("hot")) // true mode "hot"
        .otherwise(concat(lit("u"), col("id"))).as("skewed"),
      col("id").cast("double").as("f"))

  private def modeAggs(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreach(p => p.expressions.foreach(_.foreach {
      case e if SketchAgg.isA[MgModeKind](e) => n += 1
      case _ =>
    }))
    n
  }

  test("disabled by default: plan untouched, result a valid mode") {
    val q = t.groupBy("g").agg(expr("mode(s)").as("m"))
    assert(modeAggs(q.queryExecution.optimizedPlan) === 0)
    // every value 0..9 appears equally often per group -> any is valid
    q.collect().foreach(r => assert(r.getString(1).startsWith("v")))
  }

  test("fires when enabled; exact below capacity; ties resolve to smallest value") {
    enable()
    // id%4 and id%10 share parity: even groups see {v0,v2,v4,v6,v8}
    // tied, odd groups {v1,v3,v5,v7,v9} tied -> smallest per parity
    val q = t.groupBy("g").agg(expr("mode(s)").as("m"))
    assert(modeAggs(q.queryExecution.optimizedPlan) === 1,
      s"rule did not fire:\n${q.queryExecution.optimizedPlan}")
    q.collect().foreach { r =>
      val want = if (r.getLong(0) % 2 == 0) "v0" else "v1"
      assert(r.getString(1) === want,
        s"tie must break to smallest, got ${r.getString(1)} for g=${r.getLong(0)}")
    }
  }

  test("beyond capacity: the genuine heavy hitter survives Misra-Gries") {
    enable()
    spark.conf.set("spark.graft.approxMode.capacity", "64")
    // ~6667 "hot" rows vs ~13333 distinct singletons >> capacity 64
    val q = t.agg(expr("mode(skewed)").as("m"))
    assert(modeAggs(q.queryExecution.optimizedPlan) === 1)
    assert(q.head.getString(0) === "hot")
  }

  test("guards: WITHIN GROUP ordering, non-string child, plain aggs stay exact") {
    enable()
    t.createOrReplaceTempView("approx_mode_t")
    val qo = spark.sql(
      "SELECT mode() WITHIN GROUP (ORDER BY s) AS m FROM approx_mode_t")
    assert(modeAggs(qo.queryExecution.optimizedPlan) === 0,
      "WITHIN GROUP requests its own tie-break and must stay exact")
    val qn = t.agg(expr("mode(f)"))
    assert(modeAggs(qn.queryExecution.optimizedPlan) === 0,
      "non-string child must not rewrite (result type must stay the child's)")
    val qc = t.agg(count(col("s")))
    assert(modeAggs(qc.queryExecution.optimizedPlan) === 0)
  }

  test("mixed aggregate: only the mode is swapped; composes with approx-distinct") {
    enable()
    spark.conf.set("spark.graft.approxDistinct.enabled", "true")
    try {
      val q = t.groupBy("g").agg(
        expr("mode(s)").as("m"),
        countDistinct(col("s")).as("ndv"),
        count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan
      assert(modeAggs(plan) === 1)
      var hlls = 0
      plan.foreach(p => p.expressions.foreach(_.foreach {
        case e if SketchAgg.isA[HllEstimateKind.type](e) => hlls += 1
        case _ =>
      }))
      assert(hlls === 1)
      q.collect().foreach { r =>
        assert(r.getString(1) === (if (r.getLong(0) % 2 == 0) "v0" else "v1"))
        assert(r.getLong(2) === 5L) // 5 same-parity values; HLL exact
        assert(r.getLong(3) === 5000L)
      }
    } finally spark.conf.unset("spark.graft.approxDistinct.enabled")
  }

  test("streaming aggregate is not rewritten") {
    enable()
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
    val q = stream.agg(expr("mode(cast(value as string))"))
    assert(q.isStreaming)
    val out = graft.plans.ApproxModeRewriteRule(q.queryExecution.analyzed)
    assert(modeAggs(out) === 0)
  }
}
