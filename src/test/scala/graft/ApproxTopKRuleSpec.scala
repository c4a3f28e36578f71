package graft

import graft.functions.Graft
import graft.plans.{HllEstimateKind, MgPairsKind, SketchAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** O80 — the opt-in top-k-by-count -> Misra-Gries rewrite: identical
  * rows (including order and secondary tie-break) below capacity, the
  * genuine heavy hitters beyond, every guarded shape left exactly
  * alone, and the kept-Sort/Limit plumbing (restored exprIds) proven by
  * running the rewritten plan end to end. */
class ApproxTopKRuleSpec extends AnyFunSuite with BeforeAndAfterEach {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  override def afterEach(): Unit = {
    spark.conf.unset("spark.graft.approxTopK.enabled")
    spark.conf.unset("spark.graft.approxTopK.capacity")
  }

  private def enable(): Unit =
    spark.conf.set("spark.graft.approxTopK.enabled", "true")

  // Zipf-ish: token tK appears ~N/K times for K in 1..40; ids also
  // carry a long singleton tail under a different column for the
  // beyond-capacity case
  private def t: DataFrame =
    spark.range(40000).select(
      concat(lit("t"), (pmod(col("id"), lit(820)) * pmod(col("id"), lit(820)) / lit(16810) + 1)
        .cast("int")).as("token"),
      when(pmod(col("id"), lit(4)) === 0, lit("hh"))
        .otherwise(concat(lit("u"), col("id"))).as("skewed"),
      col("id").cast("double").as("f"))

  private def topkAggs(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreach(p => p.expressions.foreach(_.foreach {
      case e if SketchAgg.isA[MgPairsKind](e) => n += 1
      case _ =>
    }))
    n
  }

  private def topk(df: DataFrame, col0: String, k: Int): DataFrame =
    df.groupBy(col(col0)).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc(col0)).limit(k)

  test("disabled by default: plan untouched") {
    val q = topk(t, "token", 10)
    assert(topkAggs(q.queryExecution.optimizedPlan) === 0)
  }

  test("fires when enabled; rows identical to exact below capacity, order included") {
    val exact = topk(t, "token", 10).collect()
    enable()
    val q = topk(t, "token", 10)
    assert(topkAggs(q.queryExecution.optimizedPlan) === 1,
      s"rule did not fire:\n${q.queryExecution.optimizedPlan}")
    assert(q.collect().toSeq === exact.toSeq)
  }

  test("SQL form fires and matches exact, counts included") {
    t.createOrReplaceTempView("topk_t")
    val sql = "SELECT token, count(*) AS cnt FROM topk_t " +
      "GROUP BY token ORDER BY cnt DESC, token LIMIT 5"
    val exact = spark.sql(sql).collect()
    enable()
    val q = spark.sql(sql)
    assert(topkAggs(q.queryExecution.optimizedPlan) === 1)
    assert(q.collect().toSeq === exact.toSeq)
  }

  test("beyond capacity: the genuine heavy hitter tops the estimate") {
    enable()
    spark.conf.set("spark.graft.approxTopK.capacity", "64")
    // 10000 "hh" rows vs 30000 distinct singletons >> 64 slots
    val q = topk(t, "skewed", 1)
    assert(topkAggs(q.queryExecution.optimizedPlan) === 1)
    val r = q.head
    assert(r.getString(0) === "hh")
    // MG undercount bound: est >= true - n/capacity
    assert(r.getLong(1) >= 10000L - 40000L / 64)
    assert(r.getLong(1) <= 10000L)
  }

  test("guards: k > capacity, non-string key, extra aggregates, asc order, no-limit stay exact") {
    enable()
    spark.conf.set("spark.graft.approxTopK.capacity", "8")
    // limit above capacity: retained set cannot cover the answer
    assert(topkAggs(topk(t, "token", 9).queryExecution.optimizedPlan) === 0)
    spark.conf.unset("spark.graft.approxTopK.capacity")
    // non-string grouping key
    val nonString = t.groupBy(col("f")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt")).limit(5)
    assert(topkAggs(nonString.queryExecution.optimizedPlan) === 0)
    // a second aggregate output means the MG pairs can't serve the plan
    val extraAgg = t.groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"), sum("f").as("sf"))
      .orderBy(desc("cnt")).limit(5)
    assert(topkAggs(extraAgg.queryExecution.optimizedPlan) === 0)
    // ascending count is a bottom-k — MG retains the wrong end
    val asc0 = t.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt")).limit(5)
    assert(topkAggs(asc0.queryExecution.optimizedPlan) === 0)
    // no limit: the full result set is requested
    val noLimit = t.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"))
    assert(topkAggs(noLimit.queryExecution.optimizedPlan) === 0)
    // count DISTINCT is not a frequency count
    val dist = t.groupBy(col("token")).agg(countDistinct(col("f")).as("cnt"))
      .orderBy(desc("cnt")).limit(5)
    assert(topkAggs(dist.queryExecution.optimizedPlan) === 0)
  }

  test("null keys are excluded from the approximate top-k (pinned convention)") {
    enable()
    // every third row null: exact GROUP BY would rank the null group
    // first; the rewrite follows the frequent-items convention and
    // never emits it
    val withNulls = spark.range(3000).select(
      when(pmod(col("id"), lit(3)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("v"), pmod(col("id"), lit(7)))).as("token"))
    val q = topk(withNulls, "token", 3)
    assert(topkAggs(q.queryExecution.optimizedPlan) === 1)
    val approx = q.collect()
    assert(approx.forall(!_.isNullAt(0)), "null group must not surface")
    // and it equals the exact query with nulls filtered out
    spark.conf.unset("spark.graft.approxTopK.enabled")
    val exactNoNull = topk(withNulls.filter(col("token").isNotNull), "token", 3).collect()
    assert(approx.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      exactNoNull.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("composes with the approx-distinct rule in one plan") {
    enable()
    spark.conf.set("spark.graft.approxDistinct.enabled", "true")
    try {
      // top-k subtree under a join with a COUNT(DISTINCT) subtree: both
      // rewrites must fire in their own subtrees of the same plan
      val top = topk(t, "token", 5)
      val ndv = t.agg(countDistinct(col("skewed")).as("ndv"))
      val q = top.crossJoin(ndv)
      val plan = q.queryExecution.optimizedPlan
      assert(topkAggs(plan) === 1, s"topk rewrite missing:\n$plan")
      var hllAggs = 0
      plan.foreach(p => p.expressions.foreach(_.foreach {
        case e if SketchAgg.isA[HllEstimateKind.type](e) => hllAggs += 1
        case _ =>
      }))
      assert(hllAggs === 1, s"distinct rewrite missing:\n$plan")
      val rows = q.collect()
      assert(rows.length === 5)
      // top-5 tokens are exact below capacity; NDV is the HLL estimate
      val exactTop = topk(t, "token", 5).collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq === exactTop.toSeq)
    } finally spark.conf.unset("spark.graft.approxDistinct.enabled")
  }

  test("streaming aggregates are excluded") {
    enable()
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
    val q = stream.groupBy(col("value").cast("string").as("v"))
      .agg(count(lit(1)).as("cnt")).orderBy(desc("cnt")).limit(3)
    assert(q.isStreaming)
    val out = graft.plans.ApproxTopKRewriteRule(q.queryExecution.analyzed)
    assert(topkAggs(out) === 0)
  }
}
