package graft.plans

import graft.core.Ebf
import graft.functions.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `ebf_might_contain` over a foldable sketch must plan as a SketchFn
  * over the constant (decoded once per task) with the filter's own
  * answers, and over a per-row sketch as a SketchFn over that column.
  * The test names date from the literal-rewrite rule this replaced, and
  * are kept so the test history lines up. */
class EbfLiteralProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def probeCalls(df: org.apache.spark.sql.DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e if SketchFn.isA[EbfMightContain](e) => e
    }))

  test("literal-sketch probe is rewritten to ebf_literal_probe with identical results") {
    val members = (0 until 500).map(i => s"m$i")
    val ebf = Ebf.empty(m0 = 64)
    members.foreach(ebf.insert)
    // range-based source: a local Seq would be constant-folded into a
    // LocalRelation by the optimizer, hiding the rewritten expression
    val probes = spark.range(1000).select(
      when(col("id") < 500, concat(lit("m"), col("id")))
        .otherwise(concat(lit("x"), col("id") - 500)).as("k"))

    val df = probes.select(col("k"),
      expr(s"ebf_might_contain(X'${hex(ebf.toBytes)}', k)").as("hit"))
    val optimized = df.queryExecution.optimizedPlan
    assert(probeCalls(df).map(_.children.head.foldable) === Seq(true),
      s"no constant probe:\n$optimized")
    assert(!optimized.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))))

    val got = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    members.foreach(k => assert(got(k), s"false negative through rewrite: $k"))
    val expected = probes.collect().map(_.getString(0))
      .map(k => k -> ebf.mightContain(k)).toMap
    assert(got === expected)
  }

  test("per-row (non-foldable) sketch argument is left on the UDF path") {
    import spark.implicits._
    val d = (0 until 100).map(i => s"k$i").toDF("k")
    val withSk = d.groupBy().agg(expr("ebf_agg(k)").as("sk"))
      .crossJoin(d)
    val df = withSk.select(col("k"), expr("ebf_might_contain(sk, k)").as("hit"))
    assert(probeCalls(df).map(_.children.head.foldable) === Seq(false))
    assert(df.collect().forall(_.getBoolean(1)))
  }

  test("null literal sketch folds to false; null keys miss") {
    import spark.implicits._
    val d = Seq("a").toDF("k")
    val r = d.select(expr("ebf_might_contain(cast(null as binary), k)").as("hit")).head
    assert(r.getBoolean(0) === false)
    val ebf = Ebf.empty(m0 = 64); ebf.insert("a")
    val withNull = d.unionByName(Seq.empty[String].toDF("k")
      .unionByName(spark.range(1).select(lit(null).cast("string").as("k"))))
    val rows = withNull.select(
      expr(s"ebf_might_contain(X'${hex(ebf.toBytes)}', k)").as("hit")).collect()
    assert(rows.map(_.getBoolean(0)).toSeq === Seq(true, false))
  }

  test("config-only integration: spark.sql.extensions=GraftExtensions installs the rule") {
    // a separate session would be ideal, but sessions share the
    // singleton SparkContext in tests; instead verify what the
    // extensions class injects
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rules = org.apache.spark.sql.graftshim.TestShim.optimizerRules(ext, spark)
    assert(rules === GraftExtensions.rules)
    assert(rules.size === 5)
    val functions = org.apache.spark.sql.graftshim.TestShim.functionNames(ext)
    assert(functions === GraftExtensions.functions.map(_._1.funcName).toSet)
    assert(functions === Set("graft_hash128_h1", "graft_hash128_h2", "graft_shard",
      "graft_zorder_key"))
    // Graft.ensure installs the same rules in this session
    assert(GraftExtensions.rules.forall(spark.experimental.extraOptimizations.contains))
  }
}
