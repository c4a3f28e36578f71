package graft.plans

import graft.core.{Cms, FreqSketch, Hll, Kll, TDigest}
import graft.functions.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CMS / HLL / KLL / t-digest / heavy-hitter scalars over foldable
  * sketch arguments: constant-folded outright when every argument is
  * foldable, otherwise a [[SketchFn]] over the constant sketch (decoded
  * once per task), with the sketch's own answers. The test names date
  * from the literal-rewrite rule this replaced, and are kept so the
  * test history lines up.
  */
class SketchLiteralScalarSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def noUdf(df: org.apache.spark.sql.DataFrame): Boolean =
    !df.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))

  /** The SketchFn calls left in the plan: whether each reads a constant. */
  private def constantSketch(df: org.apache.spark.sql.DataFrame): Seq[Boolean] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case f: SketchFn => f.children.head.foldable
    }))

  private def hasNative(df: org.apache.spark.sql.DataFrame): Boolean =
    constantSketch(df).nonEmpty && constantSketch(df).forall(identity)

  test("cms_estimate(literal, per-row key) rewrites to the native expression") {
    val cms = Cms.empty(depth = 5, width = 1024)
    (0 until 2000).foreach(i => cms.add(s"t${i % 50}"))
    // range source: a local Seq would collapse into a LocalRelation
    val probes = spark.range(200).select(concat(lit("t"), col("id") % 60).as("tok"))
    val df = probes.select(col("tok"),
      expr(s"cms_estimate(X'${hex(cms.toBytes)}', tok)").as("est"))
    assert(hasNative(df), s"no constant-sketch SketchFn:\n${df.queryExecution.optimizedPlan}")
    assert(noUdf(df))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (tok, est) => assert(est === cms.estimate(tok), s"token $tok") }
  }

  test("cs_estimate(literal, per-row key) rewrites; signed estimates and null key match the UDF path") {
    val cs = graft.core.CountSketch.empty(width = 1024)
    (0 until 2000).foreach(i => cs.add(s"t${i % 50}"))
    cs.add("gone", -7L) // signed cell content flows through
    val probes = spark.range(20).select(
      when(col("id") < 15, concat(lit("t"), col("id") % 60))
        .otherwise(lit(null).cast("string")).as("tok"))
    val df = probes.select(col("tok"),
      expr(s"cs_estimate(X'${hex(cs.toBytes)}', tok)").as("est"))
    assert(hasNative(df), s"no constant-sketch SketchFn:\n${df.queryExecution.optimizedPlan}")
    assert(noUdf(df))
    df.collect().foreach { r =>
      val expected = if (r.isNullAt(0)) 0L else cs.estimate(r.getString(0))
      assert(r.getLong(1) === expected)
    }
  }

  test("topk_estimate(literal, per-row key) rewrites; null key estimates 0") {
    val fs = FreqSketch.empty(capacity = 64)
    (0 until 500).foreach(i => fs.add(s"w${i % 10}"))
    val probes = spark.range(20).select(
      when(col("id") < 15, concat(lit("w"), col("id") % 12))
        .otherwise(lit(null).cast("string")).as("item"))
    val df = probes.select(col("item"),
      expr(s"topk_estimate(X'${hex(fs.toBytes)}', item)").as("est"))
    assert(hasNative(df) && noUdf(df))
    df.collect().foreach { r =>
      val expected = if (r.isNullAt(0)) 0L else fs.estimate(r.getString(0))
      assert(r.getLong(1) === expected)
    }
  }

  test("kll_quantile / tdigest_cdf with per-row double rewrite; null propagates") {
    val kll = Kll.empty(k = 160)
    (1 to 10000).foreach(i => kll.add(i.toDouble))
    val td = TDigest.empty(compression = 100.0)
    (1 to 10000).foreach(i => td.add(i.toDouble))
    val qs = spark.range(12).select(
      when(col("id") < 10, col("id").cast("double") / 10.0)
        .otherwise(lit(null).cast("double")).as("q"))
    val df = qs.select(col("q"),
      expr(s"kll_quantile(X'${hex(kll.toBytes)}', q)").as("kq"),
      expr(s"tdigest_cdf(X'${hex(td.toBytes)}', q * 10000.0)").as("tc"))
    assert(hasNative(df) && noUdf(df))
    df.collect().foreach { r =>
      if (r.isNullAt(0)) {
        assert(r.isNullAt(1) && r.isNullAt(2), "primitive null-in must be null-out")
      } else {
        assert(r.getDouble(1) === kll.quantile(r.getDouble(0)))
        assert(r.getDouble(2) === td.cdf(r.getDouble(0) * 10000.0))
      }
    }
  }

  test("fully-foldable sketch scalars constant-fold to literals (HLL, KLL, CMS, EBF)") {
    val hll = Hll.empty()
    (0 until 1000).foreach(i => hll.add(s"u$i"))
    val kll = Kll.empty(k = 160)
    (1 to 1000).foreach(i => kll.add(i.toDouble))
    val cms = Cms.empty(depth = 5, width = 512)
    (0 until 300).foreach(i => cms.add(s"x${i % 7}"))
    val df = spark.range(3).select(
      expr(s"hll_estimate(X'${hex(hll.toBytes)}')").as("ndv"),
      expr(s"kll_quantile(X'${hex(kll.toBytes)}', 0.5D)").as("median"),
      expr(s"cms_estimate(X'${hex(cms.toBytes)}', 'x3')").as("cx3"),
      expr(s"cms_total(X'${hex(cms.toBytes)}')").as("ctotal"))
    // everything folds: no UDF and no SketchFn remains
    assert(noUdf(df), s"constant fold missed:\n${df.queryExecution.optimizedPlan}")
    assert(constantSketch(df).isEmpty, s"constant fold missed:\n${df.queryExecution.optimizedPlan}")
    val r = df.head
    assert(r.getLong(0) === hll.estimate)
    assert(r.getDouble(1) === kll.quantile(0.5))
    assert(r.getLong(2) === cms.estimate("x3"))
    assert(r.getLong(3) === cms.total)
  }

  test("non-foldable sketch argument stays on the UDF path") {
    import spark.implicits._
    val d = (0 until 100).map(i => s"k${i % 9}").toDF("k")
    val withSk = d.groupBy().agg(expr("cms_agg(k)").as("sk")).crossJoin(d)
    val df = withSk.select(col("k"), expr("cms_estimate(sk, k)").as("est"))
    assert(constantSketch(df) === Seq(false))
    // results still correct through the per-row cache path
    val exact = d.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    df.collect().foreach(r => assert(r.getLong(1) >= exact(r.getString(0))))
  }

  test("interpreted eval matches codegen for the native expression") {
    val cms = Cms.empty(depth = 5, width = 256)
    (0 until 100).foreach(i => cms.add(s"i${i % 5}"))
    val e = SketchFn(Seq(org.apache.spark.sql.catalyst.expressions.Literal(cms.toBytes),
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.StringType, nullable = true)), CmsEstimate())
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("i3"))
    assert(e.eval(row) === cms.estimate("i3"))
    val nullRow = org.apache.spark.sql.catalyst.InternalRow(null)
    assert(e.eval(nullRow) === 0L)
  }
}
