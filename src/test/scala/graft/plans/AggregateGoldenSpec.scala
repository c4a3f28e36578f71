package graft.plans

import graft.functions.Graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins the outputs of the rewrite and vector aggregates on one seeded
  * input with nulls: the COUNT(DISTINCT) estimate, the percentile
  * quantiles, the MG mode (with a tie) and top-k pairs, the FD blob
  * from double and from float vectors, the vector sums and the per-lang
  * token CMS bytes. The spec reaches
  * each aggregate only through its rule or its `column` facade and
  * finds it by its SQL name, so it runs unchanged on two commits; run
  * it on both to check that their outputs are identical.
  *
  * The input is one partition, so the order-dependent sketches (KLL,
  * MG, FD) see every row in the same order on every run.
  */
class AggregateGoldenSpec extends AnyFunSuite with BeforeAndAfterEach {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private val rules = Seq("approxDistinct.enabled", "approxPercentile.enabled",
    "approxMode.enabled", "approxTopK.enabled")

  override def afterEach(): Unit = rules.foreach(r => spark.conf.unset(s"spark.graft.$r"))

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  private val dim = 6

  /** 3000 rows: group `g`, key `k`, value `v`, mode column `m` (group 3
    * is an exact tie), skewed token `t`, vectors `vd`/`vf` (same values,
    * double and float) and `vn` (ragged, null elements), and `lang`/
    * `text`; every column has null rows. */
  private lazy val input: DataFrame = {
    val r = new scala.util.Random(20261017L)
    def orNull[T](p: Int, v: => T): Any = if (r.nextInt(p) == 0) null else v
    val rows = (0 until 3000).map { i =>
      val g = i % 4
      val vd = orNull(20, Seq.fill(dim)(r.nextGaussian() * 3.0))
      Row(g,
        orNull(10, s"k${r.nextInt(400)}"),
        orNull(12, r.nextGaussian() * 100.0),
        if (g == 3) (if ((i / 4) % 2 == 0) "tie-b" else "tie-a") else orNull(15, s"m${r.nextInt(5 + g)}"),
        orNull(9, s"t${(r.nextGaussian().abs * 12).toInt}"),
        vd,
        if (vd == null) null else vd.asInstanceOf[Seq[Double]].map(_.toFloat),
        orNull(11, Seq.fill(4 + r.nextInt(4))(if (r.nextInt(6) == 0) null else r.nextInt(50) / 4.0)),
        orNull(13, Seq("en", "de", "fr")(r.nextInt(3))),
        orNull(8, Seq.fill(1 + r.nextInt(6))(s"w${r.nextInt(30)}").mkString(" ")))
    }
    val schema = StructType(Seq(
      StructField("g", IntegerType), StructField("k", StringType),
      StructField("v", DoubleType), StructField("m", StringType), StructField("t", StringType),
      StructField("vd", ArrayType(DoubleType, containsNull = false)),
      StructField("vf", ArrayType(FloatType, containsNull = false)),
      StructField("vn", ArrayType(DoubleType)),
      StructField("lang", StringType), StructField("text", StringType)))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
  }

  private def enable(rule: String): Unit = spark.conf.set(s"spark.graft.$rule", "true")

  /** Aggregates named `name` anywhere in the optimized plan. */
  private def fired(df: DataFrame, name: String): Int = {
    var n = 0
    def walk(plan: LogicalPlan): Unit = plan.foreach(_.expressions.foreach(_.foreach {
      case a: AggregateFunction if a.prettyName == name => n += 1
      case s: ScalarSubquery => walk(s.plan)
      case _ =>
    }))
    walk(df.queryExecution.optimizedPlan)
    n
  }

  private def rowsOf(df: DataFrame): String =
    df.collect().map(_.toSeq.map {
      case null => "null"
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => x.toString
    }.mkString("|")).mkString("; ")

  test("COUNT(DISTINCT) rewrite: HLL estimate per group") {
    enable("approxDistinct.enabled")
    val q = input.groupBy("g").agg(countDistinct(col("k"))).orderBy("g")
    assert(fired(q, "hll_ndv_agg") === 1)
    assert(rowsOf(q) === "0|328; 1|332; 2|328; 3|334")
  }

  test("percentile rewrite: scalar and array KLL quantiles, NULL on empty input") {
    enable("approxPercentile.enabled")
    val q = input.groupBy("g").agg(expr("percentile(v, 0.5D)"),
      expr("percentile(v, array(0.1D, 0.9D))"), expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)"))
      .orderBy("g")
    assert(fired(q, "kll_quantile_agg") === 3)
    assert(rowsOf(q) === "0|2.696465441484149|[-137.2024016886805,115.57136413616995]|-67.70209808693569; " +
      "1|-12.468470128889129|[-128.39350975514958,116.09595593589749]|-70.13394456141732; " +
      "2|-8.372645929310153|[-129.61649723883363,114.34968477897742]|-72.25753837555357; " +
      "3|9.685061577936365|[-126.69636917847664,124.58048667978221]|-58.258724310551656")
    val empty = input.filter(col("v") > 1e9).agg(expr("percentile(v, 0.5D)"),
      expr("percentile(v, array(0.5D))"))
    assert(fired(empty, "kll_quantile_agg") === 2)
    assert(rowsOf(empty) === "null|null")
  }

  test("mode rewrite: MG top-1 per group, ties to the smallest value") {
    enable("approxMode.enabled")
    val q = input.groupBy("g").agg(expr("mode(m)")).orderBy("g")
    assert(fired(q, "mg_mode_agg") === 1)
    assert(rowsOf(q) === "0|m4; 1|m3; 2|m3; 3|tie-a")
    val empty = input.filter(col("g") > 9).agg(expr("mode(m)"))
    assert(rowsOf(empty) === "null")
  }

  test("top-k rewrite: MG (key, count) pairs") {
    enable("approxTopK.enabled")
    val q = input.groupBy("t").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t").asc).limit(8)
    assert(fired(q, "mg_topk_pairs_agg") === 1)
    assert(rowsOf(q) === "t1|179; t2|177; t3|172; t5|168; t0|167; t4|160; t6|144; t7|137")
  }

  test("FD blob from double and from float vectors") {
    val fromDouble = input.agg(FdAggExpr.column(col("vd"), 4, dim)).head.getAs[Array[Byte]](0)
    val fromFloat = input.agg(FdAggExpr.column(col("vf"), 4, dim)).head.getAs[Array[Byte]](0)
    assert(sha256(fromDouble) === "9d5bdb7f8560d83bd1d5104d4d1276fe7b541d4e962b49e1cc60be833bb846c0")
    assert(sha256(fromFloat) === "4a6eb57af9ecbbb61737194d252c4b5d3a2984bfaa139bdf39259b53026f9bf5")
  }

  test("vector sums per group: [count | element sums]") {
    val q = input.groupBy("g").agg(VecSumAgg.column(col("vn"), dim)).orderBy("g")
    assert(rowsOf(q) === "0|[697.0,3679.25,3435.75,3329.75,3448.75,2814.25,1503.75]; " +
      "1|[672.0,3313.5,3396.25,3416.5,3427.75,2552.25,1742.0]; " +
      "2|[686.0,3643.25,3540.75,3382.25,3561.75,2574.25,1755.75]; " +
      "3|[681.0,3504.25,3472.75,3253.25,3501.5,2638.5,1642.25]")
  }

  test("per-lang token sketches: CMS bytes per lang") {
    val m = input.agg(PerLangTokenSketchesAgg.column(col("lang"), col("text"), 3, 64, 16, 7L, 5))
      .head.getMap[String, Row](0)
    val cms = m.toSeq.sortBy(_._1).map { case (lang, r) => s"$lang:${sha256(r.getAs[Array[Byte]]("cms"))}" }
    assert(cms.mkString("; ") ===
      "de:7ffd04a00cc4bfc0a03f3d992303d0d73210b59e2dbafa8455b2090f651e0acb; " +
      "en:6e7ff60cf9732c72cfcf9456510ddd9cff245c6671d4638e0fe49e19db5501ea; " +
      "fr:55dcd921353ce648099bffd4fea88be654a0cd285bcea4ed6c7cbb41354ccc10")
  }
}
