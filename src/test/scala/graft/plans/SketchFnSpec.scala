package graft.plans

import graft.core.{Cms, Ebf, Hll, Kll, Theta}
import graft.functions.{Graft, SketchCache}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[SketchFn]]'s own contracts: NULL sketches, nullability, corrupt
  * sketches, the mutating kinds, and interpreted against generated
  * evaluation. The answers on real sketches are pinned by
  * [[ScalarGoldenSpec]]. */
class SketchFnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString

  private lazy val ebfBytes: Array[Byte] = {
    val e = Ebf.empty(m0 = 64)
    (0 until 500).foreach(i => e.insert(s"k$i"))
    e.toBytes
  }

  /** A non-null argument of each input type, and NULL for the sketches. */
  private def call(kind: ScalarKind, sketch: String): String =
    kind.name + kind.inputTypes.map {
      case BinaryType => sketch
      case StringType => "'k1'"
      case DoubleType => "0.5D"
      case IntegerType => "3"
      case t => fail(s"no argument for $t")
    }.mkString("(", ", ", ")")

  test("an empty merge is NULL, and every scalar reads a NULL sketch as NULL") {
    val empty = spark.range(0).selectExpr("cast(null AS binary) AS s")
    val r = empty.selectExpr(
      "hll_estimate(hll_merge_agg(s))", "ebf_info(ebf_merge_agg(s))",
      "kll_quantile(kll_merge_agg(s), 0.5)", "cms_estimate(cms_merge_agg(s), 'a')",
      "theta_estimate(cast(null AS binary))", "ebf_might_contain(ebf_merge_agg(s), 'a')").head
    assert((0 until 5).forall(r.isNullAt), r)
    assert(r.getBoolean(5) === false)

    // each of the 31, with the NULL sketch a constant and a per-row value
    assert(SketchFn.registered.size === 31)
    val rows = spark.range(2).toDF("id")
    for (kind <- SketchFn.registered; sk <- Seq("cast(null AS binary)",
        "CASE WHEN id < 0 THEN X'00' END")) {
      val got = rows.selectExpr(call(kind, sk)).collect().map(_.get(0)).toSeq
      val expected = if (kind.name == "ebf_might_contain") false else null
      assert(got === Seq(expected, expected), call(kind, sk))
    }
  }

  test("a result is nullable only where an input can make it NULL") {
    val sk = s"X'${hex(ebfBytes)}'"
    val df = spark.range(3).selectExpr(
      s"ebf_fpr($sk) AS constant",
      s"ebf_fpr(CASE WHEN id = 0 THEN $sk END) AS per_row",
      s"ebf_might_contain(CASE WHEN id = 0 THEN $sk END, CASE WHEN id = 1 THEN 'k1' END) AS probe",
      s"cms_estimate(X'${hex(Cms.empty().toBytes)}', CASE WHEN id = 1 THEN 'k1' END) AS est",
      s"kll_quantile(X'${hex(Kll.empty().toBytes)}', CASE WHEN id = 1 THEN 0.5D END) AS q")
    assert(df.schema.map(_.nullable) === Seq(false, true, false, false, true))
    val r = df.orderBy("per_row").collect()
    assert(r.map(_.isNullAt(1)).count(identity) === 2)

    // kinds that read no sketch: a null text answers the kernel's value,
    // int8_dot can answer NULL from non-null arrays, and a vector kind
    // over a vector that is never NULL is never NULL
    val native = spark.range(3).select(
      expr("lang_id(CASE WHEN id = 0 THEN 'a b' END)"),
      expr("hamming64(id, CASE WHEN id = 0 THEN 1L END)"),
      Int8DotExpr.column(expr("array(cast(id AS tinyint))"), expr("array(cast(id AS tinyint))")),
      NearestCellExpr.column(expr("array(cast(id AS double), 1.0D)"), Array(Array(1.0, 0.0))))
    assert(native.schema.map(_.nullable) === Seq(false, true, true, false))
  }

  test("a corrupt sketch fails with an IllegalArgumentException named for the function") {
    def failsAs(name: String)(run: => Any): Unit = {
      val e = intercept[Throwable](run)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists {
        case iae: IllegalArgumentException => iae.getMessage.startsWith(s"$name: ")
        case _ => false
      }, chain.map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n"))
    }
    failsAs("hll_estimate")(spark.sql("SELECT hll_estimate(X'00')").collect())
    failsAs("kll_quantile")(spark.range(2)
      .selectExpr("kll_quantile(CASE WHEN id >= 0 THEN X'0102' END, 0.5D)").collect())
    failsAs("ebf_might_contain")(spark.range(2)
      .selectExpr("ebf_might_contain(X'00', cast(id AS string))").collect())
    failsAs("ebf_compress")(spark.range(1)
      .selectExpr(s"ebf_compress(X'${hex(Ebf.empty().toBytes)}')").collect())
  }

  test("the sketch-returning kinds never fold and change only a fresh copy") {
    val sk = s"X'${hex(ebfBytes)}'"
    val df = spark.range(4).selectExpr(
      s"ebf_expand($sk) AS lit", s"ebf_expand(CASE WHEN id >= 0 THEN $sk END) AS col",
      s"ebf_info(CASE WHEN id >= 0 THEN $sk END).level AS level")
    var calls = 0
    df.queryExecution.optimizedPlan.foreach(_.expressions.foreach(_.foreach { e =>
      if (SketchFn.isA[EbfExpand](e)) calls += 1
    }))
    assert(calls === 2, df.queryExecution.optimizedPlan)
    val once = Ebf.fromBytes(ebfBytes)
    once.expand()
    val level = Ebf.fromBytes(ebfBytes).level
    df.collect().foreach { r =>
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](0), once.toBytes))
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1), once.toBytes))
      assert(r.getInt(2) === level)
    }
    val a = Theta.empty(); (0 until 100).foreach(i => a.add(s"a$i"))
    val b = Theta.empty(); (0 until 100).foreach(i => b.add(s"b$i"))
    val u = spark.range(3).selectExpr(
      s"theta_estimate(theta_merge(X'${hex(a.toBytes)}', X'${hex(b.toBytes)}'))")
    assert(u.collect().map(_.getLong(0)).toSeq === Seq(200L, 200L, 200L))
  }

  test("interpreted and generated evaluation agree") {
    val hll = Hll.empty(); (0 until 1000).foreach(i => hll.add(s"u$i"))
    def run(): Seq[String] = spark.range(6).selectExpr(
      s"ebf_might_contain(CASE WHEN id < 5 THEN X'${hex(ebfBytes)}' END, concat('k', id * 100))",
      s"hll_estimate(CASE WHEN id % 2 = 0 THEN X'${hex(hll.toBytes)}' END)",
      s"ebf_info(CASE WHEN id < 3 THEN X'${hex(ebfBytes)}' END)")
      .collect().map(_.toString).toSeq
    val generated = run()
    val modes = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    modes.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(run() === generated)
    finally modes.foreach { case (k, _) => spark.conf.unset(k) }
    val e = Ebf.fromBytes(ebfBytes)
    assert(generated.head === s"[true,${hll.estimate},[${e.level},${e.numBuckets},${e.n}," +
      s"${e.bitsSet},${e.fpWidth},${e.fprBound},${e.sizeBytes}]]")
  }

  test("a blob that is the same array on every row is read once per expression instance") {
    import SketchFnSpec._
    spark.range(1).selectExpr(s"X'${hex(ebfBytes)}' AS s").createOrReplaceTempView("one_blob")
    reads.clear()
    val df = spark.range(0, 40, 1, 2)
      .select(SketchFn.column(ReadsCounted(), expr("(SELECT max(s) FROM one_blob)")))
    assert(!df.queryExecution.optimizedPlan.expressions.exists(_.foldable))
    assert(df.collect().map(_.getDouble(0)).toSet === Set(Ebf.fromBytes(ebfBytes).fprBound))
    assert(reads.size === 2)
  }

  test("a per-row copy is read through the cache and hits on equal content") {
    import SketchFnSpec._
    val copies = spark.createDataFrame(
      java.util.Arrays.asList(Seq.fill(40)(org.apache.spark.sql.Row(ebfBytes.clone())): _*),
      StructType(Seq(StructField("s", BinaryType)))).repartition(2)
    reads.clear()
    decoded.clear()
    assert(copies.select(SketchFn.column(ReadsCounted(), col("s"))).collect().length === 40)
    assert(reads.size === 40)
    assert(decoded.size === 1)
    assert(decoded.iterator.next() eq SketchCache.ebf(ebfBytes))
  }

  test("a wrong argument count is Spark's own analysis error") {
    val e = intercept[AnalysisException](spark.sql("SELECT hll_estimate()").collect())
    assert(e.getMessage.contains("WRONG_NUM_ARGS"), e.getMessage)
  }
}

object SketchFnSpec {
  /** The arrays [[ReadsCounted]] read a shared sketch from, one per read. */
  val reads = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
  /** The distinct sketch instances it answered from. */
  val decoded: java.util.Set[Ebf] = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[Ebf, java.lang.Boolean]()))

  /** `ebf_fpr`, counting its reads. */
  case class ReadsCounted() extends OneSketch[Ebf]("reads_counted", DoubleType,
      Read(b => { reads.add(b); SketchCache.ebf(b) }, Ebf.fromBytes)) {
    def of(s: Ebf): Any = { decoded.add(s); s.fprBound }
  }
}
