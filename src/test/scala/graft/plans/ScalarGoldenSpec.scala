package graft.plans

import graft.core._
import graft.functions.Graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins every SQL sketch scalar on fixed-seed fixture sketches: the
  * answers per probe row (null keys, null doubles and ints, implicitly
  * cast bigint keys and decimal arguments included) and the result
  * type. Each call runs twice, with the sketch as a column and as an
  * `X'…'` literal, and both must give the golden answer. The spec uses
  * SQL only, so it runs unchanged on two commits; run it on both to
  * check that their scalars agree.
  */
class ScalarGoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).take(8)
      .map(x => f"${x & 0xff}%02x").mkString

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString

  /** Fixture sketches over numeric-string keys, so a bigint key cast to
    * string probes the same key. */
  private lazy val sketches: Map[String, Array[Byte]] = {
    val r = new scala.util.Random(20261018L)
    val ebf = Ebf.empty(m0 = 256)
    (0 until 3000).foreach(i => ebf.insert(i.toString))
    val hll = Hll.empty()
    (0 until 5000).foreach(_ => hll.add(r.nextInt(4000).toString))
    val th1 = Theta.empty(k = 256)
    val th2 = Theta.empty(k = 256)
    (0 until 3000).foreach(i => th1.add(i.toString))
    (1500 until 6000).foreach(i => th2.add(i.toString))
    val cms = Cms.empty(depth = 4, width = 256)
    val cms2 = Cms.empty(depth = 4, width = 256)
    val cs = CountSketch.empty(depth = 5, width = 256)
    val cs2 = CountSketch.empty(depth = 5, width = 256)
    val dcms = DecayedCms.empty(depth = 4, width = 256, lambda = math.log(2.0) / 3600.0)
    val fs = FreqSketch.empty(capacity = 32)
    val bks = BottomKSample.empty(k = 8)
    (0 until 4000).foreach { i =>
      val key = (r.nextGaussian().abs * 900).toInt.toString
      cms.add(key); cs.add(key); fs.add(key); bks.add(key)
      if (i % 10 == 0) fs.add("997")
      if (i % 25 == 0) fs.add("1994")
      dcms.add(key, 1000.0 + i)
      val other = (r.nextGaussian().abs * 1200).toInt.toString
      cms2.add(other); cs2.add(other)
    }
    cs.add("2991", -5L)
    val kll = Kll.empty(k = 64)
    val td = TDigest.empty(compression = 50.0)
    (0 until 5000).foreach { _ =>
      val v = r.nextGaussian() * 300.0 + 100.0
      kll.add(v); td.add(v)
    }
    Map("ebf" -> ebf.toBytes, "hll" -> hll.toBytes, "th1" -> th1.toBytes, "th2" -> th2.toBytes,
      "cms" -> cms.toBytes, "cms2" -> cms2.toBytes, "cs" -> cs.toBytes, "cs2" -> cs2.toBytes,
      "dcms" -> dcms.toBytes, "kll" -> kll.toBytes, "td" -> td.toBytes, "fs" -> fs.toBytes,
      "bks" -> bks.toBytes)
  }

  /** Eight probe rows: `key` (string, null on row 6), `nk` (the same
    * key as a bigint, never null), `q` in [0, 1], value `v`, time `t`
    * and count `b` (each null on row 6). The sketches ride along as
    * one binary column each, so the column form is per-row data. */
  private lazy val probes: DataFrame = {
    val names = sketches.keys.toSeq.sorted
    val fx = spark.createDataFrame(Seq(Row(names.map(sketches): _*)).asJava,
      StructType(names.map(n => StructField(n, BinaryType))))
    spark.range(8).selectExpr(
      "id",
      "CASE WHEN id = 6 THEN NULL ELSE cast(id * 997 AS string) END AS key",
      "id * 997 AS nk",
      "CASE WHEN id = 6 THEN NULL ELSE id / 7.0D END AS q",
      "CASE WHEN id = 6 THEN NULL ELSE id * 150.0D - 300.0D END AS v",
      "CASE WHEN id = 6 THEN NULL ELSE 4000.0D + id * 600.0D END AS t",
      "CASE WHEN id = 6 THEN NULL ELSE cast(id + 1 AS int) END AS b")
      .repartition(1).crossJoin(fx)
  }

  /** A blob renders as its hash, and so does a long answer. */
  private def render(v: Any): String = v match {
    case b: Array[Byte] => sha(b)
    case other =>
      val s = String.valueOf(other)
      if (s.length <= 40) s else "#" + sha(s.getBytes("UTF-8"))
  }

  /** Runs `call` over the probe rows with each `${name}` placeholder
    * bound to a sketch column, then to the sketch as a literal. */
  private def answers(call: String): (Seq[String], Seq[String], DataType) = {
    val asColumn = call.replaceAll("""\$\{(\w+)\}""", "$1")
    val asLiteral = """\$\{(\w+)\}""".r.replaceAllIn(call, m => s"X'${hex(sketches(m.group(1)))}'")
    def run(e: String): DataFrame = probes.selectExpr("id", s"$e AS r").orderBy("id")
    val col = run(asColumn)
    (col.collect().map(r => render(r.get(1))).toSeq,
      run(asLiteral).collect().map(r => render(r.get(1))).toSeq,
      col.schema("r").dataType)
  }

  private val ebfInfo = StructType(Seq(
    StructField("level", IntegerType, nullable = false),
    StructField("numBuckets", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("bitsSet", IntegerType, nullable = false),
    StructField("fpWidth", IntegerType, nullable = false),
    StructField("fprBound", DoubleType, nullable = false),
    StructField("sizeBytes", IntegerType, nullable = false)))
  private val buckets = ArrayType(StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("lo", DoubleType, nullable = false),
    StructField("hi", DoubleType, nullable = false),
    StructField("rows_est", LongType, nullable = false))), containsNull = true)
  private val items = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = true),
    StructField("est", LongType, nullable = false))), containsNull = true)

  /** (call, golden answers for rows 0..7 or the one answer of every
    * row, result type). */
  private val cases: Seq[(String, String, DataType)] = Seq(
    ("ebf_might_contain(${ebf}, key)", "true true true true false false false false", BooleanType),
    ("ebf_might_contain(${ebf}, nk)", "true true true true false false false false", BooleanType),
    ("ebf_expand(${ebf})", "2e6e23be566978df", BinaryType),
    ("ebf_compress(ebf_expand(${ebf}))", "4b388be6414039db", BinaryType),
    ("ebf_delete(${ebf}, nk)",
      "db9c8c6958067977 b6ed64e92744f96c 16be5170b80f252a 3f0d6e41b4f70ac1 " +
        "4b388be6414039db 4b388be6414039db 4b388be6414039db 4b388be6414039db",
      BinaryType),
    ("ebf_info(${ebf})", "#1bef211b3111f4c4", ebfInfo),
    ("ebf_fpr(${ebf})", "0.006685324313640253", DoubleType),
    ("hll_estimate(${hll})", "2843", LongType),
    ("sample_keys(${bks})", "#0372e7da57794661", ArrayType(StringType, containsNull = true)),
    ("sample_size(${bks})", "8", IntegerType),
    ("theta_estimate(${th1})", "2594", LongType),
    ("theta_intersect_estimate(${th1}, ${th2})", "1294", LongType),
    ("theta_diff_estimate(${th1}, ${th2})", "1360", LongType),
    ("theta_jaccard(${th1}, ${th2})", "0.23927824121839297", DoubleType),
    ("theta_merge(${th1}, ${th2})", "0a2efeb4d378c92f", BinaryType),
    ("cms_estimate(${cms}, key)", "14 20 7 3 7 15 0 7", LongType),
    ("cms_estimate(${cms}, nk)", "14 20 7 3 7 15 17 7", LongType),
    ("cms_total(${cms})", "4000", LongType),
    ("cms_inner_product(${cms}, ${cms2})", "69726", LongType),
    ("cs_estimate(${cs}, key)", "7 2 3 -6 1 5 0 1", LongType),
    ("cs_estimate(${cs}, nk)", "7 2 3 -6 1 5 -7 1", LongType),
    ("cs_total(${cs})", "3995", LongType),
    ("cs_inner_product(${cs}, ${cs2})", "8354.0", DoubleType),
    ("cs_f2(${cs})", "13919.0", DoubleType),
    ("dcms_estimate(${dcms}, key, t)",
      "12.508273892196621 14.766600186731878 4.673794368479787 1.4566519730490775 " +
        "3.084971353521449 7.891942536954922 null 2.638539214542565",
      DoubleType),
    ("dcms_estimate(${dcms}, nk, 5000.5)",
      "10.316589006436509 13.670705551137392 4.856816327657752 1.6990632496742875 " +
        "4.039025047714646 11.597943564722756 12.502519533036171 4.885443125838954",
      DoubleType),
    ("dcms_total(${dcms}, t)",
      "3381.268184014298 3012.367490827051 2683.71433614545 2390.9176619268333 " +
        "2130.065480189713 1897.6726058560014 null 1506.1837454135255",
      DoubleType),
    ("dcms_total(${dcms}, 5000.5)", "2788.8063913261094", DoubleType),
    ("kll_quantile(${kll}, q)",
      "-1032.7739318481074 -231.6364522636324 -81.23747639837259 33.62954803671863 " +
        "146.79917574539397 256.1010686964355 null 1131.5818665966501",
      DoubleType),
    ("kll_quantile(${kll}, 0.25)", "-121.53329309980455", DoubleType),
    ("kll_rank(${kll}, v)", "0.09 0.2164 0.378 0.5758 0.7544 0.8862 null 0.9996", DoubleType),
    ("kll_histogram(${kll}, b)",
      "#cd0d9b4849af16b0 #0f1684ff3905eab2 #2e8db9b486e375b9 #82a56dbaa72f93e3 " +
        "#cff39fa9cb987b20 #b98ed51eaa1dc45f null #c589a49236405580",
      buckets),
    ("kll_histogram(${kll}, cast(3 AS smallint))", "#2e8db9b486e375b9", buckets),
    ("tdigest_quantile(${td}, q)",
      "-1032.7739318481074 -223.83762530761555 -70.70858031430538 41.65903891571922 " +
        "149.1639699902252 266.146103995948 null 1131.5818665966501",
      DoubleType),
    ("tdigest_quantile(${td}, 0.9)", "479.5462526893085", DoubleType),
    ("tdigest_cdf(${td}, v)",
      "0.09106217290479622 0.20714812896700788 0.37296672849402396 0.5725269707805447 " +
        "0.75026953737706 0.8787047592855329 null 0.9849232322638293",
      DoubleType),
    ("topk_items(${fs}, b)",
      "ArraySeq([997,271]) ArraySeq([997,271], [1994,31]) ArraySeq([997,271], " +
        "[1994,31], [476,1]) ArraySeq([997,271], [1994,31], [476,1]) ArraySeq([997,271], " +
        "[1994,31], [476,1]) ArraySeq([997,271], [1994,31], [476,1]) null " +
        "ArraySeq([997,271], [1994,31], [476,1])",
      items),
    ("topk_items(${fs}, cast(2 AS smallint))",
      "ArraySeq([997,271], [1994,31])",
      items),
    ("topk_estimate(${fs}, key)", "0 271 31 0 0 0 0 0", LongType),
    ("topk_estimate(${fs}, nk)", "0 271 31 0 0 0 0 0", LongType),
    ("topk_error(${fs})", "129", LongType))

  for ((call, expected, dataType) <- cases) test(call) {
    val (col, lit, dt) = answers(call)
    assert((if (col.distinct.size == 1) col.head else col.mkString(" ")) === expected,
      "column form")
    assert(lit === col, "literal form")
    assert(dt === dataType, "result type")
  }
}
