package graft.plans

import graft.core.{Ebf, ShardedEbf}
import graft.functions.Graft
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins every graft scalar that reads no sketch input: the text
  * functions, the text-signature, vector and int8 kernels, the key
  * hash, the shard router, the z-order key, the range bucket and the
  * broadcast sharded probe. On eight fixed-seed rows (null texts,
  * vectors, int8 arrays, doubles, ints and url keys among them) it
  * pins each call's answers and its result type, including implicitly
  * cast arguments and both routes into `simhash64` and
  * `winnow_fingerprints`. It uses only SQL names and the Column
  * facades, so it runs unchanged on two commits; run it on both to
  * check that their scalars agree.
  */
class NativeGoldenSpec extends AnyFunSuite {

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

  private def url(i: Int): String = s"http://h${i % 3}.example/p$i"

  /** Eight rows; each column is null on the row its comment names. */
  private lazy val rows: DataFrame = {
    val r = new scala.util.Random(20261019L)
    val words = Seq("the", "quick", "brown", "fox", "jumps", "über", "naïve", "汉字",
      "😀ok", "a", "bb", "ccc", "x1", "Lorem", "ipsum", "dolor")
    def text(n: Int, sep: String): String =
      Seq.fill(n)(words(r.nextInt(words.length))).mkString(sep)
    val texts = Seq(text(40, " "), text(25, " "), text(12, " "), "one two",
      text(18, "  ") + " ", "", null, text(60, " "))
    val texts2 = texts.map(t =>
      if (t == null) text(30, " ") else t.split(' ').drop(2).mkString(" "))
    def vec(i: Int): Seq[Any] = i match {
      case 5 => Seq(0.5, null, -1.25, 2.0)
      case 7 => Seq(1.0, -2.0, 0.25)
      case _ => Seq.fill(4)(r.nextGaussian())
    }
    def int8(n: Int): Seq[Any] = Seq.fill(n)((r.nextInt(255) - 127).toByte)
    val data = (0 until 8).map { i =>
      Row(i,
        texts(i),                                                   // text: row 6
        if (i == 2) null else texts2(i),                            // text2: row 2
        if (i == 6) null else                                       // html: row 6
          (s"<html><head><title>t$i</title><script>var x=$i;</script></head>" +
            s"<body><p>${texts(i)}</p></body></html>").getBytes("UTF-8"),
        i * 997L,                                                   // nk: never
        if (i == 6) null else url(i),                               // url: row 6
        if (i == 6) null else vec(i),                               // vec: row 6
        if (i == 6) null else int8(8),                              // a8: row 6
        i match {                                                   // b8: row 3
          case 3 => null
          case 4 => int8(7)
          case 5 => int8(7) :+ null
          case _ => int8(8)
        },
        if (i == 6) null else r.nextGaussian() * 3.0,               // d: row 6
        if (i == 6) null else r.nextInt(1 << 10),                   // i1: row 6
        r.nextInt(1 << 10),                                         // i2: never
        if (i == 1) null else r.nextInt(4) + 1,                     // n: row 1
        if (i == 3) null else r.nextLong(),                         // la: row 3
        r.nextLong())                                               // lb: never
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("text", StringType),
      StructField("text2", StringType), StructField("html", BinaryType),
      StructField("nk", LongType), StructField("url", StringType),
      StructField("vec", ArrayType(DoubleType)), StructField("a8", ArrayType(ByteType)),
      StructField("b8", ArrayType(ByteType)), StructField("d", DoubleType),
      StructField("i1", IntegerType), StructField("i2", IntegerType),
      StructField("n", IntegerType), StructField("la", LongType), StructField("lb", LongType)))
    spark.createDataFrame(data.asJava, schema).repartition(1)
  }

  private lazy val centroids: Array[Array[Double]] = {
    val r = new scala.util.Random(7L)
    Array.fill(5)(Array.fill(4)(r.nextGaussian()))
  }

  private lazy val planes: Array[Array[Double]] = {
    val r = new scala.util.Random(11L)
    Array.fill(3 * 4)(Array.fill(4)(r.nextGaussian()))
  }

  private val boundaries = Array(-3.0, -1.0, 0.0, 0.5, 2.0, 2.0, 4.0)

  /** Four shards holding urls 0..3 and 400 other keys, built with the
    * `core` API and broadcast. */
  private lazy val shards = {
    val router = ShardedEbf.fromShardBytes(Seq.empty, 4)
    val built = Array.fill(4)(Ebf.empty(m0 = 64))
    ((0 until 4).map(url) ++ (0 until 400).map(i => s"k$i"))
      .foreach(k => built(router.shardOf(k)).insert(k))
    spark.sparkContext.broadcast(
      ShardedEbf.fromShardBytes(built.indices.map(i => i -> built(i).toBytes), 4))
  }

  /** A long answer renders as its hash. */
  private def render(v: Any): String = {
    val s = String.valueOf(v)
    if (s.length <= 40) s else "#" + sha(s.getBytes("UTF-8"))
  }

  private def answers(c: Column): (Seq[String], DataType) = {
    val df = rows.select(col("id"), c.as("r")).orderBy("id")
    (df.collect().map(r => render(r.get(1))).toSeq, df.schema("r").dataType)
  }

  private val longs = ArrayType(LongType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)
  private val winnowSql = ArrayType(StringType, containsNull = false)

  /** (label, call, golden answers for rows 0..7 or the one answer of
    * every row, result type). */
  private def cases: Seq[(String, () => Column, String, DataType)] = Seq(
    ("extract_text(html)", () => expr("extract_text(html)"),
      "#a8c3a570adc5e465 #f212b3ff1b163120 #8c4b36dc682e0a3d t3 one two " +
        "#0db6620cacdc1726 t5 null #9c6d7aeb4932a0e1", StringType),
    ("lang_id(text)", () => expr("lang_id(text)"), "und en en und en und und en", StringType),
    ("quality_score(text)", () => expr("quality_score(text)"),
      "0.728090395480226 0.7497204724409449 0.6972966101694916 " +
        "0.7177857142857144 0.5627106782106782 0.0 0.0 0.7297007299270073", DoubleType),
    ("token_count(text)", () => expr("token_count(text)"), "40 25 12 2 18 0 0 60", IntegerType),
    ("token_count(nk)", () => expr("token_count(nk)"), "1", IntegerType),
    ("bpe_token_count(text)", () => expr("bpe_token_count(text)"),
      "42 26 13 2 21 0 0 69", IntegerType),
    ("doc_fingerprint(text)", () => expr("doc_fingerprint(text)"),
      "-1548129844787696387 -6072786513018599640 -263053579605036840 " +
        "-5513532484892451315 -6210465382555085748 1125899906842597 0 " +
        "-2308718825749060401", LongType),
    ("top_ngram_count(text, n)", () => expr("top_ngram_count(text, n)"),
      "7 null 1 1 1 0 0 7", IntegerType),
    ("top_ngram_count(text, 2)", () => expr("top_ngram_count(text, 2)"),
      "3 2 1 1 2 0 0 2", IntegerType),
    ("simhash64(text)", () => expr("simhash64(text)"),
      "8440690686429046150 -5394949867935030890 -7917242735732390508 " +
        "5769252419050932289 -1046246786673656321 0 0 -3051372306308979264", LongType),
    ("SimhashExpr.column(text)", () => SimhashExpr.column(col("text")),
      "8440690686429046150 -5394949867935030890 -7917242735732390508 " +
        "5769252419050932289 -1046246786673656321 0 0 -3051372306308979264", LongType),
    ("hamming64(la, lb)", () => expr("hamming64(la, lb)"),
      "28 23 34 null 34 28 36 34", IntegerType),
    ("hamming64(i1, i2)", () => expr("hamming64(i1, i2)"), "5 5 5 5 7 7 null 6", IntegerType),
    ("winnow_fingerprints(text, 4, 3)", () => expr("winnow_fingerprints(text, 4, 3)"),
      "#f005f5c1eef9adb6 #d57091b7a162e9cc #39659fea32590c25 " +
        "ArraySeq(064460140390d901) #96de043d624e872f ArraySeq() ArraySeq() " +
        "#48e964e3d9108e66",
      winnowSql),
    ("winnow_fingerprints(text, n, 3)", () => expr("winnow_fingerprints(text, n, 3)"),
      "#a7b07f573c2aaf80 null #5230df2bbad2a027 #21c3c8c61ee631f6 " +
        "#96de043d624e872f ArraySeq() ArraySeq() #4f1d7f7fd5880c1e",
      winnowSql),
    ("WinnowFpExpr.column(text, 4, 3)", () => WinnowFpExpr.column(col("text"), 4, 3),
      "#f005f5c1eef9adb6 #d57091b7a162e9cc #39659fea32590c25 " +
        "ArraySeq(064460140390d901) #96de043d624e872f ArraySeq() ArraySeq() " +
        "#48e964e3d9108e66",
      strings),
    ("MinhashSigExpr.column(text, 16, 3)", () => MinhashSigExpr.column(col("text"), 16, 3),
      "#4b0700dc54ffb886 #2207a47d2d11fc90 #d096a27430c1e375 " +
        "#63319f78bbae28e1 #d57f330aa991a519 #ef51d7db12e8c6a9 " +
        "#ef51d7db12e8c6a9 #3fbef2cc8a8c9f1d",
      longs),
    ("MinhashBandsExpr.column(sig, 4, 4)", () =>
      MinhashBandsExpr.column(MinhashSigExpr.column(col("text"), 16, 3), 4, 4),
      "#173933f392f1d1ea #ac488f3483cdfa05 #8df7802b4456750b " +
        "#df5b148f31702f56 #a81230738ec38470 #9ad72d7b89830d9d " +
        "#9ad72d7b89830d9d #e68644adefaea0db", longs),
    ("MinhashBandsExpr.column(null sig, 2, 2)", () =>
      MinhashBandsExpr.column(expr("CASE WHEN id <> 4 THEN array(1L, 2L, 3L, 4L) END"), 2, 2),
      "#959fffe9a99dc0c5 #959fffe9a99dc0c5 #959fffe9a99dc0c5 " +
        "#959fffe9a99dc0c5 null #959fffe9a99dc0c5 #959fffe9a99dc0c5 " +
        "#959fffe9a99dc0c5", longs),
    ("MinhashJaccardExpr.column(sig, sig2)", () => MinhashJaccardExpr.column(
      MinhashSigExpr.column(col("text"), 16, 3), MinhashSigExpr.column(col("text2"), 16, 3)),
      "0.9375 0.9375 0.0 0.0 0.9375 1.0 0.0 1.0", DoubleType),
    ("NearestCellExpr.column(vec)", () => NearestCellExpr.column(col("vec"), centroids),
      "0 4 1 0 2 3 null 1", IntegerType),
    ("NearestCellsExpr.column(vec, 3)", () => NearestCellsExpr.column(col("vec"), centroids, 3),
      "ArraySeq(0, 4, 3) ArraySeq(4, 3, 1) ArraySeq(1, 4, 3) ArraySeq(0, 1, 3) " +
        "ArraySeq(2, 3, 1) ArraySeq(3, 0, 1) null ArraySeq(1, 3, 2)",
      ArrayType(IntegerType, containsNull = false)),
    ("LshBucketsExpr.column(vec, 3, 4)", () =>
      LshBucketsExpr.column(col("vec"), planes, 3, 4, 4),
      "ArraySeq(14, 10, 4) ArraySeq(6, 10, 5) ArraySeq(0, 14, 3) ArraySeq(10, 14, 0) " +
        "ArraySeq(1, 5, 14) ArraySeq(15, 6, 12) null ArraySeq(1, 5, 14)", longs),
    ("Int8DotExpr.column(a8, b8)", () => Int8DotExpr.column(col("a8"), col("b8")),
      "-107 -3851 -30931 null null null null -8997", LongType),
    ("Int8SqNormExpr.column(a8)", () => Int8SqNormExpr.column(col("a8")),
      "55412 39593 62034 31030 41291 54373 null 15788", LongType),
    ("Int8SqNormExpr.column(b8)", () => Int8SqNormExpr.column(col("b8")),
      "44276 60053 43185 null 25308 null 45477 38738", LongType),
    ("graft_hash128_h1(url)", () => expr("graft_hash128_h1(url)"),
      "1789353422508055508 2948955524013648364 9190971351192699658 " +
        "-3158666210564496570 -3820754354981504011 6486200065736558898 null " +
        "3059595688412071320", LongType),
    ("graft_hash128_h2(url)", () => expr("graft_hash128_h2(url)"),
      "-6439332391155876692 7513660662778330353 4178971481007577456 " +
        "-8885795802992135446 3510798787934797453 -5048908527458085261 null " +
        "1235684088767410558", LongType),
    ("graft_hash128_h1(url, 7)", () => expr("graft_hash128_h1(url, 7)"),
      "6072414821463430606 -840855303770416690 -3991082977467354762 " +
        "-5300089364147276353 -9043471911438527031 791694012861600348 null " +
        "3689405990771650404", LongType),
    ("graft_hash128_h2(nk, 7L)", () => expr("graft_hash128_h2(nk, 7L)"),
      "7104895809136694627 -4300647852845264095 5486873971308780173 " +
        "-2269905918243581413 -2644967624611407352 -510069685434740691 " +
        "435274307956963366 -850981836426239510", LongType),
    ("graft_hash128_h1(nk)", () => expr("graft_hash128_h1(nk)"),
      "4544639858711684177 -6076468927985510067 4790496437080900153 " +
        "-2756230544666830497 -886062205342562262 -5123087725908648476 " +
        "-4469331567760496501 -7509200942738690800", LongType),
    ("Hash128Expr.h1(url, 42)", () => Hash128Expr.h1(col("url"), 42L),
      "1789353422508055508 2948955524013648364 9190971351192699658 " +
        "-3158666210564496570 -3820754354981504011 6486200065736558898 null " +
        "3059595688412071320", LongType),
    ("Hash128Expr.h2(url, 42)", () => Hash128Expr.h2(col("url"), 42L),
      "-6439332391155876692 7513660662778330353 4178971481007577456 " +
        "-8885795802992135446 3510798787934797453 -5048908527458085261 null " +
        "1235684088767410558", LongType),
    ("graft_shard(url, 8)", () => expr("graft_shard(url, 8)"), "0 5 4 6 4 5 null 0", IntegerType),
    ("graft_shard(nk, 5L)", () => expr("graft_shard(nk, 5L)"), "2 1 0 3 0 1 1 4", IntegerType),
    ("GraftShardExpr(url, 8)", () => GraftShardExpr(col("url"), 8),
      "0 5 4 6 4 5 null 0", IntegerType),
    ("graft_zorder_key(i1, i2, 10)", () => expr("graft_zorder_key(i1, i2, 10)"),
      "538256 206389 160610 220755 604514 718167 null 355196", LongType),
    ("graft_zorder_key(i2, i1, i2, 4)", () => expr("graft_zorder_key(i2, i1, i2, 4)"),
      "2688 466 1349 1159 1349 1175 null 1528", LongType),
    ("ZOrderKeyExpr.column(i1, i2, 6)", () =>
      ZOrderKeyExpr.column(Seq(col("i1"), col("i2")), 6),
      "1680 1589 866 3667 2402 1367 null 2940", LongType),
    ("RangeBucketExpr(d)", () => RangeBucketExpr(col("d"), boundaries),
      "6 7 2 4 1 2 null 7", IntegerType),
    ("EbfShardedProbeExpr.probeColumn(url)", () =>
      EbfShardedProbeExpr.probeColumn(shards, col("url")),
      "true true true true false false false false", BooleanType))

  for ((label, call, expected, dataType) <- cases) test(label) {
    val (got, dt) = answers(call())
    assert((if (got.distinct.size == 1) got.head else got.mkString(" ")) === expected)
    assert(dt === dataType, "result type")
  }
}
