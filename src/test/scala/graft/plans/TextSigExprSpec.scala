package graft.plans

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r6 — native text-signature expressions vs the retired-UDF Scala
  * kernels: signatures, band hashes, signature Jaccard, simhash and
  * winnow fingerprints must be BYTE-IDENTICAL on adversarial inputs
  * (multi-space runs, leading/trailing spaces, unicode incl.
  * supplementary chars, sub-shingle-length and empty texts) — the
  * contract that lets every dedup oracle stay green unchanged. */
class TextSigExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val texts: Seq[String] = {
    val rnd = new scala.util.Random(0x515L)
    val words = Seq("the", "quick", "brown", "fox", "jumps", "über",
      "naïve", "汉字", "😀ok", "a", "bb", "ccc", "", "x1")
    val structured = Seq(
      "", " ", "   ", "one", "one two", "one two three",
      "a  double  space", " leading", "trailing ", "  both  ",
      "tab\tis not a space separator here",
      "über naïve 汉字 mixed 😀ok tokens")
    structured ++ (1 to 40).map { _ =>
      val n = 1 + rnd.nextInt(30)
      (1 to n).map(_ => words(rnd.nextInt(words.length)))
        .mkString(if (rnd.nextBoolean()) " " else "  ")
    }
  }

  test("minhash signature matches TextFunctions.minhash byte-for-byte") {
    import spark.implicits._
    val df = texts.toDF("t")
    val got = df.select(MinhashSigExpr.column(col("t"), 64, 3).as("sig"))
      .collect().map(_.getSeq[Long](0).toArray)
    val want = texts.map(t => TextFunctions.minhash(t, 64, 3))
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.sameElements(w), s"text ${i}: '${texts(i)}'")
    }
  }

  test("band hashes match the retired band-UDF formula") {
    import spark.implicits._
    val numBands = 16
    val rows = 4
    val df = texts.toDF("t")
    val got = df.select(MinhashBandsExpr.column(
        MinhashSigExpr.column(col("t"), numBands * rows, 3), numBands, rows).as("b"))
      .collect().map(_.getSeq[Long](0).toArray)
    val want = texts.map { t =>
      val sig = TextFunctions.minhash(t, numBands * rows, 3)
      Array.tabulate(numBands) { b =>
        var h = 1125899906842597L
        (0 until rows).foreach(r => h = h * 31 + sig(b * rows + r))
        h
      }
    }
    got.zip(want).foreach { case (g, w) => assert(g.sameElements(w)) }
  }

  test("signature jaccard matches TextFunctions.minhashJaccard") {
    import spark.implicits._
    val pairs = texts.zip(texts.reverse)
    val df = pairs.toDF("a", "b")
    val got = df.select(MinhashJaccardExpr.column(
        MinhashSigExpr.column(col("a"), 64, 3),
        MinhashSigExpr.column(col("b"), 64, 3)).as("j"))
      .collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) =>
      TextFunctions.minhashJaccard(
        TextFunctions.minhash(a, 64, 3), TextFunctions.minhash(b, 64, 3))
    }
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("simhash matches TextFunctions.simhash (split-semantics edges)") {
    import spark.implicits._
    val df = texts.toDF("t")
    val got = df.select(SimhashExpr.column(col("t")).as("h"))
      .collect().map(_.getLong(0))
    val want = texts.map(TextFunctions.simhash)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"text ${i}: '${texts(i)}'")
    }
  }

  test("winnow fingerprints match TextFunctions.winnowFingerprints") {
    import spark.implicits._
    val df = texts.toDF("t")
    val got = df.select(WinnowFpExpr.column(col("t"), 16, 8).as("f"))
      .collect().map(_.getSeq[String](0))
    val want = texts.map(t => TextFunctions.winnowFingerprints(t, 16, 8).toSeq)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("null text follows kernel pass-through semantics (non-nullable outputs)") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a b c")).toDF("t")
    val rows = df.select(
      MinhashSigExpr.column(col("t"), 8, 3).as("sig"),
      SimhashExpr.column(col("t")).as("sh"),
      WinnowFpExpr.column(col("t"), 16, 8).as("fp")).collect()
    val nullRow = rows(0)
    assert(nullRow.getSeq[Long](0) == Seq.fill(8)(Long.MaxValue))
    assert(nullRow.getLong(1) == 0L)
    assert(nullRow.getSeq[String](2).isEmpty)
  }

  test("signatures too short for the call fail named for the function, generated and interpreted") {
    def failsAs(name: String)(c: Column): Unit = {
      val e = intercept[Throwable](spark.range(4).select(c).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists {
        case iae: IllegalArgumentException => iae.getMessage.startsWith(s"$name: ")
        case _ => false
      }, chain.map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n"))
    }
    val id = col("id")
    def checkAll(): Unit = {
      failsAs("graft_minhash_jaccard")(
        MinhashJaccardExpr.column(array(id, id + 1, id + 2, id + 3), array(id)))
      failsAs("graft_minhash_jaccard")(MinhashJaccardExpr.column(array(id), array(id, lit(7L))))
      failsAs("graft_minhash_bands")(MinhashBandsExpr.column(array(id, id), 3, 2))
      // equal lengths, and a signature at least bands x rows long, still answer
      assert(spark.range(4).select(
          MinhashJaccardExpr.column(array(id, lit(1L)), array(id, lit(2L))),
          size(MinhashBandsExpr.column(array(id, id, id), 1, 2)))
        .collect().map(r => (r.getDouble(0), r.getInt(1))).toSeq === Seq.fill(4)((0.5, 1)))
    }
    checkAll()
    val modes = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    modes.foreach { case (k, v) => spark.conf.set(k, v) }
    try checkAll()
    finally modes.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
