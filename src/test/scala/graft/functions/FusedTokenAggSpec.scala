package graft.functions

import graft.core.{Cms, FreqSketch}
import graft.plans.{CmsTokensKind, CmsTopkTokensKind, SketchAgg, TopKTokensKind}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused phase-2 aggregator (CMS + Misra-Gries over text tokens in
  * one pass) must be equivalent to the standalone aggregators it fuses
  * and to single-thread kernel folds: byte-identical CMS, identical
  * heavy-hitter extraction. */
class FusedTokenAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private def corpus = {
    // Zipf-ish token mix across 3 langs, 40 distinct tokens
    spark.range(3000).select(
      concat(lit("l"), col("id") % 3).as("lang"),
      concat_ws(" ",
        concat(lit("w"), pmod(xxhash64(col("id"), lit(1)), lit(40))),
        concat(lit("w"), pmod(xxhash64(col("id"), lit(2)), lit(12))),
        concat(lit("w"), pmod(xxhash64(col("id"), lit(3)), lit(4)))).as("text"))
  }

  private def fused(text: Column): Column =
    SketchAgg.column(Seq(text), CmsTopkTokensKind(5, 1024, 64, Graft.SketchSeed))

  test("fused CMS+MG equals the standalone aggregators per group") {
    val rows = corpus.groupBy("lang")
      .agg(fused(col("text")).as("tok"),
        SketchAgg.column(Seq(col("text")), CmsTokensKind(5, 1024, Graft.SketchSeed)).as("cms"),
        SketchAgg.column(Seq(col("text")), TopKTokensKind(64)).as("topk"),
        collect_list(col("text")).as("texts"))
      .collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val tok = r.getStruct(1)
      assert(java.util.Arrays.equals(tok.getAs[Array[Byte]]("cms"),
        r.getAs[Array[Byte]]("cms")), s"CMS bytes differ for ${r.getString(0)}")
      val fusedTop = FreqSketch.fromBytes(tok.getAs[Array[Byte]]("topk")).topK(20)
      val aloneTop = FreqSketch.fromBytes(r.getAs[Array[Byte]]("topk")).topK(20)
      assert(fusedTop === aloneTop, s"top-20 differs for ${r.getString(0)}")
      // and both equal the single-thread kernel folds of the group
      val cms = Cms.empty(5, 1024, Graft.SketchSeed)
      val mg = FreqSketch.empty(64)
      r.getSeq[String](4).foreach { t => cms.addTextTokens(t); mg.addTextTokens(t) }
      assert(java.util.Arrays.equals(tok.getAs[Array[Byte]]("cms"), cms.toBytes),
        s"CMS differs from the kernel fold for ${r.getString(0)}")
      assert(fusedTop === mg.topK(20), s"top-20 differs from the kernel fold for ${r.getString(0)}")
    }
  }

  test("fused heavy hitters are exact when vocabulary fits capacity") {
    val sk = corpus.agg(fused(col("text")).as("tok"))
      .select(col("tok.topk")).head.getAs[Array[Byte]](0)
    val got = FreqSketch.fromBytes(sk).topK(10).toMap
    val exact = corpus
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count()
      .orderBy(col("count").desc, col("t").asc).limit(10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 40 distinct tokens < 64 counters: Misra-Gries degrades to exact
    assert(got === exact)
    val cmsBytes = corpus.agg(fused(col("text")).as("tok"))
      .select(col("tok.cms")).head.getAs[Array[Byte]](0)
    val cms = Cms.fromBytes(cmsBytes)
    exact.foreach { case (t, c) => assert(cms.estimate(t) >= c) }
  }
}
