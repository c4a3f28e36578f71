package graft

import graft.core.{Cms, Ebf, FreqSketch, Hash128, Hll, Kll, ShardedEbf, TDigest}
import graft.data.WebPagesGen
import graft.functions.Graft
import graft.pipeline.{Flagship, SaltedAgg, ShardedProbe}
import graft.plans.{BatchedTokenBuf, CmsTopkTokensKind, KllKind, SketchAgg, TDigestKind}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The flagship's sketch aggregates against single-thread `graft.core`
  * folds over the same rows: byte-identical wherever the sketch is
  * independent of insertion and merge order (EBF, HLL, CMS), and at the
  * published guarantee where it is not (Misra-Gries). KLL and t-digest
  * bytes depend on the merge tree, so the fused per-host build is
  * checked against the standalone `kll_agg`/`tdigest_agg` kinds riding
  * the SAME salted two-stage aggregation. */
class NativeSketchAggsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private lazy val wp: DataFrame = {
    val path = WebPagesGen.ensureTable(spark, "/root/repo/data/webpages/spec_native",
      4000L, 300)
    spark.read.parquet(path)
  }

  private lazy val urls: Array[String] =
    wp.select(col("url")).collect().map(_.getString(0))

  private def hostOf(url: String): String = url.split("/")(2)

  test("sharded EBF build: hash-fed agg byte-identical to per-shard kernel folds") {
    val got = ShardedProbe.buildShardTable(wp, col("url"), 8)
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    def route(url: String): Int =
      java.lang.Math.floorMod(Hash128.hash64(url, ShardedEbf.DefaultRouteSeed), 8L).toInt
    val ref = urls.filter(_ != null).groupBy(route).map { case (s, us) =>
      val e = Ebf.empty(4096, 5, 16, 1, 8, Graft.SketchSeed)
      us.foreach(e.insert)
      s -> e.toBytes.toSeq
    }
    assert(got.size === 8)
    assert(got === ref)
  }

  test("per-host fused sketches: native agg byte-identical through salted two-stage") {
    val withHost = wp.select(col("lang"), col("url"),
      graft.plans.Hash128Expr.h1(col("url"), Graft.SketchSeed).as("__h1"),
      graft.plans.Hash128Expr.h2(col("url"), Graft.SketchSeed).as("__h2"),
      length(col("text")).cast("double").as("text_len"),
      substring_index(substring_index(col("url"), "/", 3), "/", -1).as("host"))
    // the standalone quantile kinds ride the same aggregation, so they
    // see the same rows in the same merge tree as the fused buffer
    val specs = Flagship.perHostNativeSpecs ++ Seq(
      SaltedAgg.SketchSpec("kll", SketchAgg.column(Seq(col("text_len")), KllKind(160)),
        "kll_merge_agg"),
      SaltedAgg.SketchSpec("td", SketchAgg.column(Seq(col("text_len")), TDigestKind(50.0)),
        "tdigest_merge_agg"))
    val rows = SaltedAgg.adaptiveSketchAgg(withHost, Seq("lang", "host"), col("__h1"), 8,
      specs, hotRowThreshold = 200L)
      .select(col("lang"), col("host"), col("sk.ebf"), col("sk.hll"),
        col("sk.kll"), col("sk.td"), col("kll"), col("td"))
      .collect()
    val byGroup = wp.select(col("lang"), col("url")).collect()
      .groupBy(r => (r.getString(0), hostOf(r.getString(1))))
    assert(rows.length === byGroup.size && rows.nonEmpty)
    rows.foreach { r =>
      val g = (r.getString(0), r.getString(1))
      val ebf = Ebf.empty(128, 5, 16, 1, 8, Graft.SketchSeed)
      val hll = Hll.empty(10, Graft.SketchSeed)
      byGroup(g).foreach { x => ebf.insert(x.getString(1)); hll.add(x.getString(1)) }
      assert(r.getAs[Array[Byte]](2).toSeq === ebf.toBytes.toSeq, s"ebf differs for $g")
      assert(r.getAs[Array[Byte]](3).toSeq === hll.toBytes.toSeq, s"hll differs for $g")
      assert(r.getAs[Array[Byte]](4).toSeq === r.getAs[Array[Byte]](6).toSeq, s"kll differs for $g")
      assert(r.getAs[Array[Byte]](5).toSeq === r.getAs[Array[Byte]](7).toSeq, s"td differs for $g")
      assert(Kll.fromBytes(r.getAs[Array[Byte]](4)).n === byGroup(g).length.toLong)
    }
  }

  private lazy val textsByLang: Map[String, Array[String]] =
    wp.select(col("lang"), col("text")).collect()
      .groupBy(_.getString(0)).map { case (l, rs) => l -> rs.map(_.getString(1)) }

  test("token CMS+MG: batched kernel matches per-lang kernel folds") {
    val got = wp.groupBy("lang")
      .agg(SketchAgg.column(Seq(col("text")), CmsTopkTokensKind(5, 1024, 64, Graft.SketchSeed))
        .as("tok"))
      .select(col("lang"), col("tok.cms"), col("tok.topk"))
      .collect()
    assert(got.length === textsByLang.size && got.nonEmpty)
    got.foreach { r =>
      val lang = r.getString(0)
      val texts = textsByLang(lang)
      val cms = Cms.empty(5, 1024, Graft.SketchSeed)
      texts.foreach(cms.addTextTokens)
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1), cms.toBytes), s"cms differs lang=$lang")
      // Misra-Gries is order-dependent beyond capacity: check its
      // guarantee against exact token counts
      val mg = FreqSketch.fromBytes(r.getAs[Array[Byte]](2))
      val exact = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (t, ts) => t -> ts.length.toLong }
      assert(mg.n === exact.values.sum)
      exact.toSeq.sortBy(-_._2).take(10).foreach { case (t, c) =>
        val est = mg.estimate(t)
        assert(est <= c && est >= c - mg.maxError, s"MG bound broken for $t in $lang")
      }
    }
    // the batched CMS kernel is bit-identical to unbatched at any batch
    // size, and MG is untouched by batching (same insertion order here)
    val texts = textsByLang.values.flatten.toArray
    val plain = Cms.empty(5, 1024, Graft.SketchSeed)
    val plainMg = FreqSketch.empty(64, Graft.SketchSeed)
    texts.foreach { t =>
      plain.addTextTokens(t)
      val b = t.getBytes("UTF-8")
      var s = 0
      for (i <- 0 to b.length) if (i == b.length || b(i) == ' ') {
        if (i > s) plainMg.addRangeHashed(b, s, i - s, 1L,
          Hash128.hashBytesRange(b, s, i - s, Graft.SketchSeed).h1)
        s = i + 1
      }
    }
    for (batch <- Seq(1, 64, 512)) {
      val buf = BatchedTokenBuf.empty(5, 1024, 64, Graft.SketchSeed, batch)
      texts.foreach(t => buf.addTokens(t.getBytes("UTF-8")))
      val Array(cms, topk) = buf.sketches
      assert(java.util.Arrays.equals(cms, plain.toBytes), s"cms differs batch=$batch")
      assert(java.util.Arrays.equals(topk, plainMg.toBytes), s"topk differs batch=$batch")
    }
  }

  test("fused phase-1+2 (observe side channel) matches the grouped builds") {
    // the side-channel token sketches must match the groupBy-built
    // ones: CMS byte-identically (commutative adds), MG at the
    // heavy-hitter level (merge-order guarantee); host groups equal
    // the exact distinct (lang, host) count
    val (hostGroups, langGroups, tops, _, _) = Flagship.phase12Fused(wp, 8)
    val exactGroups = wp.select(col("lang"),
        substring_index(substring_index(col("url"), "/", 3), "/", -1).as("host"))
      .agg(countDistinct(col("lang"), col("host"))).head.getLong(0)
    assert(hostGroups === exactGroups)
    val grouped = wp.groupBy("lang")
      .agg(SketchAgg.column(Seq(col("text")), CmsTopkTokensKind(5, 16384, 256, Graft.SketchSeed))
        .as("tok"))
      .select(col("lang"), col("tok.cms"), col("tok.topk"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))).toMap
    assert(langGroups === grouped.size.toLong)
    // re-run the fused side channel to get its cms bytes directly
    val obs = org.apache.spark.sql.Observation()
    wp.observe(obs, graft.plans.PerLangTokenSketchesAgg.column(
        col("lang"), col("text"), 5, 16384, 256, Graft.SketchSeed, 512).as("tok"))
      .write.format("noop").mode("overwrite").save()
    val fusedMap = obs.get("tok")
      .asInstanceOf[scala.collection.Map[String, org.apache.spark.sql.Row]]
    assert(fusedMap.keySet === grouped.keySet)
    fusedMap.foreach { case (lang, r) =>
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("cms"), grouped(lang)._1),
        s"cms differs for $lang")
      val fusedTop = FreqSketch.fromBytes(r.getAs[Array[Byte]]("topk"))
        .topK(10).map(_._1).toSet
      val groupedTop = FreqSketch.fromBytes(grouped(lang)._2)
        .topK(10).map(_._1).toSet
      assert(fusedTop === groupedTop, s"heavy hitters differ for $lang")
    }
    assert(tops.keySet === grouped.keySet)
  }

  test("batched buffer flushes pending tokens on serialize") {
    val kind = CmsTopkTokensKind(3, 64, 8, 42L)
    val buf = kind.empty()
    buf.addTokens("a b c".getBytes("UTF-8"))
    assert(buf.pending === 3) // still unflushed (batch 512)
    val back = kind.fromBytes(kind.toBytes(buf))
    assert(back.cms.total === 3L)
    assert(back.cms.estimate("b") === 1L)
  }
}
