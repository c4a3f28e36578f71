package graft

import graft.core._
import graft.data.WebPagesGen
import graft.functions.Graft
import graft.pipeline.{CheckpointRunner, SaltedAgg}
import graft.pipeline.SaltedAgg.SketchSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SparkPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private lazy val wp = WebPagesGen.dataset(spark, 5000L, numHosts = 200).toDF().cache()

  private val specs = Seq(
    SketchSpec("ebf", expr("ebf_agg(url)"), "ebf_merge_agg"),
    SketchSpec("hll", expr("hll_agg(url)"), "hll_merge_agg"),
    SketchSpec("cms", expr("cms_agg(lang)"), "cms_merge_agg"))

  test("flagship entry returns one row per lang") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length === 5)
    assert(rows.map(_.getAs[String]("lang")).toSeq.sorted ===
      Seq("de", "en", "es", "fr", "zh"))
  }

  test("sketch bytes identical across partitionings (2 vs 7 partitions)") {
    def build(parts: Int) =
      wp.repartition(parts).groupBy("lang")
        .agg(expr("ebf_agg(url)").as("ebf"), expr("hll_agg(url)").as("hll"))
        .collect().map(r => r.getString(0) ->
          (r.getAs[Array[Byte]](1).toSeq, r.getAs[Array[Byte]](2).toSeq)).toMap
    assert(build(2) === build(7))
  }

  test("salted two-stage aggregation is byte-identical to plain (Zipf host skew)") {
    val withHost = wp.withColumn("host", parse_url(col("url"), lit("HOST")))
    val plain = SaltedAgg.plainAgg(withHost, Seq("host"), specs)
      .collect().map(r => r.getString(0) -> r.toSeq.tail.map(_.asInstanceOf[Array[Byte]].toSeq)).toMap
    val salted = SaltedAgg.sketchAgg(withHost, Seq("host"), col("url"), 8, specs)
      .collect().map(r => r.getString(0) -> r.toSeq.tail.map(_.asInstanceOf[Array[Byte]].toSeq)).toMap
    assert(plain.keySet === salted.keySet)
    assert(plain === salted)
  }

  test("adaptive salting (hot-only) is byte-identical to plain") {
    val withHost = wp.withColumn("host", parse_url(col("url"), lit("HOST")))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.toSeq.tail.map(_.asInstanceOf[Array[Byte]].toSeq)).toMap
    val plain = toMap(SaltedAgg.plainAgg(withHost, Seq("host"), specs))
    val adaptive = toMap(SaltedAgg.adaptiveSketchAgg(withHost, Seq("host"), col("url"),
      8, specs, hotRowThreshold = 50L, sampleFraction = 0.1))
    assert(plain === adaptive)
  }

  // the flagship's per-(lang, host) input: url, its hash halves, text_len
  private def hostInput = wp
    .select(col("lang"), col("url"),
      graft.plans.Hash128Expr.h1(col("url"), Graft.SketchSeed).as("__h1"),
      graft.plans.Hash128Expr.h2(col("url"), Graft.SketchSeed).as("__h2"),
      length(col("text")).cast("double").as("text_len"))
    .withColumn("host", parse_url(col("url"), lit("HOST")))

  test("fused per-host aggregator is byte-identical to the four separate aggregators") {
    import graft.pipeline.Flagship
    import graft.plans.{EbfKind, HllKind, KllKind, SketchAgg, TDigestKind}
    def run(specs: Seq[SaltedAgg.SketchSpec], flatten: Boolean) = {
      val df = SaltedAgg.adaptiveSketchAgg(hostInput, Seq("lang", "host"), col("url"),
        8, specs, hotRowThreshold = 50L, sampleFraction = 0.1)
      val cols =
        if (flatten) Seq(col("lang"), col("host"), col("sk.ebf"), col("sk.hll"),
          col("sk.kll"), col("sk.td"))
        else Seq(col("lang"), col("host"), col("ebf"), col("hll"), col("kll"), col("td"))
      df.select(cols: _*).collect().map(r =>
        (r.getString(0), r.getString(1)) ->
          (2 to 5).map(r.getAs[Array[Byte]](_).toSeq)).toMap
    }
    // the four sketches built separately, at the fused aggregate's
    // per-group parameters, EBF and HLL fed the url string itself
    val separateSpecs = Seq(
      SketchSpec("ebf", SketchAgg.column(Seq(col("url")),
        EbfKind(128, 5, 16, 1, 8, Graft.SketchSeed)), "ebf_merge_agg"),
      SketchSpec("hll", SketchAgg.column(Seq(col("url")), HllKind(10, Graft.SketchSeed)),
        "hll_merge_agg"),
      SketchSpec("kll", SketchAgg.column(Seq(col("text_len")), KllKind(160)), "kll_merge_agg"),
      SketchSpec("td", SketchAgg.column(Seq(col("text_len")), TDigestKind(50.0)),
        "tdigest_merge_agg"))
    val fused = run(Flagship.perHostNativeSpecs, flatten = true)
    val separate = run(separateSpecs, flatten = false)
    assert(fused.keySet === separate.keySet)
    assert(fused === separate)
  }

  test("weighted t-digest quantile tracks the exact weighted median") {
    // values 1..1000 with weight = value: mass below c is c(c+1)/2, so
    // the weighted median sits at c ~ 1000/sqrt(2) ~ 707
    val df = spark.range(1, 1001).select(
      col("id").cast("double").as("v"), col("id").as("w"))
    val est = df.agg(expr("tdigest_quantile(tdigest_weighted_agg(v, w), 0.5D)"))
      .head.getDouble(0)
    assert(math.abs(est - 707.1) / 707.1 < 0.05, s"weighted median est $est")
  }

  private def rmrf(path: String): Unit = graft.util.GraftFiles.deleteRecursively(path)

  test("checkpoint kill + resume equals single-shot build") {
    val dir = java.nio.file.Files.createTempDirectory("graft_test_ckpt").toString
    try {
      val killed = CheckpointRunner.run(spark, wp, col("url"), 4, Seq("lang"), specs,
        dir, stopAfter = 2)
      assert(killed == null)
      assert(CheckpointRunner.readManifest(dir).size === 2)
      val resumed = CheckpointRunner.run(spark, wp, col("url"), 4, Seq("lang"), specs, dir)
      val single = SaltedAgg.plainAgg(wp, Seq("lang"), specs)
      val r = resumed.select("lang", "ebf", "hll", "cms").collect()
        .map(x => x.getString(0) -> x.toSeq.tail.map(_.asInstanceOf[Array[Byte]].toSeq)).toMap
      val s = single.collect()
        .map(x => x.getString(0) -> x.toSeq.tail.map(_.asInstanceOf[Array[Byte]].toSeq)).toMap
      assert(r === s)
      val manifest = CheckpointRunner.readManifest(dir)
      assert(manifest.size === 4)
      assert(manifest.map(_.rows).sum === 5000L)
    } finally rmrf(dir)
  }

  test("aggregation plan uses ObjectHashAggregate and prunes unused columns") {
    val plan = wp.groupBy("lang").agg(expr("hll_agg(url)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
  }

  test("parquet scan prunes the heavy html column when not referenced") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wp_prune").toString
    try {
      wp.write.mode("overwrite").parquet(dir)
      val q = spark.read.parquet(dir).groupBy("lang").agg(expr("ebf_agg(url)"))
      val scan = q.queryExecution.executedPlan.toString
      val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(readSchema.contains("url"), readSchema)
      assert(!readSchema.contains("html"), s"html must be pruned from scan: $readSchema")
    } finally rmrf(dir)
  }

  test("lang filter prunes partitions of the lang-partitioned table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wp_part").toString
    try {
      wp.write.mode("overwrite").partitionBy("lang").parquet(dir)
      val q = spark.read.parquet(dir).filter(col("lang") === "de")
        .groupBy("lang").agg(expr("hll_agg(url)"))
      val plan = q.queryExecution.executedPlan.toString
      val partLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(partLine.contains("lang"), s"expected lang partition filter in:\n$plan")
      // only the lang=de directory is scanned
      val cnt = spark.read.parquet(dir).filter(col("lang") === "de").count()
      assert(cnt > 0 && cnt < 5000)
    } finally rmrf(dir)
  }

  test("remaining SQL fns: kll_rank, tdigest_cdf, cms_total, hamming64, ebf_fpr, graft_shard") {
    wp.createOrReplaceTempView("wp_fn_view")
    val row = spark.sql(
      """SELECT kll_rank(kll, med) AS r, tdigest_cdf(td, med) AS c,
        |       cms_total(cms) AS tot, hamming64(7L, 5L) AS ham,
        |       ebf_fpr(ebf) AS fpr, graft_shard('someurl', 16) AS shard
        |FROM (SELECT kll_agg(cast(length(text) as double)) AS kll,
        |             tdigest_agg(cast(length(text) as double)) AS td,
        |             cms_agg(lang) AS cms, ebf_agg(url) AS ebf,
        |             kll_quantile(kll_agg(cast(length(text) as double)), 0.5D) AS med
        |      FROM wp_fn_view)""".stripMargin).head
    assert(math.abs(row.getDouble(0) - 0.5) < 0.05)     // rank of the median
    assert(math.abs(row.getDouble(1) - 0.5) < 0.05)     // cdf at the median
    assert(row.getLong(2) === 5000L)                    // cms total = rows
    assert(row.getInt(3) === 1)                         // 7 xor 5 = 0b010
    assert(row.getDouble(4) > 0 && row.getDouble(4) < 1)
    assert(row.getInt(5) >= 0 && row.getInt(5) < 16)
  }

  test("extract_text invariant: stored text == re-extracted text, everywhere") {
    val bad = wp.filter(expr("extract_text(html)") =!= col("text")).count()
    assert(bad === 0L)
  }

  test("null keys are ignored by build aggregators") {
    import spark.implicits._
    val df = Seq(Some("a"), None, Some("b"), None, Some("a")).toDF("k")
    val bytes = df.select(expr("ebf_agg(k)")).head.getAs[Array[Byte]](0)
    val e = Ebf.fromBytes(bytes)
    assert(e.n === 3)
    assert(e.mightContain("a") && e.mightContain("b"))
    val h = Hll.fromBytes(df.select(expr("hll_agg(k)")).head.getAs[Array[Byte]](0))
    assert(h.estimate === 2L)
  }

  test("sql-registered scalar fns work end-to-end (probe, estimate, quantile)") {
    wp.createOrReplaceTempView("wp_view")
    val row = spark.sql(
      """SELECT ebf_might_contain(ebf, first_url) AS hit,
        |       hll_estimate(hll) AS ndv,
        |       kll_quantile(kll, 0.5D) AS med,
        |       tdigest_quantile(td, 0.5D) AS tmed,
        |       cms_estimate(cms, 'en') AS en_freq
        |FROM (SELECT ebf_agg(url) AS ebf, hll_agg(url) AS hll,
        |             kll_agg(cast(length(text) as double)) AS kll,
        |             tdigest_agg(cast(length(text) as double)) AS td,
        |             cms_agg(lang) AS cms,
        |             min(url) AS first_url
        |      FROM wp_view)""".stripMargin).head
    assert(row.getBoolean(0))
    assert(math.abs(row.getLong(1) - 5000L) < 300)
    assert(row.getDouble(2) > 0 && row.getDouble(3) > 0)
    assert(row.getLong(4) > 1000) // en ~ 40% of 5000
  }

  test("ebf_merge_agg over per-group sketches equals direct global build") {
    val perLang = wp.groupBy("lang").agg(expr("ebf_agg(url)").as("sk"))
    val merged = perLang.agg(expr("ebf_merge_agg(sk)")).head.getAs[Array[Byte]](0)
    val direct = wp.agg(expr("ebf_agg(url)")).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct))
  }

  // --- "shuffle hashes, not strings" equivalences (round 3) ----------

  test("hash-fed flagship phase 1 is byte-identical to the string-fed build") {
    import graft.pipeline.Flagship
    def skMap(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      val s = r.getStruct(r.length - 1)
      (r.getString(0), r.getString(1)) -> (0 until 4).map(s.getAs[Array[Byte]](_))
    }.toMap
    // the string-fed reference: single-thread kernel folds of the url
    // strings (and text lengths) per (lang, host)
    val groups = hostInput.select("lang", "host", "url", "text_len").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
    def check(got: Map[(String, String), IndexedSeq[Array[Byte]]]): Unit = {
      assert(got.keySet === groups.keySet)
      groups.foreach { case (k, rows) =>
        val ebf = Ebf.empty(128, 5, 16, 1, 8, Graft.SketchSeed)
        val hll = Hll.empty(10, Graft.SketchSeed)
        rows.foreach { r => ebf.insert(r.getString(2)); hll.add(r.getString(2)) }
        assert(got(k)(0).toSeq === ebf.toBytes.toSeq, s"EBF differs for $k")
        assert(got(k)(1).toSeq === hll.toBytes.toSeq, s"HLL differs for $k")
        // KLL/t-digest bytes depend on the merge tree (same rule as the
        // library-wide merge laws); their byte identity against the
        // standalone kinds is the fused-vs-separate test above
        assert(Kll.fromBytes(got(k)(2)).n === rows.length.toLong, s"KLL n differs for $k")
        assert(TDigest.fromBytes(got(k)(3)).quantile(1.0) ===
          rows.map(_.getDouble(3)).max, s"t-digest max differs for $k")
      }
    }
    check(skMap(SaltedAgg.plainAgg(hostInput, Seq("lang", "host"), Flagship.perHostNativeSpecs)))
    check(skMap(SaltedAgg.adaptiveSketchAgg(hostInput, Seq("lang", "host"), col("__h1"),
      8, Flagship.perHostNativeSpecs, hotRowThreshold = 100L)))
  }

  test("native graft_shard matches the reference routing and null semantics") {
    import spark.implicits._
    val d = Seq("k1", "k2", null).toDF("k")
    val rows = d.select(col("k"), expr("graft_shard(k, 16)").as("s")).collect()
    rows.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1), "null key must route to null shard")
      else {
        val h = Hash128.hash64(r.getString(0), graft.core.ShardedEbf.DefaultRouteSeed)
        val m = (h % 16).toInt
        assert(r.getInt(1) === (if (m < 0) m + 16 else m))
      }
    }
    // it really is the native expression, not a UDF
    val plan = spark.range(5).select(expr("graft_shard(cast(id as string), 8)"))
      .queryExecution.optimizedPlan
    assert(plan.expressions.exists(_.exists(graft.plans.SketchFn.isA[graft.plans.GraftShard](_))))
    // implicit input cast preserved from the UDF era: non-string keys work
    val viaLong = spark.range(5)
      .select(expr("graft_shard(id, 8)").as("a"),
        expr("graft_shard(cast(id as string), 8)").as("b"),
        expr("graft_hash128_h1(id)").as("h"),
        expr("graft_hash128_h1(cast(id as string))").as("h2"))
      .collect()
    viaLong.foreach { r =>
      assert(r.getInt(0) === r.getInt(1))
      assert(r.getLong(2) === r.getLong(3))
    }
  }

  test("graft_hash128_h1/h2 SQL functions match Hash128.hashString") {
    import spark.implicits._
    val d = Seq("alpha", "beta", null).toDF("k")
    val rows = d.select(col("k"),
      expr("graft_hash128_h1(k)").as("h1"),
      expr("graft_hash128_h2(k)").as("h2"),
      expr("graft_hash128_h1(k, 7L)").as("h1s")).collect()
    rows.foreach { r =>
      if (r.isNullAt(0)) {
        assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
      } else {
        val h = Hash128.hashString(r.getString(0), Graft.SketchSeed)
        assert(r.getLong(1) === h.h1)
        assert(r.getLong(2) === h.h2)
        assert(r.getLong(3) === Hash128.hashString(r.getString(0), 7L).h1)
      }
    }
  }

  test("substring_index host extraction equals parse_url on generated urls") {
    val neq = wp.select(
      parse_url(col("url"), lit("HOST")).as("a"),
      substring_index(substring_index(col("url"), "/", 3), "/", -1).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(neq === 0L)
  }

  test("hash-fed shard table build is byte-identical to the string-fed form") {
    val numShards = 8
    val hashFed = graft.pipeline.ShardedProbe
      .buildShardTable(wp, col("url"), numShards, m0 = 256, clusterFirst = true)
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    // string-fed reference: per-shard single-thread kernel folds
    val strFed = wp.select(col("url")).collect().map(_.getString(0)).filter(_ != null)
      .groupBy(u => java.lang.Math.floorMod(
        Hash128.hash64(u, ShardedEbf.DefaultRouteSeed), numShards.toLong).toInt)
      .map { case (shard, us) =>
        val e = Ebf.empty(256, 5, 16, 1, 8, Graft.SketchSeed)
        us.foreach(e.insert)
        shard -> e.toBytes.toSeq
      }
    assert(hashFed === strFed)
  }
}
