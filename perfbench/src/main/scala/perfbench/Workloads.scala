package perfbench

import graft.core.Ebf
import graft.functions.Graft
import graft.pipeline.{CheckpointRunner, Flagship, SaltedAgg}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** What every workload knows about its run. */
final class Ctx(val seed: Long, val rows: Long, val nproc: Int, val buildDir: String,
                val table: String, val genS: Double)

/** One timed iteration.
  *
  * @param buildS      the part of the wall that builds sketches from the
  *                    input rows; `docs_per_s` is rows / buildS
  * @param bytesPerKey the workload's sketch artifact, bytes per input row
  * @param ops         timed operations attempted
  * @param failures    one entry per operation that threw or failed its check
  * @param extra       workload-specific figures, printed as info lines
  * @param latenciesMs per-operation latencies where the loop has many */
final case class Iter(wallS: Double, buildS: Double, bytesPerKey: Double, ops: Int,
                      failures: Seq[String], extra: Map[String, Double],
                      latenciesMs: Seq[Double] = Nil)

trait Workload {
  def name: String
  /** Table columns this workload reads (the `data.scan` column set). */
  def columns: Seq[String]
  /** Timed operations per iteration, also charged when one throws. */
  def opsPerIteration: Int
  /** Input read/cache and warm-up; runs in every set-up pass. */
  def setup(spark: SparkSession): Unit
  /** Drops what [[setup]] cached, before the session of a pass stops. */
  def release(): Unit = ()
  /** Reference results for the checks and held-out inputs; outside the
    * timed and set-up windows. */
  def reference(spark: SparkSession): Unit = ()
  def iterate(spark: SparkSession, tr: Tracer): Iter

  final def runChecked(spark: SparkSession, tr: Tracer): Iter =
    try iterate(spark, tr)
    catch {
      case e: Exception =>
        Iter(Double.NaN, Double.NaN, Double.NaN, opsPerIteration,
          Seq.fill(opsPerIteration)(s"$name threw: $e"), Map.empty)
    }
}

object Workloads {
  val names: Seq[String] = Seq("crawl_build", "url_filter", "ckpt_rollup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "crawl_build" => new CrawlBuild(ctx)
    case "url_filter" => new UrlFilter(ctx)
    case "ckpt_rollup" => new CkptRollup(ctx)
  }

  /** The generator's urls are scheme://host/path. */
  def hostOf(url: Column): Column = substring_index(substring_index(url, "/", 3), "/", -1)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

/** `Flagship.run`, the paper's job: fused per-(lang, host) sketches with
  * adaptive salting, the per-lang token side channel, the sharded global
  * EBF, and the FPR probe of held-out urls. */
final class CrawlBuild(ctx: Ctx) extends Workload {
  val name = "crawl_build"
  val columns: Seq[String] = Seq("url", "warc_ts", "html", "text", "lang")
  val opsPerIteration = 1
  val NProbes = 100000L

  private var exactHostGroups = -1L
  private var firstTops: Map[String, Seq[String]] = _

  def setup(spark: SparkSession): Unit = {
    spark.read.parquet(ctx.table).agg(sum(length(col("text"))), sum(length(col("html")))).head()
    Flagship.run(spark, ctx.table, nProbes = NProbes / 20)
  }

  override def reference(spark: SparkSession): Unit =
    exactHostGroups = spark.read.parquet(ctx.table)
      .select(col("lang"), Workloads.hostOf(col("url"))).distinct().count()

  def iterate(spark: SparkSession, tr: Tracer): Iter = {
    val t0 = tr.now
    val r = tr.span("flagship.run")(Flagship.run(spark, ctx.table, nProbes = NProbes))
    val wall = (tr.now - t0) / 1e9
    if (tr.enabled) {
      // phase bounds from the library's own per-phase timings, laid
      // back from the end of the call (phase 4 runs last)
      val s = tr.byName("flagship.run").last
      def ns(x: Double) = (x * 1e9).toLong
      val p4 = s.end - ns(r.probeSec)
      val p3 = p4 - ns(r.globalEbfSec)
      val p12 = p3 - ns(r.buildPerHostSec + r.cmsTokensSec)
      tr.addChild(s, "flagship.phase12", p12, p3)
      tr.addChild(s, "flagship.phase3", p3, p4)
      tr.addChild(s, "flagship.phase4", p4, s.end)
    }
    if (firstTops == null) firstTops = r.topTokensPerLang
    val failures = Seq(
      (r.falseNegatives != 0) -> s"${r.falseNegatives} false negatives",
      (r.fprMeasured > r.fprBound) -> s"fpr ${r.fprMeasured} above bound ${r.fprBound}",
      (r.hostGroups != exactHostGroups) -> s"${r.hostGroups} host groups, expected $exactHostGroups",
      (r.topTokensPerLang != firstTops) -> "per-lang top-20 tokens changed between iterations",
    ).collect { case (true, msg) => msg }
    Iter(wall, r.buildPerHostSec + r.cmsTokensSec + r.globalEbfSec,
      r.ebfBytes.toDouble / r.rows, 1, failures.take(1).map(m => s"$name: $m"),
      Map("probe_s" -> r.probeSec, "fpr" -> r.fprMeasured, "fpr_bound" -> r.fprBound,
        "host_groups" -> r.hostGroups.toDouble, "phase12_s" -> r.buildPerHostSec,
        "phase3_s" -> r.globalEbfSec))
  }
}

/** One global filter over the url column (`ebf_agg` through the udaf
  * path), then a closed loop of one client probing frontier batches of
  * 25% members and 75% held-out urls through a broadcast probe UDF. */
final class UrlFilter(ctx: Ctx) extends Workload {
  val name = "url_filter"
  val columns: Seq[String] = Seq("url")
  val Builds = 3
  val Batches = 100
  val BatchSize = 2000
  val opsPerIteration: Int = Builds + Batches

  private var refBytes: Array[Byte] = _
  private var batches: Array[Array[(String, Boolean)]] = _
  private var urls: DataFrame = _
  private var batchDfs: Array[DataFrame] = _
  private var probe: UserDefinedFunction = _
  private var keys = 0L

  override def reference(spark: SparkSession): Unit = {
    import spark.implicits._
    val all = urls.as[String].collect()
    keys = all.length
    val rnd = new scala.util.Random(ctx.seed)
    // the single-thread kernel in a shuffled insertion order; the
    // distributed build must match it byte for byte
    val ref = Ebf.empty(seed = Graft.SketchSeed)
    rnd.shuffle(all.toSeq).foreach(ref.insert)
    refBytes = ref.toBytes
    val perBatch = BatchSize / 4
    val members = rnd.shuffle(all.toSeq).take(Batches * perBatch).toArray
    val others = Data.nonMemberUrls(ctx.seed, Batches * (BatchSize - perBatch))
    batches = Array.tabulate(Batches) { b =>
      val m = members.slice(b * perBatch, (b + 1) * perBatch).map(_ -> true)
      val o = others.slice(b * (BatchSize - perBatch), (b + 1) * (BatchSize - perBatch)).map(_ -> false)
      rnd.shuffle((m ++ o).toSeq).toArray
    }
    batchDfs = batches.map(b => spark.createDataFrame(b.toSeq.map(x => Tuple1(x._1))).toDF("url"))
  }

  private def build(spark: SparkSession): Array[Byte] =
    spark.sql("SELECT ebf_agg(url) FROM pb_urls").head().getAs[Array[Byte]](0)

  /** One frontier batch, one action: the filter's answer per url.
    * Returns (member misses, false positives). */
  private def probeBatch(b: Int): (Long, Long) = {
    val answers = batchDfs(b).select(probe(col("url"))).collect()
    require(answers.length == batches(b).length)
    var missed = 0L
    var falsePos = 0L
    var i = 0
    while (i < answers.length) {
      val hit = answers(i).getBoolean(0)
      if (batches(b)(i)._2) { if (!hit) missed += 1 } else if (hit) falsePos += 1
      i += 1
    }
    (missed, falsePos)
  }

  def setup(spark: SparkSession): Unit = {
    urls = spark.read.parquet(ctx.table).select("url").cache()
    urls.createOrReplaceTempView("pb_urls")
    urls.count()
    probe = Graft.ebfProbe(spark, Ebf.fromBytes(build(spark)))
    val warm = spark.createDataFrame(urls.limit(BatchSize).collect().toSeq.map(r => Tuple1(r.getString(0))))
      .toDF("url")
    for (_ <- 1 to 5) warm.select(probe(col("url"))).collect()
  }

  override def release(): Unit = urls.unpersist(blocking = true)

  def iterate(spark: SparkSession, tr: Tracer): Iter = {
    val failures = ArrayBuffer.empty[String]
    val t0 = tr.now
    val buildSecs = (1 to Builds).map { _ =>
      val s = System.nanoTime()
      val bytes = tr.span("url_filter.build")(build(spark))
      val secs = Workloads.secondsSince(s)
      if (!java.util.Arrays.equals(bytes, refBytes))
        failures += s"$name: ebf_agg bytes differ from the single-thread build"
      secs
    }
    val t1 = tr.now
    val lat = ArrayBuffer.empty[Double]
    var fp = 0L
    tr.span("url_filter.probe") {
      for (b <- batchDfs.indices) {
        val s = System.nanoTime()
        val (missed, falsePos) = tr.span("url_filter.batch")(probeBatch(b))
        lat += (System.nanoTime() - s) / 1e6
        fp += falsePos
        if (missed != 0) failures += s"$name: $missed member misses in a batch"
      }
    }
    val t2 = tr.now
    val buildS = Measure.median(buildSecs)
    val probeS = (t2 - t1) / 1e9
    Iter((t2 - t0) / 1e9, buildS, refBytes.length.toDouble / keys, opsPerIteration,
      failures.toSeq,
      Map("build_keys_per_s" -> keys / buildS,
        "probes_per_s" -> Batches.toDouble * BatchSize / probeS,
        "fpr" -> fp.toDouble / (Batches * (BatchSize - BatchSize / 4)),
        "filter_bytes" -> refBytes.length.toDouble),
      lat.toSeq)
  }
}

/** `CheckpointRunner` over (lang, host, url): a run killed after half its
  * chunks, a resume, and the final merge written to the noop sink. */
final class CkptRollup(ctx: Ctx) extends Workload {
  val name = "ckpt_rollup"
  val columns: Seq[String] = Seq("lang", "url")
  val opsPerIteration = 3
  val Chunks = 8
  val StopAfter = 4
  private val keys = Seq("lang", "host")
  private def specs = Seq(
    SaltedAgg.SketchSpec("ebf", expr("ebf_agg(url)"), "ebf_merge_agg"),
    SaltedAgg.SketchSpec("hll", expr("hll_agg(url)"), "hll_merge_agg"))
  private val dir = Paths.get(ctx.buildDir, "ckpt")

  private var input: DataFrame = _
  private var ref: DataFrame = _

  def setup(spark: SparkSession): Unit = {
    input = spark.read.parquet(ctx.table)
      .select(col("lang"), Workloads.hostOf(col("url")).as("host"), col("url")).cache()
    input.count()
    val warm = dir.resolveSibling("ckpt_warm")
    Workloads.deleteTree(warm)
    CheckpointRunner.run(spark, input.filter(pmod(xxhash64(col("url")), lit(10)) === 0),
      col("url"), 2, keys, specs, warm.toString)
      .write.format("noop").mode("overwrite").save()
    Workloads.deleteTree(warm)
  }

  override def release(): Unit = input.unpersist(blocking = true)

  override def reference(spark: SparkSession): Unit = {
    ref = SaltedAgg.plainAgg(input, keys, specs).cache()
    ref.count()
  }

  def iterate(spark: SparkSession, tr: Tracer): Iter = {
    Workloads.deleteTree(dir)
    val t0 = tr.now
    val killed = tr.span("checkpoint.first")(CheckpointRunner.run(spark, input, col("url"),
      Chunks, keys, specs, dir.toString, stopAfter = StopAfter))
    val t1 = tr.now
    val merged = tr.span("checkpoint.resume")(CheckpointRunner.run(spark, input, col("url"),
      Chunks, keys, specs, dir.toString))
    tr.span("checkpoint.merge")(merged.write.format("noop").mode("overwrite").save())
    val t2 = tr.now
    val failures = ArrayBuffer.empty[String]
    if (killed != null) failures += s"$name: the killed run did not stop after $StopAfter chunks"
    val a = merged.select(col("lang"), col("host"), col("ebf").as("e1"), col("hll").as("h1"))
    val b = ref.select(col("lang"), col("host"), col("ebf").as("e2"), col("hll").as("h2"))
    val differing = a.join(b, keys, "full_outer")
      .filter(!(col("e1") <=> col("e2")) || !(col("h1") <=> col("h2"))).count()
    if (differing != 0)
      failures += s"$name: $differing groups differ from SaltedAgg.plainAgg"
    val wall = (t2 - t0) / 1e9
    val stored = Workloads.treeBytes(dir.resolve("chunks")).toDouble / ctx.rows
    Iter(wall, wall, stored, opsPerIteration, failures.toSeq,
      Map("resume_s" -> (t2 - t1) / 1e9, "first_s" -> (t1 - t0) / 1e9,
        "ckpt_bytes_per_row" -> stored, "rows_per_s" -> ctx.rows / wall))
  }
}
