package perfbench

import graft.core.{Cms, Ebf, Hash128, Hll, Kll, TDigest}
import graft.functions.Graft
import graft.pipeline.ShardedProbe
import graft.plans.{EbfShardedProbeExpr, Hash128Expr, PerHostSketchesNativeAgg, PerLangTokenSketchesAgg}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The traced run: the workload's pipeline spans, then each layer of the
  * library measured alone from outside, on the workload's own keys.
  *
  * Layers and the end-to-end metric each should move:
  *   - core: single-thread kernel calls (insert, merge, wire bytes,
  *     probes) → docs_per_s through the sketch builds, iteration_s
  *     through probes, sketch_bytes_per_key through wire bytes;
  *   - functions: one SQL aggregate or UDF at a time over the cached
  *     input at local[nproc] → docs_per_s on url_filter and ckpt_rollup;
  *   - plans: the native expressions and aggregates Flagship uses →
  *     docs_per_s on crawl_build;
  *   - pipeline: spans around the workload's own library calls, with the
  *     Spark stage metrics of each → where an iteration's wall goes;
  *   - data: a plain scan of the workload's columns, the floor under its
  *     throughput.
  */
object Layers {

  private final class Out {
    val metrics = ArrayBuffer.empty[Metric]
    val failures = ArrayBuffer.empty[String]
    def add(name: String, value: Double, unit: String): Unit = metrics += Metric(name, value, unit)
    def check(ok: Boolean, msg: => String): Unit = if (!ok) failures += msg
  }

  /** Median wall of `reps` runs of `f`, in nanoseconds. */
  private def timeNs(reps: Int)(f: => Unit): Double =
    Measure.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0).toDouble
    })

  /** Heap in use after a full collection. */
  private def liveHeap(): Long = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def traced(spark: SparkSession, w: Workload, ctx: Ctx, args: Main.Args): String = {
    val listener = new StageListener("url#", ctx.table)
    val tr = new Tracer(true, s"${w.name}-${ctx.seed}")
    tr.attach(spark.sparkContext, listener)
    val out = new Out
    var attempted = 0L

    // pipeline: after one untraced iteration that settles the JVM, a
    // traced one and an untraced one; their wall ratio is what tracing costs
    val first = w.runChecked(spark, new Tracer(false, ""))
    val traced = tr.span(s"${w.name}.iteration")(w.runChecked(spark, tr))
    val plain = w.runChecked(spark, new Tracer(false, ""))
    for (i <- Seq(first, traced, plain)) { attempted += i.ops; out.failures ++= i.failures }
    val root = tr.byName(s"${w.name}.iteration").head
    val st = tr.stats(root)
    out.add("pipeline.wall_s", st.wallS, "s")
    out.add("pipeline.executor_cpu_s", st.executorCpuS, "s")
    out.add("pipeline.gc_s", st.gcS, "s")
    out.add("pipeline.shuffle_write_bytes", st.shuffleWriteBytes.toDouble, "B")
    out.add("pipeline.fetch_wait_s", st.fetchWaitS, "s")
    out.add("pipeline.spill_bytes", st.spillBytes.toDouble, "B")
    out.add("pipeline.input_bytes", st.inputBytes.toDouble, "B")
    out.add("pipeline.task_skew", st.taskSkew, "ratio")
    out.add("pipeline.stages", st.stages.toDouble, "count")
    out.add("pipeline.input_scans", st.inputScans.toDouble, "count")
    out.add("trace.overhead_share", traced.wallS / plain.wallS - 1.0, "ratio")
    out.add("trace.spans", tr.spans.size.toDouble, "count")
    spanTable(tr, w, ctx)

    val hot = saltedAggShape(spark, ctx)
    out.add("pipeline.salted_agg.hot_groups", hot._1, "count")
    out.add("pipeline.salted_agg.salted_row_share", hot._2, "ratio")

    val urls = spark.read.parquet(ctx.table).select("url").cache()
    val parts = {
      import spark.implicits._
      urls.as[String].rdd.glom().collect()
    }
    val keys = parts.flatten
    val core = coreLayer(spark, ctx, keys, parts, out)
    // the ckpt_rollup input plus Flagship's text_len, cached once
    val kv = spark.read.parquet(ctx.table)
      .select(col("lang"), Workloads.hostOf(col("url")).as("host"), col("url"),
        length(col("text")).cast("double").as("text_len")).cache()
    kv.count()
    val built = functionsLayer(spark, ctx, tr, urls, kv, keys.length.toLong, out)
    gapTable(ctx, built, core, parts.length, out)
    plansLayer(spark, ctx, tr, kv, keys.length.toLong, built.bytes, out)
    kv.unpersist(blocking = true)
    dataLayer(spark, w, ctx, out)
    urls.unpersist(blocking = true)

    out.failures.distinct.foreach(f => Main.info(s"FAILED $f"))
    for (m <- out.metrics) Main.info(f"${m.name}%-44s ${m.value}%14.6g ${m.unit}")
    Measure.json(out.failures.isEmpty, attempted + 1, out.failures.length, out.metrics.toSeq)
  }

  /** Prints each span with its self time and stage metrics, and writes
    * the spans to .bench_build/trace/ as JSON lines. */
  private def spanTable(tr: Tracer, w: Workload, ctx: Ctx): Unit = {
    val named = tr.spans.filterNot(_.name.endsWith(".batch"))
    Main.info(f"${"span"}%-24s ${"wall_s"}%8s ${"self_s"}%8s ${"cpu_s"}%8s ${"gc_s"}%7s " +
      f"${"shuf_wr_B"}%11s ${"fetch_s"}%8s ${"spill_B"}%9s ${"input_B"}%11s ${"skew"}%6s ${"scans"}%5s")
    for (s <- named) {
      val x = tr.stats(s)
      Main.info(f"${s.name}%-24s ${x.wallS}%8.3f ${tr.selfSeconds(s)}%8.3f ${x.executorCpuS}%8.3f " +
        f"${x.gcS}%7.3f ${x.shuffleWriteBytes}%11d ${x.fetchWaitS}%8.3f ${x.spillBytes}%9d " +
        f"${x.inputBytes}%11d ${x.taskSkew}%6.2f ${x.inputScans}%5d")
    }
    val dir = Paths.get(ctx.buildDir, "trace")
    Files.createDirectories(dir)
    val lines = tr.spans.map(s =>
      s"""{"trace": "${s.trace}", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}}""")
    Files.write(dir.resolve(s"${w.name}_s${ctx.seed}.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** The hot set `SaltedAgg.adaptiveSketchAgg` derives for Flagship's
    * (lang, host) groups: its 1% sample (seed 42) with 1000 rows as the
    * hot threshold, re-derived here from the same public rule. */
  private def saltedAggShape(spark: SparkSession, ctx: Ctx): (Double, Double) = {
    val df = spark.read.parquet(ctx.table).select(col("lang"), Workloads.hostOf(col("url")).as("host"))
    val hot = df.sample(withReplacement = false, 0.01, seed = 42L)
      .groupBy("lang", "host").count().filter(col("count") >= 10).select("lang", "host")
    val hotRows = df.join(broadcast(hot), Seq("lang", "host")).count()
    (hot.count().toDouble, hotRows.toDouble / ctx.rows)
  }

  final case class CoreTimes(partBuildNs: Seq[Double], partToBytesNs: Seq[Double],
                             partFromBytesNs: Seq[Double], mergeNs: Double, finalToBytesNs: Double)

  private def coreLayer(spark: SparkSession, ctx: Ctx, keys: Array[String],
                        parts: Array[Array[String]], out: Out): CoreTimes = {
    val n = keys.length.toDouble
    val seed = Graft.SketchSeed
    val shuffled = new scala.util.Random(ctx.seed).shuffle(keys.toSeq).toArray
    def build(ks: Array[String]): Ebf = { val e = Ebf.empty(seed = seed); ks.foreach(e.insert); e }

    var sink = 0L
    out.add("core.hash128.ns_per_key",
      timeNs(3)(keys.foreach(k => sink ^= Hash128.hashString(k, seed).h1)) / n, "ns")
    out.add("core.ebf.insert_ns", timeNs(3)(build(shuffled)) / n, "ns")
    val full = build(shuffled)
    val bytes = full.toBytes

    // the partials one ebf_agg builds, one per input partition, then the
    // reduce side: decode each partial, merge, encode the result
    val partials = parts.map(p => build(p))
    val partBuild = parts.map(p => timeNs(3)(build(p)))
    val partTo = partials.map(p => timeNs(3)(p.toBytes))
    val partBytes = partials.map(_.toBytes)
    val partFrom = partBytes.map(b => timeNs(3)(Ebf.fromBytes(b)))
    var merged: Ebf = null
    val mergeNs = Measure.median((1 to 3).map { _ =>
      val ps = partBytes.map(Ebf.fromBytes)
      val t0 = System.nanoTime()
      merged = ps.reduce(_ merge _)
      (System.nanoTime() - t0).toDouble
    })
    out.check(java.util.Arrays.equals(merged.toBytes, bytes),
      "core: merging the per-partition filters is not byte-identical to one build")
    out.add("core.ebf.merge_ns_per_key", mergeNs / n, "ns")
    val toNs = timeNs(3)(full.toBytes)
    out.add("core.ebf.to_bytes_ns_per_key", toNs / n, "ns")
    out.add("core.ebf.from_bytes_ns_per_key", timeNs(3)(Ebf.fromBytes(bytes)) / n, "ns")

    var misses = 0
    out.add("core.ebf.probe_member_ns", timeNs(3) {
      misses = keys.count(k => !full.mightContain(k))
    } / n, "ns")
    out.check(misses == 0, s"core: $misses false negatives")
    val others = Data.nonMemberUrls(ctx.seed, 100000)
    var fp = 0
    out.add("core.ebf.probe_nonmember_ns",
      timeNs(3) { fp = others.count(full.mightContain) } / others.length, "ns")
    out.add("core.ebf.fpr_measured", fp.toDouble / others.length, "ratio")
    out.add("core.ebf.wire_bytes_per_key", bytes.length / n, "B")
    out.add("core.ebf.level", full.level.toDouble, "count")
    out.add("core.ebf.fpr_bound", full.fprBound, "ratio")
    // measured on release: both readings then follow a full collection
    // of the same earlier garbage
    val held = Array(build(shuffled))
    val holding = liveHeap()
    sink += held(0).n
    held(0) = null
    out.add("core.ebf.heap_bytes_per_key", (holding - liveHeap()) / n, "B")

    val hll = Hll.empty(seed = seed)
    out.add("core.hll.insert_ns", timeNs(3)(keys.foreach(hll.add)) / n, "ns")
    val lens = spark.read.parquet(ctx.table).select(length(col("text")).cast("double"))
      .collect().map(_.getDouble(0))
    out.add("core.kll.update_ns", timeNs(3) {
      val k = Kll.empty(); lens.foreach(k.add)
    } / lens.length, "ns")
    out.add("core.tdigest.update_ns", timeNs(3) {
      val t = TDigest.empty(); lens.foreach(t.add)
    } / lens.length, "ns")
    val texts = spark.read.parquet(ctx.table).select("text").limit(5000).collect().map(_.getString(0))
    var tokens = 0L
    val cmsNs = timeNs(3) {
      val c = Cms.empty(seed = seed); texts.foreach(c.addTextTokens); tokens = c.total
    }
    out.add("core.cms.ns_per_token", cmsNs / tokens, "ns")
    CoreTimes(partBuild.toSeq, partTo.toSeq, partFrom.toSeq, mergeNs, toNs)
  }

  final case class Built(bytes: Array[Byte], wallS: Double, stats: SpanStats,
                         stageWindowS: Double, scanS: Double)

  /** Seconds from the first stage submission to the last completion. */
  private def stageWindow(tr: Tracer, s: Span): Double = {
    val st = tr.stagesOf(s)
    (st.map(_.completeMs).max - st.map(_.submitMs).min) / 1e3
  }

  /** Runs `f` once to warm it, then `reps` times in a span each; returns
    * the span of median wall. */
  private def op(tr: Tracer, name: String, reps: Int = 1)(f: => Unit): Span = {
    f
    for (_ <- 1 to reps) tr.span(name)(f)
    tr.byName(name).takeRight(reps).sortBy(_.seconds).apply(reps / 2)
  }

  private def functionsLayer(spark: SparkSession, ctx: Ctx, tr: Tracer, urls: DataFrame,
                             kv: DataFrame, n: Long, out: Out): Built = {
    urls.count()
    // the scan alone: its stages' execution window, without the driver
    // overhead the ebf_agg row "plan+output" already holds
    val scanS = stageWindow(tr,
      op(tr, "functions.scan_cached_urls", 3)(urls.agg(sum(length(col("url")))).head()))
    var bytes: Array[Byte] = null
    val s = op(tr, "functions.ebf_agg", 3) {
      bytes = urls.agg(expr("ebf_agg(url)")).head().getAs[Array[Byte]](0)
    }
    val st = tr.stats(s)
    out.add("functions.ebf_agg.rows_per_s", n / s.seconds, "1/s")
    out.add("functions.ebf_agg.partial_shuffle_bytes", st.shuffleWriteBytes.toDouble, "B")
    val window = stageWindow(tr, s)

    def grouped(agg: String) = kv.groupBy("lang", "host").agg(expr(agg).as("s"))
      .agg(sum(length(col("s")))).head()
    out.add("functions.ebf_agg_grouped.rows_per_s",
      n / op(tr, "functions.ebf_agg_grouped")(grouped("ebf_agg(url)")).seconds, "1/s")
    out.add("functions.hll_agg_grouped.rows_per_s",
      n / op(tr, "functions.hll_agg_grouped")(grouped("hll_agg(url)")).seconds, "1/s")

    val chunked = kv.groupBy(col("lang"), col("host"), pmod(xxhash64(col("url")), lit(8)).as("chunk"))
      .agg(expr("ebf_agg(url)").as("s")).cache()
    val chunkRows = chunked.count()
    out.add("functions.merge_agg.rows_per_s", chunkRows / op(tr, "functions.merge_agg") {
      chunked.groupBy("lang", "host").agg(expr("ebf_merge_agg(s)").as("m"))
        .agg(sum(length(col("m")))).head()
    }.seconds, "1/s")
    chunked.unpersist(blocking = true)

    val probe = Graft.ebfProbe(spark, Ebf.fromBytes(bytes))
    var hits = 0L
    out.add("functions.ebf_probe_udf.rows_per_s", n / op(tr, "functions.ebf_probe_udf") {
      hits = urls.agg(sum(when(probe(col("url")), 1L).otherwise(0L))).head().getLong(0)
    }.seconds, "1/s")
    out.check(hits == n, s"functions: probe UDF found $hits of $n members")
    Built(bytes, s.seconds, st, window, scanS)
  }

  /** Splits the global `ebf_agg` wall (url_filter's build) into its
    * layers, from the kernel timings of the very partials it builds and
    * the stage metrics of its measured run. Parallel parts are charged
    * at their critical path over nproc cores. */
  private def gapTable(ctx: Ctx, b: Built, c: CoreTimes, nParts: Int, out: Out): Unit = {
    def critical(ns: Seq[Double]) = (ns.max max (ns.sum / ctx.nproc)) / 1e9
    val rows = Seq(
      "scan" -> b.scanS,
      "hash+insert" -> critical(c.partBuildNs),
      "partial serialization" -> critical(c.partToBytesNs),
      "shuffle" -> (b.stats.shuffleWriteS / math.min(nParts, ctx.nproc) + b.stats.fetchWaitS),
      "final merge+serialize" -> ((c.partFromBytesNs.sum + c.mergeNs + c.finalToBytesNs) / 1e9),
      "plan+output" -> (b.wallS - b.stageWindowS))
    val attributed = rows.map(_._2).sum
    Main.info(f"layer gap for the global ebf_agg (url_filter.build), ${ctx.rows} keys, " +
      f"$nParts partials, wall ${b.wallS}%.3f s")
    for ((k, v) <- rows) Main.info(f"  $k%-24s $v%8.3f s ${100 * v / b.wallS}%6.1f%%")
    Main.info(f"  ${"attributed"}%-24s $attributed%8.3f s ${100 * attributed / b.wallS}%6.1f%%")
    Main.info(f"  ${"unattributed"}%-24s ${b.wallS - attributed}%8.3f s")
    for ((k, v) <- rows)
      out.add(s"layer_gap.${k.replaceAll("[^a-z]+", "_")}_s", v, "s")
    out.add("layer_gap.attributed_share", attributed / b.wallS, "ratio")
  }

  private def plansLayer(spark: SparkSession, ctx: Ctx, tr: Tracer, kv: DataFrame, n: Long,
                         filterBytes: Array[Byte], out: Out): Unit = {
    val seed = Graft.SketchSeed
    out.add("plans.hash128_expr.rows_per_s", n / op(tr, "plans.hash128_expr") {
      kv.agg(bit_xor(Hash128Expr.h1(col("url"), seed)), bit_xor(Hash128Expr.h2(col("url"), seed))).head()
    }.seconds, "1/s")
    val hashed = kv.select(col("lang"), col("host"), Hash128Expr.h1(col("url"), seed).as("h1"),
      Hash128Expr.h2(col("url"), seed).as("h2"), col("text_len")).cache()
    hashed.count()
    out.add("plans.perhost_native_agg.rows_per_s", n / op(tr, "plans.perhost_native_agg") {
      hashed.groupBy("lang", "host")
        .agg(PerHostSketchesNativeAgg.column(col("h1"), col("h2"), col("text_len"),
          128, 5, 16, 1, 8, 10, 160, 50.0, seed).as("sk"))
        .agg(sum(length(col("sk.ebf")))).head()
    }.seconds, "1/s")
    hashed.unpersist(blocking = true)
    out.add("plans.lang_token_agg.rows_per_s", n / op(tr, "plans.lang_token_agg") {
      spark.read.parquet(ctx.table)
        .agg(PerLangTokenSketchesAgg.column(col("lang"), col("text"), 5, 16384, 256, seed, 512))
        .head()
    }.seconds, "1/s")
    var shards: DataFrame = null
    out.add("plans.ebf_hash_build_agg.rows_per_s", n / op(tr, "plans.ebf_hash_build_agg") {
      if (shards != null) shards.unpersist(blocking = true)
      shards = ShardedProbe.buildShardTable(kv, col("url"), 256, clusterFirst = true).cache()
      shards.agg(count(lit(1)), sum(length(col("sk")))).head()
    }.seconds, "1/s")
    val bc = ShardedProbe.broadcastShards(shards, 256)
    var hits = 0L
    out.add("plans.sharded_probe.rows_per_s", n / op(tr, "plans.sharded_probe") {
      hits = kv.agg(sum(when(EbfShardedProbeExpr.probeColumn(bc, col("url")), 1L).otherwise(0L)))
        .head().getLong(0)
    }.seconds, "1/s")
    out.check(hits == n, s"plans: sharded probe found $hits of $n members")
    shards.unpersist(blocking = true)

    // Known defect, measured as is: each SQL query that carries the
    // filter as a literal leaves heap behind under default settings.
    kv.createOrReplaceTempView("pb_kv")
    val hex = filterBytes.map(b => f"${b & 0xff}%02X").mkString
    val queries = 3
    val before = liveHeap()
    for (_ <- 1 to queries) {
      val found = spark.sql(s"SELECT count_if(ebf_might_contain(X'$hex', url)) FROM pb_kv")
        .head().getLong(0)
      out.check(found == n, s"plans: literal probe found $found of $n members")
    }
    val after = liveHeap()
    out.add("plans.literal_probe.retained_heap_mb_per_query",
      (after - before) / 1048576.0 / queries, "MB")
  }

  private def dataLayer(spark: SparkSession, w: Workload, ctx: Ctx, out: Out): Unit = {
    val df = spark.read.parquet(ctx.table).select(w.columns.map(col): _*)
    df.write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    out.add("data.scan.rows_per_s", ctx.rows / Workloads.secondsSince(t0), "1/s")
    out.add("data.gen_s", ctx.genS, "s")
  }
}
