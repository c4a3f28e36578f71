package graft.pipeline

import graft.data.WebPagesGen
import graft.functions.Graft
import graft.plans.{BatchedTokenBuf, MergeKind, PerHostKind, SketchAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship benchmark pipeline — the BASELINE.md protocol job:
  * over a Common-Crawl-shaped webpages table,
  *
  *   1. per-(lang, host) sketches via [[SaltedAgg.adaptiveSketchAgg]],
  *      which salts only the sampled Zipf-head hosts
  *      (EBF membership, HLL NDV, KLL + t-digest doc-length quantiles),
  *      with per-group parameters sized for per-host cardinality —
  *      at 10^12 rows the group count is ~10^7-10^8, so per-group
  *      sketch size dominates the shuffle: small fixed-cost params;
  *   2. per-lang Count-Min over extracted-text tokens (the heavy-hitter
  *      query; the token explode is the row-count-dominant phase);
  *   3. the global url set-membership artifact as a SHARDED elastic
  *      Bloom filter — a parallel groupBy(shard) build with no
  *      single-reducer merge tail (a monolithic 10^12-url filter would
  *      be terabytes; see ShardedEbf);
  *   4. an FPR probe of held-out non-member urls against (3) through
  *      [[ShardedProbe.probeBroadcast]], which must sit within the
  *      published bound, plus a zero-false-negatives member sweep.
  *
  * Phases 1-3 are the "sketch-build + merge throughput (docs/sec)"
  * metric; phase 4 rides the same run (BASELINE.md).
  */
object Flagship {

  final case class Result(
      rows: Long, hostGroups: Long, langGroups: Long,
      buildPerHostSec: Double, cmsTokensSec: Double, globalEbfSec: Double,
      probeSec: Double, docsPerSec: Double,
      fprMeasured: Double, fprBound: Double, ebfLevel: Int, ebfBytes: Long,
      falseNegatives: Long,
      topTokensPerLang: Map[String, Seq[String]] = Map.empty)

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-(lang,host) spec with small per-group parameters: the four
    * sketches in ONE aggregate over url-hash halves and a precomputed
    * `text_len` ([[graft.plans.PerHostKind]]), merged in stage 2 by the
    * same kind's [[graft.plans.MergeKind]] — its [[SaltedAgg.SketchSpec.merge]],
    * so the spec runs salted or checkpointed alike. Consumes `text_len`, NOT
    * length(text) inline: the adaptive salted aggregation clusters rows
    * through a shuffle first, and shuffling the full 1KB text to compute
    * an 8-byte length on the other side is a 4GB shuffle where 30MB
    * suffices. Project early, shuffle narrow. */
  def perHostNativeSpecs: Seq[SaltedAgg.SketchSpec] = {
    val kind = PerHostKind(128, 5, 16, 1, 8, 10, 160, 50.0, Graft.SketchSeed)
    Seq(SaltedAgg.SketchSpec("sk",
      SketchAgg.column(Seq(col("__h1"), col("__h2"), col("text_len")), kind), "",
      mergeBuilder = Some(n =>
        SketchAgg.column(Seq(col(n)), MergeKind(kind)))))
  }

  /** The phase-1 pre-exchange projection — as narrow as the semantics
    * allow: lang + host + the 16-byte url hash pair + the 8-byte
    * text_len — never the text, and (since round 3) not the url either
    * (EBF/HLL consume Hash128.H directly, so hashing map-side is
    * byte-identical and halves the shuffle; Hash128Part scaladoc).
    * Host extraction: the urls here are generator-shaped
    * scheme://host/path, where substring_index == parse_url(HOST)
    * (spec-asserted) at ~60% of its cost — parse_url stays the
    * general-input form in the query suites. */
  private def hostProjection(df: DataFrame): DataFrame = df
    .select(col("lang"),
      graft.plans.Hash128Expr.h1(col("url"), Graft.SketchSeed).as("__h1"),
      graft.plans.Hash128Expr.h2(col("url"), Graft.SketchSeed).as("__h2"),
      length(col("text")).cast("double").as("text_len"),
      substring_index(substring_index(col("url"), "/", 3), "/", -1).as("host"))

  /** Phases 1 AND 2 over ONE text scan: the per-lang token sketches
    * ride phase 1's scan as a side-channel metric
    * (`Dataset.observe` / CollectMetrics with the map-buffer
    * [[graft.plans.PerLangTokenSketchesAgg]] — global aggregates are
    * all observe admits, which is exactly what the lang-keyed buffer
    * provides). Separately the two phases each pay the full text scan
    * — 13 GB of the shared socket's DRAM traffic paid twice per 32M
    * rows (PLAN16 measures the fusion at both parallelism levels).
    * Returns (hostGroups, langGroups, topTokens, combinedSec,
    * extractSec). The hot-detection sample runs against an UNOBSERVED
    * plan so the side channel completes with the main aggregation, not
    * the sample. */
  private[graft] def phase12Fused(wp: DataFrame, numSalts: Int):
      (Long, Long, Map[String, Seq[String]], Double, Double) = {
    val obs = org.apache.spark.sql.Observation()
    val tokCol = graft.plans.PerLangTokenSketchesAgg.column(
      col("lang"), col("text"), 5, 16384, 256, Graft.SketchSeed, BatchedTokenBuf.Batch)
    val t0 = System.nanoTime()
    val withHost = hostProjection(wp.observe(obs, tokCol.as("tok")))
    // adaptive: only Zipf-head hosts get salted (see SaltedAgg
    // scaladoc). Forced via sum(length(sketch)): a bare count() lets
    // Catalyst PRUNE the unused aggregate expressions and time only the
    // group-by skeleton.
    val agged = SaltedAgg.adaptiveSketchAgg(withHost, Seq("lang", "host"), col("__h1"),
      numSalts, perHostNativeSpecs, hotRowThreshold = 1000L,
      sampleSource = Some(hostProjection(wp)))
    val sizeSum = Seq("sk.ebf", "sk.hll", "sk.kll", "sk.td")
      .map(f => length(col(f)).cast("long")).reduce(_ + _)
    val hostGroups = agged.agg(count(lit(1)), sum(sizeSum)).head.getLong(0)
    val t1 = (System.nanoTime() - t0) / 1e9
    val t2start = System.nanoTime()
    val tokMap = obs.get("tok").asInstanceOf[scala.collection.Map[String, org.apache.spark.sql.Row]]
    val tops = tokMap.map { case (lang, r) =>
      lang -> graft.core.FreqSketch.fromBytes(r.getAs[Array[Byte]]("topk"))
        .topK(20).map(_._1)
    }.toMap
    val t2 = (System.nanoTime() - t2start) / 1e9
    (hostGroups, tokMap.size.toLong, tops, t1, t2)
  }

  /** Phase 3 body: the sharded global EBF build, materialized
    * (cached + every sketch byte forced). Caller unpersists. */
  private[graft] def phase3(wp: DataFrame, numShards: Int): DataFrame = {
    // clusterFirst: repartition-by-shard makes the partial aggregate
    // the final build (see ShardedProbe.buildShardTable scaladoc and
    // the PLAN13 A/B in BENCH/PLANS.md)
    val table = ShardedProbe.buildShardTable(wp, col("url"), numShards,
      clusterFirst = true).cache()
    // force materialization of every sketch byte (a bare count() lets
    // Catalyst prune the aggregate itself)
    table.agg(count(lit(1)), sum(length(col("sk")))).head.getLong(0)
    table
  }

  /** @param nProbes held-out non-member urls for the phase-4 FPR probe;
    *                0 skips phase 4 entirely (fpr fields come back -1) —
    *                used by the bench's low-parallelism scaling trials,
    *                where the throughput metric (phases 1-3) is the only
    *                thing measured and the FPR evidence rides the
    *                high-parallelism run. */
  def run(spark: SparkSession, tablePath: String, numSalts: Int = 32,
          nProbes: Long = 1000000L): Result = {
    Graft.ensure(spark)
    val wp = spark.read.parquet(tablePath)
    val rows = wp.count()

    // phases 1+2: phase 2 rides phase 1's text scan as a side-channel
    // observation (one 13 GB scan instead of two — PLAN16)
    val (hostGroups, langGroups, topTokens, t1, t2) = phase12Fused(wp, numSalts)

    // phase 3: SHARDED global EBF over all urls — a parallel
    // groupBy(shard) with no single-reducer merge tail (see ShardedEbf:
    // a monolithic 10^12-url filter cannot exist as one object anyway).
    // The artifact stays a DISTRIBUTED (shard, sk) table, cached across
    // the cluster; nothing is collected to the driver in this phase —
    // deployment-side movement belongs to the probe (phase 4), exactly
    // as a broadcast join charges its build-side collect to the join.
    // 256 shards (was 64): the reduce side of the shard build is
    // numShards tasks — 64 gave local[32] two badly packed waves while
    // local[8] packed its eight perfectly, which alone cost ~2x in the
    // phase's 8->32 scaling (stage decomposition, BENCH/PLANS.md PLAN13).
    // 256 gives every level >= 8 waves; per-shard filters are a quarter
    // the size at identical total bytes and the same per-shard FPR
    // bound. At 10^12 rows the shard count scales with the data anyway.
    val numShards = 256
    val (shardTable, t3) = time(phase3(wp, numShards))

    // phase 4: FPR probe of held-out non-member urls + member sweep,
    // through the codegen'd native expression over broadcast shards
    // (no UDF boundary, no per-row sketch bytes)
    val ((fps, falseNegs, sharded), t4) =
      if (nProbes <= 0) ((-1L, -1L, null: graft.core.ShardedEbf), 0.0)
      else time {
        val bc = ShardedProbe.broadcastShards(shardTable, numShards)
        def rowsWith(hit: Boolean, urls: DataFrame): Long =
          ShardedProbe.probeBroadcast(urls, col("url"), bc)
            .agg(sum(when(col("hit") === hit, 1L).otherwise(0L))).head.getLong(0)
        val fp = rowsWith(hit = true, WebPagesGen.probeUrls(spark, nProbes, member = false).toDF("url"))
        val fn = rowsWith(hit = false, wp.select(col("url")))
        (fp, fn, bc.value)
      }
    shardTable.unpersist(blocking = false)

    val buildSec = t1 + t2 + t3
    Result(rows, hostGroups, langGroups, t1, t2, t3, t4,
      rows.toDouble / buildSec,
      if (sharded == null) -1.0 else fps.toDouble / nProbes,
      if (sharded == null) -1.0 else sharded.fprBound,
      if (sharded == null) -1 else sharded.maxLevel,
      if (sharded == null) -1L else sharded.totalSizeBytes,
      falseNegs, topTokens)
  }
}
