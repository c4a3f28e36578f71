package graft.queries

import graft.core._
import graft.functions.Graft
import graft.plans.{EbfKind, SketchAgg}
import graft.pipeline.RangePartition
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract queries for the sketch operators (SURVEY.md §2.3).
  *
  * Estimate queries come in pairs: a rows-only estimate dump (not
  * SQL-expressible, driver does a weaker rows-check) and an
  * oracle-checked bound query emitting booleans that prove the estimate
  * sits within the algorithm's published error bound vs the Spark-side
  * exact value. Bound checks use fixed seeds, so they are fully
  * deterministic: they either always pass or always fail for a given
  * input — no flakiness by construction.
  */
object SketchQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def tokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(explode(split(col("text"), " ")).as("token"))

  private def ebfOf(df: DataFrame, keyExpr: String): Ebf =
    Ebf.fromBytes(df.select(expr(s"ebf_agg($keyExpr)")).head.getAs[Array[Byte]](0))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------------------------------------------------- EBF
    "ebf_lineitem_probe" -> { (s, dir) =>
      Graft.ensure(s)
      val sk = ebfOf(lineitem(s, dir), "cast(l_orderkey as string)")
      val probe = Graft.ebfProbe(s, sk)
      lineitem(s, dir).select(col("l_orderkey")).distinct()
        .select(col("l_orderkey"), probe(col("l_orderkey").cast("string")).as("hit"))
        .orderBy("l_orderkey")
    },

    "ebf_sharded_probe" -> { (s, dir) =>
      Graft.ensure(s)
      // the web-scale form: parallel per-shard build into a distributed
      // shard table, broadcast deployment, probe through the codegen'd
      // native expression (EbfShardedProbeExpr); no false negatives
      // must hold across the shard boundary
      val numShards = 8
      val d = docs(s, dir)
      val table = graft.pipeline.ShardedProbe.buildShardTable(
        d, col("doc_id").cast("string"), numShards, m0 = 256)
      val bc = graft.pipeline.ShardedProbe.broadcastShards(table, numShards)
      d.select(col("doc_id"),
          graft.plans.EbfShardedProbeExpr.probeColumn(bc, col("doc_id").cast("string")).as("hit"))
        .orderBy("doc_id")
    },

    "ebf_expand_roundtrip" -> { (s, dir) =>
      Graft.ensure(s)
      // small m0 via the Column API to force real expansions, then one
      // manual ebf_expand on top: members must survive
      val d = docs(s, dir)
      val bytes = d.select(SketchAgg.column(Seq(col("doc_id").cast("string")),
        EbfKind(64, 5, 16, 1, 8, Graft.SketchSeed))).head.getAs[Array[Byte]](0)
      val expanded = Ebf.fromBytes(bytes)
      val levelBefore = expanded.level
      expanded.expand()
      require(expanded.level == levelBefore + 1)
      val probe = Graft.ebfProbe(s, expanded)
      d.select(col("doc_id"), probe(col("doc_id").cast("string")).as("hit_after_expand"))
        .orderBy("doc_id")
    },

    "ebf_compress_roundtrip" -> { (s, dir) =>
      Graft.ensure(s)
      val original = ebfOf(docs(s, dir), "cast(doc_id as string)")
      val rt = Ebf.fromBytes(original.toBytes)
      rt.expand()
      rt.compress()
      val bytesEqual = java.util.Arrays.equals(original.toBytes, rt.toBytes)
      val probe = Graft.ebfProbe(s, rt)
      docs(s, dir)
        .agg(bool_and(probe(col("doc_id").cast("string"))).as("members_ok"))
        .select(lit(bytesEqual).as("bytes_equal"), col("members_ok"))
    },

    "ebf_delete_semantics" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
      val sk = ebfOf(d, "cast(doc_id as string)")
      val evens = d.filter(col("doc_id") % 2 === 0).select("doc_id")
        .collect().map(_.getLong(0))
      evens.foreach(id => require(sk.delete(id.toString), s"delete($id) failed"))
      val probe = Graft.ebfProbe(s, sk)
      d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), probe(col("doc_id").cast("string")).as("hit"))
        .orderBy("doc_id")
    },

    "ebf_fpr_check" -> { (s, dir) =>
      Graft.ensure(s)
      val sk = ebfOf(docs(s, dir), "cast(doc_id as string)")
      val probe = Graft.ebfProbe(s, sk)
      val members = docs(s, dir)
        .agg(bool_and(probe(col("doc_id").cast("string")))).head.getBoolean(0)
      val nProbes = 100000L
      val fpCount = s.range(1000000000L, 1000000000L + nProbes)
        .select(probe(col("id").cast("string")).as("hit"))
        .agg(sum(when(col("hit"), 1L).otherwise(0L))).head.getLong(0)
      val measured = fpCount.toDouble / nProbes
      // classic bound slightly underestimates true FPR; 25% + binomial slack
      val bound = sk.fprBound * 1.25 + 4.0 * math.sqrt(sk.fprBound / nProbes)
      s.range(1).select(
        lit(members).as("no_false_negatives"),
        lit(measured <= bound).as("fpr_within_bound"))
    },

    "ebf_metrics" -> { (s, dir) =>
      Graft.ensure(s)
      docs(s, dir).groupBy(col("lang"))
        .agg(expr("ebf_info(ebf_agg(cast(doc_id as string)))").as("info"))
        .select(col("lang"), col("info.level"), col("info.numBuckets"),
          col("info.n"), col("info.bitsSet"), col("info.fpWidth"),
          col("info.fprBound"), col("info.sizeBytes"))
        .orderBy("lang")
    },

    // oracle-checked companion to the rows-only ebf_metrics dump: the
    // struct fields the north rule requires jobs to carry are verified
    // against exact values where exact values exist (n == count) and
    // against hard invariants elsewhere
    "ebf_metrics_check" -> { (s, dir) =>
      Graft.ensure(s)
      docs(s, dir).groupBy(col("lang"))
        .agg(expr("ebf_info(ebf_agg(cast(doc_id as string)))").as("info"),
          count(lit(1)).as("cnt"))
        .select(col("lang"),
          (col("info.n") === col("cnt")).as("n_exact"),
          (col("info.fprBound") > 0.0 && col("info.fprBound") < 1.0).as("fpr_bound_sane"),
          (col("info.sizeBytes") > 0 && col("info.level") >= 0).as("layout_sane"))
        .orderBy("lang")
    },

    // ---------------------------------------------------------- HLL
    // Spark-first dividend: mergeable sketches compose with grouping
    // sets for free — one ROLLUP pass yields per-lang AND grand-total
    // NDV from the same partial aggregates (no second scan), each
    // within the published HLL bound vs the exact distinct count
    "hll_rollup_bound" -> { (s, dir) =>
      Graft.ensure(s)
      docs(s, dir).rollup(col("lang"))
        .agg(expr("hll_estimate(hll_agg(cast(doc_id as string)))").as("est"),
          countDistinct(col("doc_id")).as("exact"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          (abs(col("est") - col("exact")) <=
            lit(3.0 * 1.04 / math.sqrt(4096.0)) * col("exact") + lit(3.0)).as("within_bound"))
        .orderBy("lang")
    },

    "hll_events_user_ndv" -> { (s, dir) =>
      Graft.ensure(s)
      events(s, dir).groupBy(col("event_type"))
        .agg(
          expr("hll_estimate(hll_agg(cast(user_id as string)))").as("est"),
          countDistinct(col("user_id")).as("exact"))
        .select(col("event_type"),
          (abs(col("est") - col("exact")) <=
            lit(3.0 * 1.04 / math.sqrt(4096.0)) * col("exact") + lit(3.0)).as("within_bound"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------- CMS
    "cms_overestimate_check" -> { (s, dir) =>
      Graft.ensure(s)
      val t = tokens(s, dir)
      val skBytes = t.select(expr("cms_agg(token)")).head.getAs[Array[Byte]](0)
      val cms = Cms.fromBytes(skBytes)
      val eps = cms.eps
      val total = cms.total
      // r6: X'..' literal-sketch probe (the O23 rewrite path) instead
      // of a driver-local closure UDF — same Long estimates, codegen'd
      val hexSk = skBytes.map(x => f"$x%02x").mkString
      t.groupBy(col("token")).agg(count(lit(1)).as("exact"))
        .withColumn("est", expr(s"cms_estimate(X'$hexSk', token)"))
        .select(col("token"),
          (col("est") >= col("exact")).as("over"),
          (col("est") <= col("exact") + lit(eps * total) + lit(1.0)).as("within_eps"))
        .orderBy("token")
    },

    // O34: equi-join cardinality estimated from two CMS sketches ALONE
    // (row-wise inner product, min over rows) — sketch-driven join
    // planning. The published guarantee: never under-estimates, over by
    // at most eps*totalA*totalB whp. exact_join_size is the real oracle
    // value (DuckDB computes the actual join count).
    "cms_join_size_check" -> { (s, dir) =>
      Graft.ensure(s)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val a = Cms.fromBytes(li.select(expr("cms_agg(cast(l_orderkey as string))"))
        .head.getAs[Array[Byte]](0))
      val b = Cms.fromBytes(ord.select(expr("cms_agg(cast(o_orderkey as string))"))
        .head.getAs[Array[Byte]](0))
      val est = a.innerProduct(b)
      val exact = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
      val bound = a.eps * a.total * b.total
      s.range(1).select(
        lit(exact).as("exact_join_size"),
        lit(est >= exact).as("overestimates"),
        lit(est <= exact + bound).as("within_published_bound"))
    },

    // O79: Count Sketch, the unbiased twin of O34 — both sketch pairs
    // estimate the same join size from sketches ALONE, but the CMS form
    // only over-estimates while the Count-Sketch/AMS form is unbiased
    // (median of per-row dot products, each with variance
    // <= 2*F2(A)*F2(B)/width). Gated at 4 sigma of that bound against
    // the exact join count (DuckDB recomputes it), alongside the AMS
    // self-join-size (F2) estimator at its own 4-sigma bound
    // (var <= 2*F2^2/width). Fixed seed: deterministic, no flakiness.
    "cs_join_size_check" -> { (s, dir) =>
      Graft.ensure(s)
      val li = lineitem(s, dir)
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val a = CountSketch.fromBytes(li.select(expr("cs_agg(cast(l_orderkey as string))"))
        .head.getAs[Array[Byte]](0))
      val b = CountSketch.fromBytes(ord.select(expr("cs_agg(cast(o_orderkey as string))"))
        .head.getAs[Array[Byte]](0))
      val est = a.innerProduct(b)
      val exact = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
      val f2a = li.groupBy("l_orderkey").count()
        .agg(sum(col("count") * col("count"))).head.getLong(0)
      val f2b = ord.groupBy("o_orderkey").count()
        .agg(sum(col("count") * col("count"))).head.getLong(0)
      val sigmaJoin = math.sqrt(2.0 * f2a.toDouble * f2b.toDouble / a.width)
      val sigmaF2 = math.sqrt(2.0 / a.width) * f2a.toDouble
      s.range(1).select(
        lit(exact).as("exact_join_size"),
        lit(math.abs(est - exact.toDouble) <= 4.0 * sigmaJoin).as("within_4sigma"),
        lit(math.abs(a.f2 - f2a.toDouble) <= 4.0 * sigmaF2).as("f2_within_4sigma"))
    },

    // O79 point estimates: per-token count within the published
    // TWO-SIDED bound |est - true| <= 3*sqrt(F2/width) — the signed
    // estimator can under-estimate (CMS cannot), and on Zipf token
    // streams sqrt(F2) tracks the heavy hitters, not the total mass,
    // which is why Count Sketch beats CMS's eps*N on skew. exact is a
    // real value column (DuckDB recomputes the grouped counts).
    "cs_point_check" -> { (s, dir) =>
      Graft.ensure(s)
      val t = tokens(s, dir)
      val csBytes = t.select(expr("cs_agg(token)")).head.getAs[Array[Byte]](0)
      val cs = CountSketch.fromBytes(csBytes)
      val f2 = t.groupBy("token").count()
        .agg(sum(col("count") * col("count"))).head.getLong(0)
      val bound = 3.0 * math.sqrt(f2.toDouble / cs.width)
      // r6: literal-sketch probe instead of a driver-local closure UDF
      val hexCs = csBytes.map(x => f"$x%02x").mkString
      t.groupBy(col("token")).agg(count(lit(1)).as("exact"))
        .withColumn("est", expr(s"cs_estimate(X'$hexCs', token)"))
        .select(col("token"), col("exact"),
          (abs(col("est") - col("exact")) <= lit(bound)).as("within_bound"))
        .orderBy("token")
    },

    // O79 turnstile + linearity: (1) retracting the odd-doc token
    // sub-multiset from the full-corpus sketch by elementwise
    // subtraction must be BYTE-identical to building over the even docs
    // only — exact deletion at multiset granularity, the capability CMS
    // trades for its one-sided bound; (2) a per-partition build merged
    // through the SQL cs_merge_agg must be byte-identical to the
    // one-shot build (linear => merge-order-free).
    "cs_turnstile_check" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir).select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      def csBytes(df: DataFrame): Array[Byte] =
        df.select(expr("cs_agg(token)")).head.getAs[Array[Byte]](0)
      val allBytes = csBytes(d)
      val odd = CountSketch.fromBytes(csBytes(d.filter(pmod(col("doc_id"), lit(2)) === 1)))
      val evenBytes = csBytes(d.filter(pmod(col("doc_id"), lit(2)) === 0))
      val retracted = CountSketch.fromBytes(allBytes).subtract(odd).toBytes
      val merged = d.groupBy(pmod(col("doc_id"), lit(8)))
        .agg(expr("cs_agg(token)").as("sk"))
        .agg(expr("cs_merge_agg(sk)")).head.getAs[Array[Byte]](0)
      s.range(1).select(
        lit(java.util.Arrays.equals(retracted, evenBytes)).as("retraction_byte_exact"),
        lit(java.util.Arrays.equals(merged, allBytes)).as("merge_byte_identical"))
    },

    // the literal-sketch path in the driver gate: the collected CMS
    // probed as an X'..' literal in pure SQL — a SketchFn of the
    // cms_estimate kind over a constant sketch, decoded once per task
    // (asserted on the optimized plan) — must agree with the
    // closure-UDF path of cms_overestimate_check: estimates over every
    // distinct token, >= exact and <= exact + eps*N
    "cms_literal_probe_check" -> { (s, dir) =>
      Graft.ensure(s)
      val t = tokens(s, dir)
      val bytes = t.select(expr("cms_agg(token)")).head.getAs[Array[Byte]](0)
      val cms = Cms.fromBytes(bytes)
      val hex = bytes.map(b => f"$b%02x").mkString
      val probed = t.groupBy(col("token")).agg(count(lit(1)).as("exact"))
        .withColumn("est", expr(s"cms_estimate(X'$hex', token)"))
      var constant = false
      probed.queryExecution.optimizedPlan.foreach(_.expressions.foreach(_.foreach { e =>
        if (graft.plans.SketchFn.isA[graft.plans.CmsEstimate](e) && e.children.head.foldable)
          constant = true
      }))
      require(constant, "the X'..' probe is not a cms_estimate SketchFn over a constant sketch")
      probed.select(col("token"),
          (col("est") >= col("exact")).as("over"),
          (col("est") <= col("exact") + lit(cms.eps * cms.total) + lit(1.0)).as("within_eps"))
        .orderBy("token")
    },

    // O68: exponentially time-decayed heavy hitters ("trending now"):
    // token events at one-minute spacing, 1-hour half-life; the exact
    // decayed mass per token (sum of exp(-lambda*age)) is computed by
    // BOTH engines and ranks the top-10; the decayed-CMS estimate —
    // built per-partition and MERGED, so the value-associativity of
    // the rescaling merge is on the gate path — must over-estimate
    // each exact mass (cells only add non-negative weight) and sit
    // within eps * total decayed mass (x1.5 float slack).
    "decayed_topk_check" -> { (s, dir) =>
      Graft.ensure(s)
      val lambda = math.log(2.0) / 3600.0
      val ev = docs(s, dir).select(col("doc_id"),
          (lit(1700000000L) + col("doc_id") * 60L).cast("double").as("ts"),
          explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
      val tNow = ev.agg(max("ts")).head.getDouble(0)
      val top = ev.groupBy("token")
        .agg(sum(exp((col("ts") - lit(tNow)) * lambda)).as("mass"))
        .orderBy(col("mass").desc, col("token")).limit(10).collect()
      val skBytes = ev.groupBy(pmod(col("doc_id"), lit(4)))
        .agg(expr("dcms_agg(token, ts)").as("sk"))
        .agg(expr("dcms_merge_agg(sk)")).head.getAs[Array[Byte]](0)
      val d = graft.core.DecayedCms.fromBytes(skBytes)
      val totalMass = d.totalAt(tNow)
      import s.implicits._
      top.toSeq.zipWithIndex.map { case (r, i) =>
        val mass = r.getDouble(1)
        val est = d.estimate(r.getString(0), tNow)
        (i + 1L, r.getString(0),
          est >= mass * (1 - 1e-9),
          est <= mass + 1.5 * d.eps * totalMass + 1e-6)
      }.toDF("rank", "token", "over", "within_eps")
    },

    // O68 in the GROUPED pattern every other sketch supports: one
    // decayed sketch per lang (partial-aggregated map-side like any
    // UDAF), per-lang trending estimates gated over + within-eps
    // against per-lang exact decayed masses; membership and ranking
    // DuckDB-anchored. At 10^5 coarse groups this is the shape of a
    // "trending per community" job — one pass, no per-key time series.
    "decayed_by_group_check" -> { (s, dir) =>
      Graft.ensure(s)
      val lambda = math.log(2.0) / 3600.0
      val ev = docs(s, dir).select(col("lang"),
          (lit(1700000000L) + col("doc_id") * 60L).cast("double").as("ts"),
          explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
      val tNow = ev.agg(max("ts")).head.getDouble(0)
      val exact = ev.groupBy("lang", "token")
        .agg(sum(exp((col("ts") - lit(tNow)) * lambda)).as("mass"))
      import org.apache.spark.sql.expressions.Window
      val top3 = exact.withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("mass").desc, col("token"))))
        .filter(col("rk") <= 3)
        .select("lang", "rk", "token", "mass").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getDouble(3))).toMap
      val sks = ev.groupBy("lang").agg(expr("dcms_agg(token, ts)").as("sk"))
        .collect().map(r => r.getString(0) -> graft.core.DecayedCms.fromBytes(
          r.getAs[Array[Byte]](1))).toMap
      import s.implicits._
      top3.toSeq.sortBy { case ((lang, rk), _) => (lang, rk) }.map {
        case ((lang, rk), (token, mass)) =>
          val d = sks(lang)
          val est = d.estimate(token, tNow)
          (lang, rk, token,
            est >= mass * (1 - 1e-9),
            est <= mass + 1.5 * d.eps * d.totalAt(tNow) + 1e-6)
      }.toDF("lang", "rk", "token", "over", "within_eps")
    },

    // O66: equi-height histogram export from one mergeable KLL — the
    // ANALYZE-stats / CBO-histogram role without a sort. The 8-bucket
    // histogram of l_extendedprice comes off the sketch
    // (`kll_histogram`); per-bucket EXACT masses are then counted in
    // one codegen'd RangeBucketExpr pass over the same interior
    // boundaries and gated within n/B +- 2*eps*n (each boundary
    // carries the sketch's rank error eps; deterministic sketch ->
    // deterministic booleans). DuckDB anchors the exact total row
    // count and the bucket frame.
    "kll_histogram_check" -> { (s, dir) =>
      Graft.ensure(s)
      val li = lineitem(s, dir)
      val bytes = li.select(expr("kll_agg(l_extendedprice)")).head.getAs[Array[Byte]](0)
      val k = Kll.fromBytes(bytes)
      val b = 8
      val hex = bytes.map(x => f"$x%02x").mkString
      val hist = s.range(1)
        .select(explode(expr(s"kll_histogram(X'$hex', $b)")).as("h"))
        .select(col("h.bucket"), col("h.lo"), col("h.hi"), col("h.rows_est"))
        .collect().sortBy(_.getInt(0))
      val bs = Array.tabulate(b - 1)(i => k.quantile((i + 1).toDouble / b))
      val exact = RangePartition.bucketCol(col("l_extendedprice"), bs)
      val counts = li.groupBy(exact.as("bucket")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val n = k.n
      val eps = k.normalizedRankError
      val bound = 2.0 * eps * n + 1.0
      val monotone = hist.sliding(2).forall(w =>
        w.length < 2 || (w(0).getDouble(2) <= w(1).getDouble(1) + 1e-9))
      import s.implicits._
      hist.toSeq.map { r =>
        val i = r.getInt(0)
        val exactCnt = counts.getOrElse(i, 0L)
        (i, n,
          math.abs(exactCnt - n.toDouble / b) <= bound,
          math.abs(r.getLong(3) - exactCnt) <= bound,
          monotone)
      }.toDF("bucket", "n_total", "equi_height_within_bound",
        "est_matches_exact_within_bound", "boundaries_monotone")
    },

    // O64: the opt-in COUNT(DISTINCT) -> HLL rewrite exercised
    // end-to-end through the driver gate (the cms_literal_probe_check
    // pattern for optimizer artifacts): the config is enabled
    // in-query, the optimized plan must carry HllEstimateKind, the
    // rewritten estimate must EQUAL hll_estimate(hll_agg(key))
    // (same hash/p/seed — the native agg is the library sketch, not a
    // lookalike), sit within the 3-sigma HLL bound of exact, and the
    // exact column itself (computed with the rule off) is what DuckDB
    // verifies.
    "approx_distinct_rewrite_check" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
      val exact = d.groupBy("lang").agg(countDistinct(col("doc_id")).as("ndv_exact"))
      require(!exact.queryExecution.optimizedPlan.expressions.exists(_.exists(
        graft.plans.SketchAgg.isA[graft.plans.HllEstimateKind.type])),
        "rule must be off by default")
      val exactRows = exact.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      s.conf.set("spark.graft.approxDistinct.enabled", "true")
      val (estRows, fired) =
        try {
          val est = d.groupBy("lang").agg(countDistinct(col("doc_id")).as("ndv_est"))
          val f = est.queryExecution.optimizedPlan.expressions.exists(_.exists(
            graft.plans.SketchAgg.isA[graft.plans.HllEstimateKind.type]))
          (est.collect().map(r => r.getString(0) -> r.getLong(1)).toMap, f)
        } finally s.conf.unset("spark.graft.approxDistinct.enabled")
      val libRows = d.groupBy("lang")
        .agg(expr("hll_estimate(hll_agg(cast(doc_id as string)))").as("ndv_lib"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sigma = 1.04 / math.sqrt(1 << graft.core.Hll.DefaultP)
      import s.implicits._
      exactRows.toSeq.sortBy(_._1).map { case (lang, ex) =>
        (lang, ex, fired,
          estRows(lang) == libRows(lang),
          math.abs(estRows(lang) - ex) <= 3 * sigma * ex + 1)
      }.toDF("lang", "ndv_exact", "rewrite_fired", "est_equals_library_hll", "within_bound")
    },

    // O71: opt-in exact percentile/median -> KLL rewrite, driver-gated
    // like O64: (a) rule off by default and the exact percentiles
    // DuckDB-matched (quantile_cont shares Spark's p*(n-1) linear
    // interpolation); (b) with spark.graft.approxPercentile.enabled the
    // optimized plan carries KllQuantileKind; (c) each estimate's
    // EXACT rank sits within the published KLL rank error (the suite's
    // 2x deterministic-compaction margin — kll_rank_bound_check
    // convention). Exact Percentile buffers every distinct value per
    // group; the rewrite holds a ~1KB sketch instead — the 100TB lever.
    "approx_percentile_rewrite_check" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
      val exact = d.groupBy("lang").agg(
        expr("percentile(n_chars, 0.5D)").as("p50_exact"),
        expr("percentile(n_chars, 0.95D)").as("p95_exact"))
      require(!exact.queryExecution.optimizedPlan.expressions.exists(_.exists(
        graft.plans.SketchAgg.isA[graft.plans.KllQuantileKind])),
        "rule must be off by default")
      val exactRows = exact.collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      s.conf.set("spark.graft.approxPercentile.enabled", "true")
      val (estRows, fired) =
        try {
          val est = d.groupBy("lang").agg(
            expr("percentile(n_chars, 0.5D)").as("p50_est"),
            expr("percentile(n_chars, 0.95D)").as("p95_est"))
          val f = est.queryExecution.optimizedPlan.expressions.exists(_.exists(
            graft.plans.SketchAgg.isA[graft.plans.KllQuantileKind]))
          (est.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap, f)
        } finally s.conf.unset("spark.graft.approxPercentile.enabled")
      // exact rank of each estimate, one distributed pass over documents
      val langs = exactRows.keys.toSeq.sorted
      val rankAggs = langs.flatMap { lang =>
        def rankOf(v: Double, tag: String) =
          (sum(when(col("lang") === lang && col("n_chars") <= v, 1L).otherwise(0L)) /
            sum(when(col("lang") === lang, 1L).otherwise(0L))).as(s"$tag$lang")
        Seq(rankOf(estRows(lang)._1, "r50_"), rankOf(estRows(lang)._2, "r95_"))
      }
      val row = d.agg(rankAggs.head, rankAggs.tail: _*).head
      val eps = Kll.empty().normalizedRankError * 2.0
      import s.implicits._
      langs.zipWithIndex.map { case (lang, i) =>
        (lang, exactRows(lang)._1, exactRows(lang)._2, fired,
          math.abs(row.getDouble(2 * i) - 0.5) <= eps,
          math.abs(row.getDouble(2 * i + 1) - 0.95) <= eps)
      }.toDF("lang", "p50_exact", "p95_exact", "rewrite_fired",
        "p50_within_bound", "p95_within_bound")
    },

    // O73: mergeable bottom-k uniform sample, driven through the full
    // TWO-STAGE path (per-(lang,source) partial samples re-merged per
    // lang by sample_merge_agg) — exactness of the rollup is the merge
    // law (bottom-k of a union of bottom-ks == bottom-k of the union).
    // VALUE-EXACT oracle: the retained set is the k smallest md5(key)
    // of the distinct-key set, which DuckDB recomputes verbatim with a
    // row_number over md5 — no bound, no estimate.
    "sample_bottomk_check" -> { (s, dir) =>
      Graft.ensure(s)
      docs(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(expr("sample_agg(cast(doc_id as string))").as("sk"))
        .groupBy(col("lang"))
        .agg(expr("sample_merge_agg(sk)").as("sk"))
        .select(col("lang"), explode(expr("sample_keys(sk)")).as("key"))
        .orderBy("lang", "key")
    },

    // O74: one-pass table profile (ANALYZE-stats role) — exact
    // count/nulls/min/max/mean DuckDB-matched per column; NDV and
    // p50/p95 estimates gated by bound booleans against Spark-side
    // exacts (HLL 3-sigma, KLL rank eps with the suite's 2x margin);
    // the string column's heavy hitter is EXACT-matched (Misra-Gries
    // is exact below capacity: 3 distinct flags << 1024 slots), so
    // top_key/top_cnt are value columns, not booleans.
    "table_profile_check" -> { (s, dir) =>
      Graft.ensure(s)
      val li = lineitem(s, dir)
      val numeric = Seq("l_extendedprice", "l_quantity")
      val prof = graft.pipeline.Profile.profile(s, li, numeric, Seq("l_returnflag"))
        .collect().map(r => r.getString(0) -> r).toMap
      // verification pass: exact NDV + exact ranks of the estimates
      val ndvAggs = (numeric :+ "l_returnflag").map(c =>
        countDistinct(col(c)).as(s"${c}__ndv"))
      val rankAggs = numeric.flatMap { c =>
        Seq(0.5 -> "p50_est", 0.95 -> "p95_est").map { case (q, f) =>
          val v = prof(c).getAs[Double](f)
          (sum(when(col(c) <= v, 1L).otherwise(0L)) / count(lit(1))).as(s"${c}__r$q")
        }
      }
      val ver = li.agg((ndvAggs ++ rankAggs).head, (ndvAggs ++ rankAggs).tail: _*).head
      val sigma = 1.04 / math.sqrt(1 << graft.core.Hll.DefaultP)
      val eps = Kll.empty().normalizedRankError * 2.0
      import s.implicits._
      val rows = (numeric :+ "l_returnflag").sorted.map { c =>
        val p = prof(c)
        val ndvOk = math.abs(p.getAs[Long]("ndv_est") -
          ver.getAs[Long](s"${c}__ndv")) <= 3 * sigma * ver.getAs[Long](s"${c}__ndv") + 1
        val (p50Ok, p95Ok) =
          if (numeric.contains(c))
            (math.abs(ver.getAs[Double](s"${c}__r0.5") - 0.5) <= eps,
              math.abs(ver.getAs[Double](s"${c}__r0.95") - 0.95) <= eps)
          else (true, true)
        (c, p.getAs[Long]("n"), p.getAs[Long]("nulls"),
          Option(p.getAs[java.lang.Double]("min_d")).map(_.doubleValue()),
          Option(p.getAs[java.lang.Double]("max_d")).map(_.doubleValue()),
          Option(p.getAs[java.lang.Double]("mean")).map(_.doubleValue()),
          ndvOk, p50Ok, p95Ok,
          Option(p.getAs[String]("top_key")),
          Option(p.getAs[java.lang.Long]("top_est")).map(_.longValue()))
      }
      rows.toDF("col_name", "n", "nulls", "min_d", "max_d", "mean",
        "ndv_ok", "p50_ok", "p95_ok", "top_key", "top_cnt")
    },

    // O76: opt-in mode() -> Misra-Gries rewrite, driver-gated like
    // O64/O71. The corpus HAS tied modes (de at sf0.01, en at sf0.1 —
    // measured), which makes the tie-break part of the gate: the
    // rewrite resolves ties deterministically to the smallest value
    // (FreqSketch.topK order) and DuckDB recomputes that exact
    // convention, so mode_est is a VALUE column. Exact Spark mode()
    // picks an arbitrary tied value — gated as a boolean (its count
    // equals the max count), not as a value.
    "approx_mode_rewrite_check" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
      val off = d.groupBy("lang").agg(expr("mode(source)").as("m"))
      require(!off.queryExecution.optimizedPlan.expressions.exists(_.exists(
        graft.plans.SketchAgg.isA[graft.plans.MgModeKind])), "rule must be off by default")
      val offRows = off.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      s.conf.set("spark.graft.approxMode.enabled", "true")
      val (estRows, fired) =
        try {
          val est = d.groupBy("lang").agg(expr("mode(source)").as("m"))
          val f = est.queryExecution.optimizedPlan.expressions.exists(_.exists(
            graft.plans.SketchAgg.isA[graft.plans.MgModeKind]))
          (est.collect().map(r => r.getString(0) -> r.getString(1)).toMap, f)
        } finally s.conf.unset("spark.graft.approxMode.enabled")
      // exact per-(lang, source) counts judge both answers
      val counts = d.groupBy("lang", "source").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val maxCnt = counts.groupBy(_._1._1).map { case (l, m) => l -> m.values.max }
      import s.implicits._
      estRows.keys.toSeq.sorted.map { lang =>
        (lang, estRows(lang), fired,
          counts((lang, offRows(lang))) == maxCnt(lang),
          counts((lang, estRows(lang))) == maxCnt(lang))
      }.toDF("lang", "mode_est", "rewrite_fired", "exact_is_valid_mode",
        "est_is_max_count")
    },

    // O80: the opt-in top-k-by-count -> Misra-Gries rewrite, inside the
    // driver's oracle gate: with the rule ON, the canonical "20 most
    // frequent tokens" SQL must produce rows IDENTICAL to DuckDB's
    // exact evaluation — counts, membership and (cnt desc, token) order
    // all — because the corpus vocabulary fits the 256-slot capacity,
    // where Misra-Gries is exact by construction. The plan assert pins
    // that the rows came through the rewritten path (one MG buffer per
    // task through the exchange instead of one row per distinct token).
    "approx_topk_rewrite_check" -> { (s, dir) =>
      Graft.ensure(s)
      // the MG aggregate sits mid-plan (under Generate/Project), so the
      // detection must walk EVERY node's expressions, not the root's
      def mgAggs(df: DataFrame): Int = {
        var n = 0
        df.queryExecution.optimizedPlan.foreach(p => p.expressions.foreach(_.foreach {
          case e if graft.plans.SketchAgg.isA[graft.plans.MgPairsKind](e) => n += 1
          case _ =>
        }))
        n
      }
      val base = tokens(s, dir).filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(20)
      require(mgAggs(base) == 0, "rule must be off by default")
      s.conf.set("spark.graft.approxTopK.enabled", "true")
      try {
        val q = tokens(s, dir).filter(col("token") =!= "")
          .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token").asc).limit(20)
        require(mgAggs(q) == 1,
          "approxTopK rule did not fire on the top-k-by-count shape")
        val rows = q.collect()
        import s.implicits._
        rows.map(r => (r.getString(0), r.getLong(1))).toSeq
          .toDF("token", "cnt")
      } finally s.conf.unset("spark.graft.approxTopK.enabled")
    },

    // O56: CMS heavy-change detection (Cormode-Muthukrishnan's "what's
    // new" question): the tokens whose frequency moved most between two
    // corpus halves, from TWO mergeable 230KB sketches instead of two
    // full token-count tables — the drift monitor a recurring corpus
    // release runs between snapshots. Row membership and the exact
    // early/late/change columns come from the exact counts (DuckDB
    // reproduces them); the sketch contributes est_change, gated within
    // eps*(N_early+N_late) of the exact change (fixed seed, so the
    // boolean is deterministic — either always true or always false).
    "cms_heavy_change_check" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
      def skOf(h: Int): (String, Cms) = {
        val bytes = d.filter(pmod(col("doc_id"), lit(2)) === h)
          .select(expr("cms_tokens_agg(text)")).head.getAs[Array[Byte]](0)
        (bytes.map(b => f"$b%02x").mkString, Cms.fromBytes(bytes))
      }
      val (hexA, cmsA) = skOf(0)
      val (hexB, cmsB) = skOf(1)
      val bound = cmsA.eps * cmsA.total + cmsB.eps * cmsB.total + 1.0
      d.select(pmod(col("doc_id"), lit(2)).as("h"),
          explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(
          sum(when(col("h") === 0, 1L).otherwise(0L)).as("early"),
          sum(when(col("h") === 1, 1L).otherwise(0L)).as("late"))
        .withColumn("change", abs(col("early") - col("late")))
        .orderBy(desc("change"), asc("token")).limit(20)
        .withColumn("est_change", abs(expr(s"cms_estimate(X'$hexB', token)") -
          expr(s"cms_estimate(X'$hexA', token)")))
        .select(col("token"), col("early"), col("late"), col("change"),
          (abs(col("est_change") - col("change")) <= lit(bound)).as("est_within_bound"))
        .orderBy(desc("change"), asc("token"))
    },

    // O79 composed: heavy-change detection from ONE subtraction.
    // Count Sketch is linear, so sketch(late) - sketch(early) IS a
    // sketch of the SIGNED change multiset — per-token change reads
    // directly off the delta sketch, two-sided-bounded by
    // 3*sqrt(F2(delta)/width), where F2(delta) = sum (f_late-f_early)^2
    // is the second moment of the CHANGE. Contrast O56 above: the CMS
    // pair's error budget scales with eps*(N_early + N_late) — the
    // corpus sizes — while this one scales with how much actually
    // changed, which is exactly what a between-snapshots drift monitor
    // wants (tiny drift => tiny error, whatever the corpus size).
    "cs_heavy_change_check" -> { (s, dir) =>
      Graft.ensure(s)
      val tok = docs(s, dir).select(pmod(col("doc_id"), lit(2)).as("h"),
          explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
      // token-kernel build (cs_tokens_agg): one allocation per doc, no
      // exploded token relation — byte-identical to the exploded
      // cs_agg(token) build by linearity (spec-pinned)
      def csOf(h: Int): CountSketch = CountSketch.fromBytes(
        docs(s, dir).filter(pmod(col("doc_id"), lit(2)) === h)
          .select(expr("cs_tokens_agg(text)")).head.getAs[Array[Byte]](0))
      val delta = csOf(1).subtract(csOf(0))
      val exact = tok.groupBy(col("token")).agg(
          sum(when(col("h") === 0, 1L).otherwise(0L)).as("early"),
          sum(when(col("h") === 1, 1L).otherwise(0L)).as("late"))
        .withColumn("change", col("late") - col("early"))
      val f2delta = exact.agg(sum(col("change") * col("change"))).head.getLong(0)
      val bound = 3.0 * math.sqrt(f2delta.toDouble / delta.width)
      // r6: literal-sketch probe instead of a driver-local closure UDF
      val hexDelta = delta.toBytes.map(x => f"$x%02x").mkString
      exact.orderBy(abs(col("change")).desc, col("token").asc).limit(20)
        .select(col("token"), col("early"), col("late"), col("change"),
          (abs(expr(s"cs_estimate(X'$hexDelta', token)") - col("change")) <= lit(bound))
            .as("within_bound"))
        .orderBy(abs(col("change")).desc, col("token").asc)
    },

    "cms_tokens_agg_equivalence" -> { (s, dir) =>
      Graft.ensure(s)
      // document-level tokenizing aggregator == exploded-row aggregator
      val viaExplode = tokens(s, dir)
        .select(expr("cms_agg(token)")).head.getAs[Array[Byte]](0)
      val viaDocs = docs(s, dir)
        .select(expr("cms_tokens_agg(text)")).head.getAs[Array[Byte]](0)
      s.range(1).select(
        lit(java.util.Arrays.equals(viaExplode, viaDocs)).as("byte_identical"))
    },

    // Heavy-hitter top-k as a REAL operator: the Misra-Gries aggregator
    // carries its own candidate set, so top-k extraction never touches
    // the distinct-token relation (the thing a sketch exists to avoid
    // materializing at web scale — the r1 CMS form enumerated ALL
    // distinct tokens and point-estimated each). Tokenization happens
    // inside the aggregator; the whole query is one map-side-combined
    // aggregation over document rows.
    "topk_tokens" -> { (s, dir) =>
      Graft.ensure(s)
      docs(s, dir)
        .agg(expr("topk_tokens_agg(text)").as("sk"))
        .select(explode(expr("topk_items(sk, 20)")).as("kv"))
        .select(col("kv.item").as("token"), col("kv.est").as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
    },

    // merge-law evidence for the heavy-hitter sketch on the driver gate:
    // per-lang sketches re-merged == true counts recoverable (the token
    // vocabulary fits the capacity, so Misra-Gries degrades to exact and
    // the re-merged estimates must EQUAL the exact counts)
    "topk_merge_equivalence" -> { (s, dir) =>
      Graft.ensure(s)
      val perLang = docs(s, dir).groupBy("lang").agg(expr("topk_tokens_agg(text)").as("sk"))
      perLang.agg(expr("topk_merge_agg(sk)").as("sk"))
        .select(explode(expr("topk_items(sk, 20)")).as("kv"))
        .select(col("kv.item").as("token"), col("kv.est").as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
    },

    "exact_token_topk" -> { (s, dir) =>
      tokens(s, dir).groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(20)
    },

    // ---------------------------------------------------------- KLL
    "kll_quantiles_price" -> { (s, dir) =>
      Graft.ensure(s)
      val li = lineitem(s, dir)
      val sk = Kll.fromBytes(
        li.select(expr("kll_agg(l_extendedprice)")).head.getAs[Array[Byte]](0))
      val qs = Seq(0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
      import s.implicits._
      qs.map(q => (q, sk.quantile(q))).toDF("q", "est")
    },

    "kll_rank_bound_check" -> { (s, dir) =>
      Graft.ensure(s)
      val li = lineitem(s, dir)
      val sk = Kll.fromBytes(
        li.select(expr("kll_agg(l_extendedprice)")).head.getAs[Array[Byte]](0))
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val ests = qs.map(sk.quantile)
      // exact rank of each estimate, one pass
      val rankAggs = ests.zipWithIndex.map { case (v, i) =>
        (sum(when(col("l_extendedprice") <= v, 1L).otherwise(0L)) /
          count(lit(1))).as(s"r$i")
      }
      val row = li.agg(rankAggs.head, rankAggs.tail: _*).head
      val eps = sk.normalizedRankError * 2.0 // deterministic-compaction margin
      import s.implicits._
      qs.zipWithIndex.map { case (q, i) =>
        (q, math.abs(row.getDouble(i) - q) <= eps)
      }.toDF("q", "within_bound").orderBy("q")
    },

    // O60: distribution drift between two corpus snapshots — the
    // numeric twin of cms_heavy_change_check: Kolmogorov-Smirnov
    // distance between the doc-length distributions of the two halves,
    // estimated from two mergeable KLL sketches (at 100 TB: two 1KB
    // states instead of two sorted scans) and judged against the exact
    // KS computed from the full CDFs. The sketch ranks are probed on
    // the same distinct-value grid via X'..' literals — map-only, no
    // driver loop; |KS_est - KS_exact| <= max-rank-error of each
    // sketch, with the suite's 2x deterministic-compaction margin.
    "kll_drift_check" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir).select(pmod(col("doc_id"), lit(2)).as("h"),
        col("n_chars").cast("double").as("v"))
      def skOf(h: Int): Kll = Kll.fromBytes(d.filter(col("h") === h)
        .select(expr("kll_agg(v)")).head.getAs[Array[Byte]](0))
      val (a, b) = (skOf(0), skOf(1))
      def hexOf(k: Kll): String = k.toBytes.map(x => f"$x%02x").mkString
      val (hexA, hexB) = (hexOf(a), hexOf(b))
      val steps = d.groupBy(col("v")).agg(
        sum(when(col("h") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("c1"))
      // r6: the exact-CDF anchor used Window.orderBy(v) with no
      // partition — a single-partition cumulative sum whose task grows
      // with the distinct-value grid at 100x. Range-partitioned
      // two-pass CDF instead: KLL-derived value buckets (the sketches
      // are already in hand — their merge bounds the full distribution),
      // per-bucket partial sums collected as a BOUNDED P-row artifact,
      // and the within-bucket running sum adds the prefix offset of the
      // earlier buckets. Integer counts make the split exact: same f0/
      // f1 to the last bit, same KS. No single-partition WindowExec.
      val tot = steps.agg(sum(col("c0")), sum(col("c1"))).head
      val (n0, n1) = (tot.getLong(0).toDouble, tot.getLong(1).toDouble)
      val numRanges = 16
      val merged = Kll.fromBytes(a.toBytes).merge(b)
      val bs = graft.pipeline.RangePartition.boundaries(merged, numRanges)
      val stepsB = steps.withColumn("__b",
        graft.pipeline.RangePartition.bucketCol(col("v"), bs))
      val bucketSums = stepsB.groupBy(col("__b"))
        .agg(sum(col("c0")).as("s0"), sum(col("c1")).as("s1"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val off0 = new Array[Long](numRanges)
      val off1 = new Array[Long](numRanges)
      var acc0 = 0L
      var acc1 = 0L
      for (i <- 0 until numRanges) {
        off0(i) = acc0
        off1(i) = acc1
        acc0 += bucketSums.get(i).map(_._1).getOrElse(0L)
        acc1 += bucketSums.get(i).map(_._2).getOrElse(0L)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__b")).orderBy("v")
      val r = stepsB.select(col("v"),
          ((sum(col("c0")).over(w) +
            element_at(typedLit(off0.toSeq), col("__b") + 1)) / lit(n0)).as("f0"),
          ((sum(col("c1")).over(w) +
            element_at(typedLit(off1.toSeq), col("__b") + 1)) / lit(n1)).as("f1"),
          expr(s"kll_rank(X'$hexA', v)").as("ra"),
          expr(s"kll_rank(X'$hexB', v)").as("rb"))
        .agg(max(abs(col("f0") - col("f1"))).as("ks_exact"),
          max(abs(col("ra") - col("rb"))).as("ks_est"))
        .head
      val bound = (a.normalizedRankError + b.normalizedRankError) * 2.0
      s.range(1).select(
        lit(math.rint(r.getDouble(0) * 10000) / 10000).as("ks_exact"),
        lit(math.abs(r.getDouble(1) - r.getDouble(0)) <= bound).as("kll_within_bound"))
    },

    "kll_ts_quantiles" -> { (s, dir) =>
      Graft.ensure(s)
      // events.ts is TIMESTAMP_NTZ in the driver parquet; session is UTC
      val ev = events(s, dir)
        .select(unix_micros(col("ts").cast("timestamp")).cast("double").as("ts_us"))
      val sk = Kll.fromBytes(ev.select(expr("kll_agg(ts_us)")).head.getAs[Array[Byte]](0))
      import s.implicits._
      Seq(0.1, 0.5, 0.9).map(q => (q, sk.quantile(q).toLong)).toDF("q", "est_ts_us")
    },

    // oracle companion to the rows-only timestamp dump above: the exact
    // rank of each KLL timestamp-quantile estimate must sit within the
    // deterministic-compaction rank-error margin of the requested q
    // (same shape as kll_rank_bound_check, over unix_micros(ts))
    "kll_ts_quantiles_check" -> { (s, dir) =>
      Graft.ensure(s)
      val ev = events(s, dir)
        .select(unix_micros(col("ts").cast("timestamp")).cast("double").as("ts_us"))
      val sk = Kll.fromBytes(ev.select(expr("kll_agg(ts_us)")).head.getAs[Array[Byte]](0))
      val qs = Seq(0.1, 0.5, 0.9)
      val ests = qs.map(sk.quantile)
      val rankAggs = ests.zipWithIndex.map { case (v, i) =>
        (sum(when(col("ts_us") <= v, 1L).otherwise(0L)) / count(lit(1))).as(s"r$i")
      }
      val row = ev.agg(rankAggs.head, rankAggs.tail: _*).head
      val eps = sk.normalizedRankError * 2.0
      import s.implicits._
      qs.zipWithIndex.map { case (q, i) =>
        (q, math.abs(row.getDouble(i) - q) <= eps)
      }.toDF("q", "within_bound").orderBy("q")
    },

    // ------------------------------------------------------ t-digest
    "tdigest_doclen_q" -> { (s, dir) =>
      Graft.ensure(s)
      docs(s, dir).groupBy(col("lang"))
        .agg(expr("tdigest_agg(cast(n_chars as double))").as("sk"))
        .select(col("lang"),
          expr("tdigest_quantile(sk, 0.5D)").as("p50"),
          expr("tdigest_quantile(sk, 0.95D)").as("p95"))
        .orderBy("lang")
    },

    "tdigest_bound_check" -> { (s, dir) =>
      Graft.ensure(s)
      val ev = events(s, dir)
      val sk = TDigest.fromBytes(
        ev.select(expr("tdigest_agg(value)")).head.getAs[Array[Byte]](0))
      val qs = Seq(0.01, 0.1, 0.5, 0.9, 0.99)
      val ests = qs.map(sk.quantile)
      val rankAggs = ests.zipWithIndex.map { case (v, i) =>
        (sum(when(col("value") <= v, 1L).otherwise(0L)) / count(lit(1))).as(s"r$i")
      }
      val row = ev.agg(rankAggs.head, rankAggs.tail: _*).head
      import s.implicits._
      qs.zipWithIndex.map { case (q, i) =>
        (q, math.abs(row.getDouble(i) - q) <= 0.05)
      }.toDF("q", "within_tolerance").orderBy("q")
    },

    // ---------------------------------------------------- theta (O46)
    // KMV/theta distinct-count with SET ALGEBRA — what HLL cannot do:
    // intersections/differences on the retained-sample level instead of
    // inclusion-exclusion (whose error scales with the UNION). Below
    // capacity (k = 2048) the sketch retains every distinct hash, so
    // the estimates are EXACT and the oracle is value equality, not a
    // bound. The event-user domains sit below k at every SF the driver
    // runs, which is asserted (at_capacity=false) rather than assumed.
    "theta_users_by_type" -> { (s, dir) =>
      Graft.ensure(s)
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(expr("theta_estimate(theta_agg(cast(user_id as string)))")
          .as("ndv_users"))
        .orderBy("event_type")
    },

    // set algebra through the registered SQL surface (X'..' literals,
    // decoded once per task): two PARTIALLY-overlapping user cohorts
    // (early-window clickers vs late-window purchasers — every user
    // does every event type over the full month, so cohorts need a
    // time cut to differ), exact vs DuckDB INTERSECT/EXCEPT/union
    "theta_intersect_check" -> { (s, dir) =>
      Graft.ensure(s)
      val ev = events(s, dir)
      def hexOf(t: String, cut: Column): String = ev
        .filter(col("event_type") === t && cut)
        .select(expr("theta_agg(cast(user_id as string))"))
        .head.getAs[Array[Byte]](0).map(b => f"$b%02x").mkString
      val a = hexOf("click", col("ts") < "2024-01-04")
      val b = hexOf("purchase", col("ts") >= "2024-01-27")
      s.range(1).select(
        expr(s"theta_intersect_estimate(X'$a', X'$b')").as("early_and_late"),
        expr(s"theta_diff_estimate(X'$a', X'$b')").as("early_not_late"),
        expr(s"theta_estimate(theta_merge(X'$a', X'$b'))").as("early_or_late"))
    },

    // estimating mode: lineitem orderkeys exceed k, so the estimator
    // runs at capacity — exact value from DuckDB, estimate within
    // 4 RSE (deterministic: fixed seed), capacity asserted
    "theta_orderkey_bound" -> { (s, dir) =>
      Graft.ensure(s)
      val li = lineitem(s, dir)
      val t = Theta.fromBytes(li
        .select(expr("theta_agg(cast(l_orderkey as string))"))
        .head.getAs[Array[Byte]](0))
      val exact = li.select(countDistinct(col("l_orderkey"))).head.getLong(0)
      s.range(1).select(
        lit(exact).as("exact_orderkeys"),
        lit(math.abs(t.estimate / exact - 1.0) <= 4 * t.rse).as("within_bound"),
        // scale-aware retention invariant: k smallest hashes at/above
        // capacity, EVERY distinct hash below it (ndv < k at sf0.001)
        lit(t.retained.toLong == math.min(Theta.DefaultK.toLong, exact))
          .as("at_capacity"))
    },

    // the composed analytical use of theta set algebra: day-over-day
    // distinct-user retention — one theta sketch per day (30 rows),
    // consecutive-day pairs by a self-join on the tiny daily frame,
    // retained = |users(d) INTERSECT users(d+1)| from the sketches.
    // Every observed day stays below k (1 356 max at sf0.1 vs k=2048),
    // so the sketches retain every distinct hash and the intersection
    // is VALUE-EXACT — DuckDB recomputes it from raw rows. At 100 TB
    // the daily sketch table replaces an O(|users|) distinct self-join
    // with a per-day mergeable 4KB state and a driver-free pair join.
    "theta_retention_check" -> { (s, dir) =>
      Graft.ensure(s)
      val ev = events(s, dir).select(to_date(col("ts")).as("d"), col("user_id"))
      val daily = ev.groupBy(col("d"))
        .agg(expr("theta_agg(cast(user_id as string))").as("sk"),
          countDistinct(col("user_id")).as("ndv"))
      daily.as("x").join(daily.as("y"), col("y.d") === date_add(col("x.d"), 1))
        .select(col("x.d").as("d"),
          expr("theta_intersect_estimate(x.sk, y.sk)").as("retained"),
          (col("x.ndv") < lit(Theta.DefaultK.toLong) &&
            col("y.ndv") < lit(Theta.DefaultK.toLong)).as("exact_mode"))
        // zero-overlap day pairs would be absent from the oracle's join
        // but present in the pair frame; align row membership (never
        // fires on this data — ~90% of users are active every day)
        .filter(col("retained") > 0)
        .orderBy("d")
    },

    // O59: sketches as WINDOW aggregates — rolling 7-day distinct
    // users from the same per-day theta table O55 builds, merged over
    // a sliding frame (`theta_merge_agg ... ROWS BETWEEN 6 PRECEDING
    // AND CURRENT ROW`). The classic "rolling distinct" that exact SQL
    // can only answer by re-scanning every window (the oracle below
    // does exactly that, fanning each day out 7x): with mergeable
    // states the input is one row per day regardless of corpus size,
    // so the window costs O(days x frame) sketch merges — corpus scale
    // only ever touches the groupBy that built the daily table.
    // Value-exact below capacity (7-day union <= 1 500 users at sf0.1
    // vs k = 2048).
    "theta_rolling_ndv_check" -> { (s, dir) =>
      Graft.ensure(s)
      val daily = events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id"))
        .groupBy(col("d"))
        .agg(expr("theta_agg(cast(user_id as string))").as("sk"))
      daily
        .withColumn("w", expr(
          "theta_merge_agg(sk) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"))
        .select(col("d"), expr("theta_estimate(w)").as("ndv_7d"))
        .orderBy("d")
    },

    // merge path == one-shot build, byte-identical (the engine-wide
    // mergeability contract, through the SQL merge aggregator)
    "theta_merge_equivalence" -> { (s, dir) =>
      Graft.ensure(s)
      val ev = events(s, dir)
      val whole = ev.select(expr("theta_agg(cast(user_id as string))"))
        .head.getAs[Array[Byte]](0)
      val merged = ev.groupBy(col("event_type"))
        .agg(expr("theta_agg(cast(user_id as string))").as("sk"))
        .select(expr("theta_merge_agg(sk)"))
        .head.getAs[Array[Byte]](0)
      s.range(1).select(
        lit(java.util.Arrays.equals(whole, merged)).as("byte_identical"))
    },
  )

  val oracleSql: Map[String, String] = Map(
    "ebf_lineitem_probe" ->
      "SELECT DISTINCT l_orderkey, TRUE AS hit FROM lineitem ORDER BY l_orderkey",
    "ebf_expand_roundtrip" ->
      "SELECT doc_id, TRUE AS hit_after_expand FROM documents ORDER BY doc_id",
    "ebf_sharded_probe" ->
      "SELECT doc_id, TRUE AS hit FROM documents ORDER BY doc_id",
    "ebf_compress_roundtrip" ->
      "SELECT TRUE AS bytes_equal, TRUE AS members_ok",
    "ebf_delete_semantics" ->
      "SELECT doc_id, TRUE AS hit FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id",
    "ebf_fpr_check" ->
      "SELECT TRUE AS no_false_negatives, TRUE AS fpr_within_bound",
    "hll_events_user_ndv" ->
      "SELECT event_type, TRUE AS within_bound FROM events GROUP BY event_type ORDER BY event_type",
    "ebf_metrics_check" ->
      ("SELECT lang, TRUE AS n_exact, TRUE AS fpr_bound_sane, TRUE AS layout_sane " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "hll_rollup_bound" ->
      ("SELECT COALESCE(lang, 'ALL') AS lang, TRUE AS within_bound " +
        "FROM documents GROUP BY ROLLUP(lang) ORDER BY lang"),
    "cms_overestimate_check" ->
      "SELECT token, TRUE AS over, TRUE AS within_eps FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents) ORDER BY token",
    "cms_tokens_agg_equivalence" ->
      "SELECT TRUE AS byte_identical",
    "cms_join_size_check" ->
      ("SELECT (SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey) " +
        "AS exact_join_size, TRUE AS overestimates, TRUE AS within_published_bound"),
    "cs_join_size_check" ->
      ("SELECT (SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey) " +
        "AS exact_join_size, TRUE AS within_4sigma, TRUE AS f2_within_4sigma"),
    "cs_point_check" ->
      ("SELECT token, COUNT(*) AS exact, TRUE AS within_bound FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
        "GROUP BY token ORDER BY token"),
    "cs_turnstile_check" ->
      "SELECT TRUE AS retraction_byte_exact, TRUE AS merge_byte_identical",
    "cms_literal_probe_check" ->
      "SELECT token, TRUE AS over, TRUE AS within_eps FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents) ORDER BY token",
    "approx_distinct_rewrite_check" ->
      ("SELECT lang, count(DISTINCT doc_id) AS ndv_exact, TRUE AS rewrite_fired, " +
        "TRUE AS est_equals_library_hll, TRUE AS within_bound " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "approx_topk_rewrite_check" ->
      ("SELECT token, COUNT(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) " +
        "AS token FROM documents) WHERE token <> '' GROUP BY token " +
        "ORDER BY cnt DESC, token ASC LIMIT 20"),
    "approx_mode_rewrite_check" ->
      ("SELECT lang, (SELECT source FROM documents d2 WHERE d2.lang = d.lang " +
        "GROUP BY source ORDER BY count(*) DESC, source LIMIT 1) AS mode_est, " +
        "TRUE AS rewrite_fired, TRUE AS exact_is_valid_mode, " +
        "TRUE AS est_is_max_count " +
        "FROM (SELECT DISTINCT lang FROM documents) d ORDER BY lang"),
    "table_profile_check" ->
      ("SELECT 'l_extendedprice' AS col_name, count(l_extendedprice) AS n, " +
        "count(*) - count(l_extendedprice) AS nulls, " +
        "min(l_extendedprice) AS min_d, max(l_extendedprice) AS max_d, " +
        "avg(l_extendedprice) AS mean, TRUE AS ndv_ok, TRUE AS p50_ok, " +
        "TRUE AS p95_ok, CAST(NULL AS VARCHAR) AS top_key, " +
        "CAST(NULL AS BIGINT) AS top_cnt FROM lineitem " +
        "UNION ALL SELECT 'l_quantity', count(l_quantity), " +
        "count(*) - count(l_quantity), min(l_quantity), max(l_quantity), " +
        "avg(l_quantity), TRUE, TRUE, TRUE, NULL, NULL FROM lineitem " +
        "UNION ALL SELECT 'l_returnflag', count(l_returnflag), " +
        "count(*) - count(l_returnflag), CAST(NULL AS DOUBLE), " +
        "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), TRUE, TRUE, TRUE, " +
        "(SELECT l_returnflag FROM lineitem GROUP BY 1 " +
        " ORDER BY count(*) DESC, l_returnflag LIMIT 1), " +
        "(SELECT count(*) FROM lineitem GROUP BY l_returnflag " +
        " ORDER BY count(*) DESC, l_returnflag LIMIT 1) FROM lineitem " +
        "ORDER BY col_name"),
    "sample_bottomk_check" ->
      ("SELECT lang, key FROM (" +
        "SELECT lang, CAST(doc_id AS VARCHAR) AS key, " +
        "row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn FROM documents) " +
        "WHERE rn <= 64 ORDER BY lang, key"),
    "approx_percentile_rewrite_check" ->
      ("SELECT lang, quantile_cont(n_chars, 0.5) AS p50_exact, " +
        "quantile_cont(n_chars, 0.95) AS p95_exact, TRUE AS rewrite_fired, " +
        "TRUE AS p50_within_bound, TRUE AS p95_within_bound " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "decayed_topk_check" ->
      ("WITH ev AS (SELECT 1700000000 + doc_id * 60 AS ts, " +
        "unnest(string_split(text, ' ')) AS token FROM documents), " +
        "mx AS (SELECT max(ts) AS t FROM ev), " +
        "m AS (SELECT token, sum(exp(ln(2) / 3600.0 * (ts - mx.t))) AS mass " +
        "FROM ev, mx WHERE token <> '' GROUP BY token) " +
        "SELECT row_number() OVER (ORDER BY mass DESC, token) AS rank, token, " +
        "TRUE AS over, TRUE AS within_eps FROM m ORDER BY mass DESC, token LIMIT 10"),
    "decayed_by_group_check" ->
      ("WITH ev AS (SELECT lang, 1700000000 + doc_id * 60 AS ts, " +
        "unnest(string_split(text, ' ')) AS token FROM documents), " +
        "mx AS (SELECT max(ts) AS t FROM ev), " +
        "m AS (SELECT lang, token, sum(exp(ln(2) / 3600.0 * (ts - mx.t))) AS mass " +
        "FROM ev, mx WHERE token <> '' GROUP BY lang, token), " +
        "r AS (SELECT lang, token, mass, row_number() OVER " +
        "(PARTITION BY lang ORDER BY mass DESC, token) AS rk FROM m) " +
        "SELECT lang, CAST(rk AS INT) AS rk, token, TRUE AS over, TRUE AS within_eps " +
        "FROM r WHERE rk <= 3 ORDER BY lang, rk"),
    "kll_histogram_check" ->
      ("SELECT CAST(g AS INT) AS bucket, (SELECT count(*) FROM lineitem) AS n_total, " +
        "TRUE AS equi_height_within_bound, TRUE AS est_matches_exact_within_bound, " +
        "TRUE AS boundaries_monotone FROM generate_series(0, 7) t(g) ORDER BY bucket"),
    "exact_token_topk" ->
      "SELECT token, COUNT(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20",
    // vocabulary (31 tokens at sf0.01) fits the 256-counter capacity, so
    // the Misra-Gries result must EQUAL the exact top-20 (counts too);
    // under-capacity approximation behavior is covered by unit tests
    "topk_tokens" ->
      "SELECT token, COUNT(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE text <> '') GROUP BY token HAVING token <> '' ORDER BY cnt DESC, token ASC LIMIT 20",
    "topk_merge_equivalence" ->
      "SELECT token, COUNT(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE text <> '') GROUP BY token HAVING token <> '' ORDER BY cnt DESC, token ASC LIMIT 20",
    "kll_rank_bound_check" ->
      "SELECT CAST(q AS DOUBLE) AS q, TRUE AS within_bound FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9)) t(q) ORDER BY q",
    "kll_drift_check" ->
      ("WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS v, doc_id % 2 AS h FROM documents), " +
        "tot AS (SELECT CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0, " +
        "CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1 FROM v), " +
        "c AS (SELECT v, SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS c0, " +
        "SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS c1 FROM v GROUP BY v), " +
        "s AS (SELECT v, SUM(c0) OVER (ORDER BY v) AS s0, SUM(c1) OVER (ORDER BY v) AS s1 FROM c) " +
        "SELECT ROUND(MAX(ABS(s0 / tot.n0 - s1 / tot.n1)), 4) AS ks_exact, " +
        "TRUE AS kll_within_bound FROM s CROSS JOIN tot"),
    "kll_ts_quantiles_check" ->
      "SELECT CAST(q AS DOUBLE) AS q, TRUE AS within_bound FROM (VALUES (0.1),(0.5),(0.9)) t(q) ORDER BY q",
    "tdigest_bound_check" ->
      "SELECT CAST(q AS DOUBLE) AS q, TRUE AS within_tolerance FROM (VALUES (0.01),(0.1),(0.5),(0.9),(0.99)) t(q) ORDER BY q",
    // theta is EXACT below capacity — the oracles are value equalities
    "theta_users_by_type" ->
      ("SELECT event_type, COUNT(DISTINCT user_id) AS ndv_users " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "theta_intersect_check" ->
      ("WITH a AS (SELECT DISTINCT user_id FROM events " +
        "WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-04'), " +
        "b AS (SELECT DISTINCT user_id FROM events " +
        "WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-27') " +
        "SELECT " +
        "(SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS early_and_late, " +
        "(SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS early_not_late, " +
        "(SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS early_or_late"),
    "theta_orderkey_bound" ->
      ("SELECT COUNT(DISTINCT l_orderkey) AS exact_orderkeys, " +
        "TRUE AS within_bound, TRUE AS at_capacity FROM lineitem"),
    "theta_merge_equivalence" ->
      "SELECT TRUE AS byte_identical",
    "cs_heavy_change_check" ->
      ("SELECT token, early, late, late - early AS change, TRUE AS within_bound FROM (" +
        "SELECT token, COUNT(*) FILTER (WHERE h = 0) AS early, " +
        "COUNT(*) FILTER (WHERE h = 1) AS late FROM (" +
        "SELECT doc_id % 2 AS h, unnest(string_split(text, ' ')) AS token " +
        "FROM documents) WHERE token <> '' GROUP BY token) " +
        "ORDER BY ABS(late - early) DESC, token ASC LIMIT 20"),
    "cms_heavy_change_check" ->
      ("WITH toks AS (SELECT doc_id % 2 AS h, unnest(string_split(text, ' ')) AS token " +
        "FROM documents), " +
        "e AS (SELECT token, " +
        "CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS early, " +
        "CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS late " +
        "FROM toks WHERE token <> '' GROUP BY token) " +
        "SELECT token, early, late, ABS(early - late) AS change, " +
        "TRUE AS est_within_bound " +
        "FROM e ORDER BY change DESC, token ASC LIMIT 20"),
    "theta_retention_check" ->
      ("WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events) " +
        "SELECT a.d AS d, COUNT(*) AS retained, TRUE AS exact_mode " +
        "FROM du a JOIN du b ON a.user_id = b.user_id AND b.d = a.d + 1 " +
        "GROUP BY a.d ORDER BY d"),
    "theta_rolling_ndv_check" ->
      ("WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events), " +
        "days AS (SELECT DISTINCT d FROM du) " +
        "SELECT a.d AS d, COUNT(DISTINCT b.user_id) AS ndv_7d " +
        "FROM days a JOIN du b ON b.d BETWEEN a.d - 6 AND a.d " +
        "GROUP BY a.d ORDER BY a.d"),
  )
}
