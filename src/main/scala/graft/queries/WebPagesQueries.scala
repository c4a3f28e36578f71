package graft.queries

import graft.data.WebPagesGen
import graft.functions.Graft
import graft.pipeline.SaltedAgg
import graft.pipeline.SaltedAgg.SketchSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries over the synthetic Common-Crawl-shaped webpages table (the
  * north rule's input shape: url, warc_ts, html, text, lang — parquet
  * partitioned by lang). The table is generated deterministically on
  * first use (FIXTURES.md §1); these queries exercise the flagship
  * pipeline at its real shape: host parsed from url, Zipf-skewed hosts,
  * salted aggregation, and the byte-identical extract_text invariant.
  */
object WebPagesQueries {

  val TestRows = 50000L
  val TestHosts = 2000

  private def webpages(s: SparkSession): DataFrame = {
    val path = WebPagesGen.ensureTable(s, "/root/repo/data/webpages/test",
      TestRows, TestHosts)
    s.read.parquet(path)
  }

  private def withHost(df: DataFrame): DataFrame =
    df.withColumn("host", parse_url(col("url"), lit("HOST")))

  private val urlSpecs = Seq(
    SketchSpec("ebf", expr("ebf_agg(url)"), "ebf_merge_agg"),
    SketchSpec("hll", expr("hll_agg(url)"), "hll_merge_agg"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "wp_flagship_by_lang" -> { (s, _) =>
      Graft.ensure(s)
      withHost(webpages(s))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("hll_estimate(hll_agg(host))").as("host_ndv_est"),
          expr("ebf_info(ebf_agg(url))").as("ebf"),
          expr("kll_quantile(kll_agg(cast(length(text) as double)), 0.5D)").as("median_text_len"),
          expr("tdigest_quantile(tdigest_agg(cast(length(text) as double)), 0.99D)").as("p99_text_len"))
        .select(col("lang"), col("n_docs"), col("host_ndv_est"),
          col("ebf.level").as("ebf_level"), col("ebf.n").as("ebf_n"),
          col("ebf.fprBound").as("ebf_fpr_bound"),
          col("median_text_len"), col("p99_text_len"))
        .orderBy("lang")
    },

    // the flagship dump's own oracle companion: each field of
    // wp_flagship_by_lang checked against an exact Spark-computed
    // reference in the same aggregation — HLL host NDV within the
    // published 3-sigma bound, the EBF's insert count equal to the
    // document count (urls are unique per row), and the t-digest p99
    // at or above the KLL median (cross-sketch ordering sanity)
    "wp_flagship_by_lang_check" -> { (s, _) =>
      Graft.ensure(s)
      withHost(webpages(s))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("host_ndv_exact"),
          expr("hll_estimate(hll_agg(host))").as("host_ndv_est"),
          expr("ebf_info(ebf_agg(url))").as("ebf"),
          expr("kll_quantile(kll_agg(cast(length(text) as double)), 0.5D)").as("median_text_len"),
          expr("tdigest_quantile(tdigest_agg(cast(length(text) as double)), 0.99D)").as("p99_text_len"))
        .select(col("lang"),
          (abs(col("host_ndv_est") - col("host_ndv_exact")) <=
            lit(3.0 * 1.04 / math.sqrt(4096.0)) * col("host_ndv_exact") + lit(3.0))
            .as("host_ndv_in_bound"),
          (col("ebf.n") === col("n_docs")).as("ebf_n_eq_docs"),
          (col("p99_text_len") >= col("median_text_len")).as("p99_ge_median"))
        .orderBy("lang")
    },

    "wp_salted_host_equivalence" -> { (s, _) =>
      Graft.ensure(s)
      val wp = withHost(webpages(s)).select("host", "url")
      val plain = SaltedAgg.plainAgg(wp, Seq("host"), urlSpecs)
      // the adaptive path (what Flagship runs at scale): only hot hosts salted
      val salted = SaltedAgg.adaptiveSketchAgg(wp, Seq("host"), col("url"), 8,
        urlSpecs, hotRowThreshold = 100L, sampleFraction = 0.05)
      val cmp = plain.as("p").join(salted.as("q"), "host")
        .agg(bool_and((col("p.ebf") === col("q.ebf")) &&
          (col("p.hll") === col("q.hll"))).as("eq"), count(lit(1)).as("hosts")).head
      s.range(1).select(
        lit(cmp.getBoolean(0)).as("salted_equals_plain"),
        lit(cmp.getLong(1) > 0).as("has_hosts"))
    },

    "wp_extract_identity" -> { (s, _) =>
      Graft.ensure(s)
      val cmp = webpages(s)
        .agg(bool_and(expr("extract_text(html)") === col("text")).as("identical"),
          count(lit(1)).as("rows")).head
      s.range(1).select(
        lit(cmp.getBoolean(0)).as("all_identical"),
        lit(cmp.getLong(1) == TestRows).as("row_count_matches"))
    },

    "wp_host_skew_profile" -> { (s, _) =>
      Graft.ensure(s)
      // evidence of the Zipf skew the salted agg exists for
      withHost(webpages(s)).groupBy(col("host")).agg(count(lit(1)).as("docs"))
        .orderBy(col("docs").desc, col("host").asc)
        .limit(10)
    },

    // "shuffle hashes, not strings" equivalence in the driver gate:
    // per-(lang,host) EBF/HLL built from map-side Hash128 columns
    // (16 bytes through the exchange) must be byte-identical to the
    // string-fed build — the invariant that makes the flagship's
    // halved shuffle a pure win (Hash128Expr scaladoc)
    "wp_hash_shuffle_equivalence" -> { (s, _) =>
      Graft.ensure(s)
      val wp = webpages(s)
      val strFed = withHost(wp).select("host", "url")
        .groupBy("host")
        .agg(expr("ebf_agg(url)").as("ebf"))
      val hashFed = withHost(wp).select(col("host"),
          expr("graft_hash128_h1(url)").as("h1"),
          expr("graft_hash128_h2(url)").as("h2"))
        .groupBy("host")
        .agg(graft.plans.SketchAgg.column(Seq(col("h1"), col("h2")),
          graft.plans.EbfHashKind()).as("ebf2"))
      // full join + coalesce(false): a host missing on either side is a
      // MISMATCH (null keys included — null-safe equality on the join),
      // and an EMPTY result must read as false, not NPE on a null
      // bool_and
      val cmp = strFed.join(hashFed,
          strFed("host") <=> hashFed("host"), "full")
        .agg(bool_and(coalesce(col("ebf") === col("ebf2"), lit(false))).as("eq"),
          count(lit(1)).as("hosts")).head
      s.range(1).select(
        lit(!cmp.isNullAt(0) && cmp.getBoolean(0)).as("hash_fed_byte_identical"),
        lit(cmp.getLong(1) > 0).as("has_hosts"))
    },

    // oracle companion to the rows-only skew dump above: (a) the
    // per-host counts are cross-checked against an INDEPENDENT salted
    // two-stage count (per-(host, salt-of-url) partials re-summed —
    // the skew-safe way to count hot keys at 10^12 rows), and (b) the
    // distribution really is Zipf-skewed (top host >= 10x the median
    // host), i.e. the salted aggregation path exists for a reason.
    "wp_host_skew_check" -> { (s, _) =>
      Graft.ensure(s)
      val wp = withHost(webpages(s)).select("host", "url")
      val plain = wp.groupBy("host").agg(count(lit(1)).as("docs"))
      val salted = wp
        .withColumn("salt", pmod(xxhash64(col("url")), lit(16)))
        .groupBy("host", "salt").agg(count(lit(1)).as("c"))
        .groupBy("host").agg(sum("c").as("docs2"))
      // full join + coalesce(false): a host missing on either side is a
      // MISMATCH, not a null silently skipped by bool_and
      val matches = plain.join(salted, Seq("host"), "full")
        .agg(bool_and(coalesce(col("docs") === col("docs2"), lit(false))).as("eq"),
          count(lit(1)).as("hosts")).head
      val skew = plain.agg(
        (max(col("docs")) >=
          lit(10) * expr("percentile(docs, 0.5)")).as("skewed")).head.getBoolean(0)
      s.range(1).select(
        lit(matches.getBoolean(0)).as("counts_match"),
        lit(matches.getLong(1) > 0).as("has_hosts"),
        lit(skew).as("top_host_ge_10x_median"))
    },
  )

  val oracleSql: Map[String, String] = Map(
    "wp_salted_host_equivalence" ->
      "SELECT TRUE AS salted_equals_plain, TRUE AS has_hosts",
    // the generator's lang set is fixed (WebPagesGen.Langs); the oracle
    // pins one all-TRUE row per lang so a missing/extra lang also fails
    "wp_flagship_by_lang_check" ->
      ("SELECT lang, TRUE AS host_ndv_in_bound, TRUE AS ebf_n_eq_docs, " +
        "TRUE AS p99_ge_median FROM (VALUES ('de'),('en'),('es'),('fr'),('zh')) " +
        "AS t(lang) ORDER BY lang"),
    "wp_extract_identity" ->
      "SELECT TRUE AS all_identical, TRUE AS row_count_matches",
    "wp_host_skew_check" ->
      "SELECT TRUE AS counts_match, TRUE AS has_hosts, TRUE AS top_host_ge_10x_median",
    "wp_hash_shuffle_equivalence" ->
      "SELECT TRUE AS hash_fed_byte_identical, TRUE AS has_hosts",
  )
}
