package graft.queries

import graft.core.Kll
import graft.functions.Graft
import graft.pipeline.{AsofJoin, CheckpointRunner, JoinPrune, RangePartition, SaltedAgg, Sessionize, SketchIndex, ZOrder}
import graft.pipeline.SaltedAgg.SketchSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract queries for the distribution-level operators:
  * salted two-stage aggregation (O11), checkpoint-resume (O12),
  * extract_text identity, and parallelism invariance. These are the
  * queries that prove the engine's *distributed* semantics — the
  * properties that matter at 1000 executors, demonstrated at sf0.01.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private val specs = Seq(
    SketchSpec("ebf", expr("ebf_agg(cast(doc_id as string))"), "ebf_merge_agg"),
    SketchSpec("hll", expr("hll_agg(cast(doc_id as string))"), "hll_merge_agg"),
    SketchSpec("cms", expr("cms_agg(source)"), "cms_merge_agg"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "salted_vs_plain_equivalence" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
      val plain = SaltedAgg.plainAgg(d, Seq("source"), specs)
      // every source hot: each row salted 16 ways
      val salted = SaltedAgg.adaptiveSketchAgg(d, Seq("source"), col("doc_id"), 16, specs,
        hotRowThreshold = 1L, sampleFraction = 1.0)
      plain.as("p").join(salted.as("q"), "source")
        .select(col("source"),
          (col("p.ebf") === col("q.ebf")).as("ebf_equal"),
          (col("p.hll") === col("q.hll")).as("hll_equal"),
          (col("p.cms") === col("q.cms")).as("cms_equal"))
        .orderBy("source")
    },

    // O54 driver gate: the salted equi-join must produce EXACTLY the
    // plain join's rows — DuckDB computes the plain lineitem x part
    // join as the oracle. Hot detection is the sampled pre-pass;
    // thresholds are set so the busiest partkeys classify hot even in
    // TPC-H's mild key mix (estimated rows >= 30 at a 0.5 sample), so
    // both the salted route and the salt-0 cold route carry rows at
    // every SF. The hash-hash result is hot-set-independent anyway
    // (spec-pinned): salting only changes row routing.
    "salted_join_check" -> { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("partkey"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"))
      val pt = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.pipeline.SaltedJoin.joinSkewed(li, pt, Seq("partkey"),
          saltOn = col("l_orderkey") * lit(8) + col("l_linenumber"),
          numSalts = 8, joinType = "inner",
          hotRowThreshold = 30L, sampleFraction = 0.5)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_li"),
          round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy("p_brand")
    },

    "ebf_shard_table_probe" -> { (s, dir) =>
      Graft.ensure(s)
      // the no-collect probe path: sketch table co-grouped with the keys by shard
      val d = docs(s, dir)
      val key = col("doc_id").cast("string")
      val table = graft.pipeline.ShardedProbe.buildShardTable(d, key, numShards = 8, m0 = 256)
      graft.pipeline.ShardedProbe.probeCogrouped(d, key, table, numShards = 8)
        .select(col("key").cast("bigint").as("doc_id"), col("hit"))
        .orderBy("doc_id")
    },

    "extract_text_identity" -> { (s, dir) =>
      Graft.ensure(s)
      // synthesize html from the stored text, re-extract, must round-trip
      docs(s, dir)
        .withColumn("html",
          concat(lit("<html><head></head><body><p>"),
            col("text"), lit("</p></body></html>")).cast("binary"))
        .select(col("doc_id"),
          (expr("extract_text(html)") === col("text")).as("identical"))
        .orderBy("doc_id")
    },

    "checkpoint_resume_equivalence" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      try {
        // run 1: killed after 2 of 5 chunks
        val killed = CheckpointRunner.run(s, d, col("doc_id"), 5, Seq("lang"), specs,
          base, stopAfter = 2)
        require(killed == null, "expected early stop")
        val manifestAfterKill = CheckpointRunner.readManifest(base).size
        // run 2: resume to completion (verifies lineage of done chunks)
        val resumed = CheckpointRunner.run(s, d, col("doc_id"), 5, Seq("lang"), specs, base)
        val single = SaltedAgg.plainAgg(d, Seq("lang"), specs)
        val joined = resumed.as("r").join(single.as("x"), "lang")
          .select(col("lang"),
            (col("r.ebf") === col("x.ebf")).as("ebf_equal"),
            (col("r.hll") === col("x.hll")).as("hll_equal"),
            (col("r.cms") === col("x.cms")).as("cms_equal"))
        val allEqual = joined.agg(
          bool_and(col("ebf_equal")), bool_and(col("hll_equal")), bool_and(col("cms_equal")), count(lit(1))).head
        val langs = single.count()
        s.range(1).select(
          lit(manifestAfterKill == 2).as("killed_after_two_chunks"),
          lit(allEqual.getBoolean(0) && allEqual.getBoolean(1) && allEqual.getBoolean(2))
            .as("resumed_equals_single_shot"),
          lit(allEqual.getLong(3) == langs).as("all_groups_present"))
      } finally graft.util.GraftFiles.deleteRecursively(base)
      // (everything the returned frame carries is materialized literals,
      // so dropping the checkpoint staging before returning is safe)
    },

    // O31: the EBF-pruned join must equal the plain join EXACTLY (the
    // oracle is the plain DuckDB join) — end-to-end proof that pruning
    // the fact-side exchange loses no matching row (no false negatives)
    "ebf_join_prune" -> { (s, dir) =>
      Graft.ensure(s)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val urgent = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      JoinPrune.ebfPrunedJoin(li, "l_orderkey", urgent, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_li"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("o_orderpriority")
    },

    // O36 driver gate: the OPTIMIZER-RULE twin of ebf_join_prune. A
    // PLAIN DataFrame fact-dimension join (lineitem x filtered
    // supplier — the pruned-column size ratio is ~40x, comfortably
    // past the rule's 2x cost guard at every SF) with
    // spark.graft.joinPrune.enabled set must (a) get exactly ONE
    // ebf_might_contain SketchFn filter injected by EbfJoinPruneRule
    // (asserted on the optimized plan; "exactly one" also guards the
    // structural re-application check) and (b) produce exactly the
    // plain join's rows — DuckDB computes the same join as the oracle.
    // The result is materialized eagerly inside the conf-on window so
    // the rows the driver hashes are the ones that actually flowed
    // through the injected probe; the conf is restored afterwards (no
    // session-global leak into the rest of the sweep).
    "join_prune_rule_check" -> { (s, dir) =>
      Graft.ensure(s)
      val prev = s.conf.getOption("spark.graft.joinPrune.enabled")
      s.conf.set("spark.graft.joinPrune.enabled", "true")
      try {
        val li = s.read.parquet(s"$dir/lineitem.parquet")
        val sup = s.read.parquet(s"$dir/supplier.parquet")
          .filter(col("s_nationkey") < 5)
        val df = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_li"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy("s_nationkey")
        val probes = df.queryExecution.optimizedPlan.collect {
          case p => p.expressions.flatMap(_.collect {
            case e if graft.plans.SketchFn.isA[graft.plans.EbfMightContain](e) => e
          })
        }.flatten.size
        require(probes == 1,
          s"join-prune rule: expected exactly 1 injected probe, found $probes")
        val rows = df.collect()
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.toSeq.asJava, df.schema)
      } finally {
        prev match {
          case Some(v) => s.conf.set("spark.graft.joinPrune.enabled", v)
          case None => s.conf.unset("spark.graft.joinPrune.enabled")
        }
      }
    },

    // O45: as-of (point-in-time) join — the classic operator Spark
    // lacks, DuckDB's native ASOF LEFT JOIN is the exact oracle. For
    // every non-purchase event, the same user's most recent prior (or
    // simultaneous) purchase: value semantics, tie direction (<=), and
    // left-outer null behavior all verified row-for-row.
    "asof_prior_purchase" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val left = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      AsofJoin.join(left, right, Seq("user_id"), "ts", "purchase_ts")
        .select(col("event_id"), col("user_id"),
          col("purchase_ts"), col("purchase_value"))
        .orderBy("event_id")
    },

    // O45 forward + tolerance: for every click, the same user's NEXT
    // error within one hour (else nulls — the match is nulled, the
    // left row survives, merge_asof semantics)
    "asof_next_error" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val left = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("error_ts"),
          col("event_id").as("error_id"))
      AsofJoin.join(left, right, Seq("user_id"), "ts", "error_ts",
          direction = "forward", tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select(col("event_id"), col("user_id"), col("error_ts"), col("error_id"))
        .orderBy("event_id")
    },

    // O49: gap-based sessionization (12 h gap over the 30-day event
    // log, ~3 events/session at sf0.01) — the portable window-function
    // form, oracle-exact per session: bounds, event count, value sum.
    "events_sessionize" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      Sessionize.summarize(
          Sessionize.label(ev, "user_id", "ts", "event_id", 12 * 3600L),
          "user_id", "ts", "value")
        .select(col("user_id"), col("session_idx"),
          col("session_start"), col("session_end"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "session_idx")
    },

    // O49 cross-form: Spark's native session_window grouping must
    // produce the same sessions as the window-function form (window
    // start = first event, window end = last event + gap, half-open).
    "events_session_window_check" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val gap = 12 * 3600L
      val manual = Sessionize.summarize(
        Sessionize.label(ev, "user_id", "ts", "event_id", gap),
        "user_id", "ts", "value")
      val native = Sessionize.viaSessionWindow(ev, "user_id", "ts", gap)
      val r = manual.as("m").join(native.as("nv"),
          col("m.user_id") === col("nv.user_id") &&
            col("m.session_start") === col("nv.w_start"), "full_outer")
        .agg(
          sum(when(col("m.user_id").isNull || col("nv.user_id").isNull, 1L)
            .otherwise(0L)).as("unmatched"),
          bool_and(col("m.n_events") === col("nv.n_events")).as("counts_eq"),
          bool_and(col("nv.w_end") ===
            col("m.session_end") + expr("INTERVAL 12 HOURS")).as("ends_eq"),
          count(lit(1)).as("n")).head
      s.range(1).select(
        lit(r.getLong(0) == 0L).as("all_sessions_matched"),
        lit(r.getBoolean(1)).as("counts_equal"),
        lit(r.getBoolean(2)).as("ends_equal_shifted_by_gap"),
        lit(r.getAs[Long]("n")).as("n_sessions"))
    },

    // O49 streaming: flatMapGroupsWithState sessionization — per-user
    // state is the SESSION SUMMARY set (bounded by sessions, not
    // events), merged interval-style so arrival order across the 4
    // micro-batches cannot move a boundary. The state store carries
    // state across batches; the final per-user state must equal the
    // batch sessionization (bounds and counts exactly; float sums to
    // 1e-6 — addition order differs by arrival).
    "stream_sessionize_check" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val gap = 12 * 3600L
      val tmp = java.nio.file.Files.createTempDirectory("graft_sessions_stream").toString
      try {
        ev.repartition(4).write.mode("overwrite").parquet(tmp)
        val streamed = Sessionize.runStreamingSessions(
          s, tmp, "user_id", "ts", "value", gap)
        val batch = Sessionize.summarize(
            Sessionize.label(ev, "user_id", "ts", "event_id", gap),
            "user_id", "ts", "value")
          .select(col("user_id"),
            Sessionize.micros(col("session_start")).as("start_us"),
            Sessionize.micros(col("session_end")).as("end_us"),
            col("n_events"), col("total_value"))
        val r = batch.as("b").join(streamed.as("st"),
            col("b.user_id") === col("st.user_id") &&
              col("b.start_us") === col("st.start_us"), "full_outer")
          .agg(
            sum(when(col("b.user_id").isNull || col("st.user_id").isNull, 1L)
              .otherwise(0L)).as("unmatched"),
            bool_and(col("b.end_us") === col("st.end_us")).as("ends"),
            bool_and(col("b.n_events") === col("st.n")).as("counts"),
            bool_and(abs(col("b.total_value") - col("st.total")) <= 1e-6).as("sums"),
            count(lit(1)).as("n")).head
        streamed.unpersist()
        s.range(1).select(
          lit(r.getLong(0) == 0L).as("all_sessions_matched"),
          lit(r.getBoolean(1)).as("bounds_equal"),
          lit(r.getBoolean(2)).as("counts_equal"),
          lit(r.getBoolean(3)).as("sums_within_tolerance"),
          lit(r.getAs[Long]("n")).as("n_sessions"))
      } finally {
        graft.util.GraftFiles.deleteRecursively(tmp)
      }
    },

    // O50: bucketed interval join — every error event landing inside a
    // +/-1 h window around the same user's purchases (overlapping
    // intervals, so events match MULTIPLE windows — exercising
    // many-to-many containment, not just disjoint sessions). The
    // operator turns BETWEEN into an equi-join on (user, time bucket);
    // DuckDB reproduces it with the naive BETWEEN join, row-exact.
    "interval_join_check" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      graft.pipeline.IntervalJoin.contained(
          errors, windows, Seq("user_id"), "ts", "w_start", "w_end",
          bucketSeconds = 3600L)
        .select(col("event_id"), col("user_id"), col("purchase_id"))
        .orderBy("event_id", "purchase_id")
    },

    // O50 overlap form: interval x interval — purchase windows (+/-1 h)
    // against error windows (+/-30 min) on the same user. A pair shares
    // every bucket of its intersection, so the operator routes each
    // pair to the single bucket holding greatest(start_l, start_r) —
    // exactly-once with no distinct. DuckDB reproduces it with the
    // naive overlap join, row-exact.
    "interval_overlap_check" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("p_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("p_end"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          (col("ts") - expr("INTERVAL 30 MINUTE")).as("e_start"),
          (col("ts") + expr("INTERVAL 30 MINUTE")).as("e_end"))
      graft.pipeline.IntervalJoin.overlap(
          purchases, errors, Seq("user_id"),
          "p_start", "p_end", "e_start", "e_end", bucketSeconds = 3600L)
        .select(col("purchase_id"), col("error_id"), col("user_id"))
        .orderBy("purchase_id", "error_id")
    },

    // O32: KLL-driven balanced range repartitioning — exact placement
    // (partition id == range id), all ranges populated and disjoint,
    // sizes within the sketch's rank-error bound of ideal, and no row
    // lost through the exchange (n_rows is the real oracle value)
    "kll_range_partition_check" -> { (s, dir) =>
      Graft.ensure(s)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val numParts = 16
      val kll = Kll.fromBytes(
        li.agg(call_udf("kll_agg", col("l_extendedprice")).as("sk"))
          .head.getAs[Array[Byte]](0))
      val parted = RangePartition.byKll(li, col("l_extendedprice"), kll, numParts)
      val perPart = parted
        .select(col("l_extendedprice").cast("double").as("v"))
        .withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg(count(lit(1)).as("cnt"), min(col("v")).as("mn"), max(col("v")).as("mx"))
        .collect() // numParts rows — partition STATS, not data
        .sortBy(_.getAs[Int]("pid"))
      val n = perPart.map(_.getAs[Long]("cnt")).sum
      val ideal = n.toDouble / numParts
      // KLL k=200 normalized rank error ~1.55%: each boundary is off by
      // <= eps*n rows, so a partition holds n/P +- 2*eps*n; 1/16 + 2*eps
      // over 1/16 ~= 1.5. Typical error is far smaller; 1.5 is the bound.
      val balanced = perPart.map(_.getAs[Long]("cnt")).max <= ideal * 1.5
      val disjointOrdered = perPart.sliding(2).forall(w =>
        w.length < 2 || w(0).getAs[Double]("mx") <= w(1).getAs[Double]("mn"))
      s.range(1).select(
        lit(n).as("n_rows"),
        lit(perPart.length == numParts).as("all_partitions_nonempty"),
        lit(balanced).as("balanced_within_sketch_bound"),
        lit(disjointOrdered).as("ranges_disjoint_ordered"))
    },

    // O32 end-to-end: the "reproducible sorted file layout" claim.
    // byKll places bucket i EXACTLY in partition i, so byKll +
    // sortWithinPartitions + write yields files whose [min,max] key
    // ranges are strictly disjoint and whose rows are sorted within
    // each file — concatenating files in range order IS the globally
    // sorted dataset (the sorted Iceberg/parquet layout precondition).
    // The per-file sortedness read-back collects one small file at a
    // time (bounded by the partition count; each file is single-split
    // at gate scale, so read order is file order).
    "kll_sorted_layout_check" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
        .select(col("doc_id"), length(col("text")).cast("double").as("key"))
        .filter(col("key").isNotNull)
      val nIn = d.count()
      val kll = Kll.fromBytes(
        d.agg(call_udf("kll_agg", col("key")).as("sk")).head.getAs[Array[Byte]](0))
      val numParts = 8
      val tmp = java.nio.file.Files.createTempDirectory("graft_sorted_layout").toString
      try {
        RangePartition.byKll(d, col("key"), kll, numParts)
          .sortWithinPartitions("key")
          .write.mode("overwrite").parquet(tmp)
        val files = s.read.parquet(tmp)
          .groupBy(input_file_name().as("f"))
          .agg(count(lit(1)).as("cnt"), min(col("key")).as("mn"), max(col("key")).as("mx"))
          .collect().sortBy(_.getAs[Double]("mn"))
        val total = files.map(_.getAs[Long]("cnt")).sum
        // strict <: a key value present in two files would make the
        // previous file's max equal the next file's min
        val disjoint = files.sliding(2).forall(w =>
          w.length < 2 || w(0).getAs[Double]("mx") < w(1).getAs[Double]("mn"))
        val sortedWithin = files.forall { r =>
          val ks = s.read.parquet(r.getAs[String]("f")).select("key")
            .collect().map(_.getDouble(0))
          ks.sameElements(ks.sorted)
        }
        s.range(1).select(
          lit(total == nIn).as("rows_conserved"),
          lit(files.length > 1).as("multiple_files"),
          lit(disjoint).as("file_ranges_disjoint"),
          lit(sortedWithin).as("files_sorted_within"))
      } finally graft.util.GraftFiles.deleteRecursively(tmp)
    },

    // O61: sketch-sidecar data skipping — the index consulted BEFORE
    // the scan. A curated subset (quality-filtered, so the key domain
    // has real holes) is written range-clustered; the sidecar is built
    // in one distributed pass; a narrow-band point lookup must
    // (a) return EXACTLY the rows a full scan would (DuckDB recomputes
    // them from the raw table), (b) plan fewer files than exist
    // (min/max stage), and (c) for a probe set that is entirely
    // in-range-but-absent, the EBF stage must prune below what min/max
    // alone admits — the negative-lookup win zone maps can't provide.
    // False positives only admit extra files; correctness is carried
    // by the exact post-read semi-join. Results are materialized
    // before the staged files are deleted.
    "sketch_index_lookup_check" -> { (s, dir) =>
      Graft.ensure(s)
      val minChars = 306 // fixed curation threshold, mirrored in the oracle
      val curated = docs(s, dir).filter(col("n_chars") >= minChars)
      val tmp = java.nio.file.Files.createTempDirectory("graft_sketch_index").toString
      try {
        curated.repartitionByRange(8, col("doc_id"))
          .write.mode("overwrite").parquet(tmp)
        val idx = SketchIndex.build(s, tmp, "doc_id").cache()
        val nFiles = idx.count()
        // probes: every 3rd id in a narrow band (some curated = hits,
        // some filtered out = in-range absences) + one far outside
        val probes = s.range(100, 160).filter(col("id") % 3 === 0)
          .select(col("id").as("doc_id"))
          .union(s.range(1).select(lit(1000000000L).as("doc_id")))
        val nCand = SketchIndex.candidates(idx, probes).count()
        // absent-only probes: in-range ids the curation filter removed
        val absent = docs(s, dir)
          .filter(col("n_chars") < minChars && col("doc_id") >= 100 && col("doc_id") < 160)
          .select("doc_id")
        val mmOnly = SketchIndex.candidates(idx, absent, useEbf = false).count()
        val ebfNeg = SketchIndex.candidates(idx, absent).count()
        val out = SketchIndex.lookup(s, tmp, idx, "doc_id", probes)
          .select(col("doc_id"), col("n_chars"),
            lit(nCand < nFiles).as("files_pruned"),
            lit(ebfNeg < mmOnly).as("negative_lookup_pruned"))
          .orderBy("doc_id").collect()
        idx.unpersist()
        s.createDataFrame(java.util.Arrays.asList(out: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("files_pruned", org.apache.spark.sql.types.BooleanType, nullable = false),
            org.apache.spark.sql.types.StructField("negative_lookup_pruned", org.apache.spark.sql.types.BooleanType, nullable = false))))
      } finally graft.util.GraftFiles.deleteRecursively(tmp)
    },

    // O70: the daily-append lifecycle composed end-to-end — the way a
    // 100 TB corpus actually grows: day 1 is written range-clustered
    // and its sidecar STORED as a table (the update() contract); day 2
    // APPENDS and SketchIndex.update refreshes the sidecar scanning
    // ONLY the new files (true reuse is proven by the spec's tamper-
    // survival test — determinism makes byte comparison vacuous here);
    // gated: file counts 4 -> 8, a second update is a no-op, a narrow
    // id band plans fewer files than exist, and a point lookup
    // spanning both days returns EXACTLY what a full scan of the
    // union would — DuckDB recomputes the rows from the raw table.
    "incremental_corpus_check" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
      val n = d.count()
      val tmp = java.nio.file.Files.createTempDirectory("graft_incr").toString
      val side = java.nio.file.Files.createTempDirectory("graft_incr_side").toString
      try {
        val day1 = d.filter(col("doc_id") * 2 < lit(n))
        val day2 = d.filter(col("doc_id") * 2 >= lit(n))
        day1.repartitionByRange(4, col("doc_id")).write.mode("overwrite").parquet(tmp)
        // the sidecar is a STORED table (update()'s contract: a cached
        // build over tmp would be recache-refreshed to a full rebuild
        // by the append — scaladoc + PLAN33)
        SketchIndex.build(s, tmp, "doc_id").write.mode("overwrite").parquet(side)
        val idx1 = s.read.parquet(side)
        val n1 = idx1.count()
        day2.repartitionByRange(4, col("doc_id")).write.mode("append").parquet(tmp)
        val idx2 = SketchIndex.update(s, tmp, "doc_id", idx1).cache()
        val n2 = idx2.count()
        // a second update sees no new files and is a no-op
        val n3 = SketchIndex.update(s, tmp, "doc_id", idx2).count()
        // broad probes spanning both days + one absent: exactness
        val probes = s.range(0, n, math.max(1L, n / 40))
          .select(col("id").as("doc_id"))
          .union(s.range(1).select(lit(999999999L).as("doc_id")))
        // narrow band: pruning (a handful of consecutive ids live in
        // one or two range files per day-half)
        val narrow = s.range(0, math.max(2L, n / 50)).select(col("id").as("doc_id"))
        val nCandNarrow = SketchIndex.candidates(idx2, narrow).count()
        val out = SketchIndex.lookup(s, tmp, idx2, "doc_id", probes)
          .select(col("doc_id"), col("n_chars"),
            lit(n1 == 4L && n2 == 8L).as("file_counts_right"),
            lit(n3 == n2).as("second_update_noop"),
            lit(nCandNarrow < n2).as("narrow_band_pruned"))
          .orderBy("doc_id").collect()
        idx2.unpersist()
        import s.implicits._
        out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
            r.getBoolean(3), r.getBoolean(4)))
          .toDF("doc_id", "n_chars", "file_counts_right",
            "second_update_noop", "narrow_band_pruned")
      } finally {
        graft.util.GraftFiles.deleteRecursively(tmp)
        graft.util.GraftFiles.deleteRecursively(side)
      }
    },

    // O63: z-order clustering vs linear sort for multi-column data
    // skipping. The same orders projection is written twice — linearly
    // range-clustered by o_custkey (O32) and z-ordered on
    // (o_custkey, o_totalprice) — and per-file min/max sidecar stats
    // (the O61 role) plan a band query on each layout. Gates:
    // (a) the 2-D band answered from ONLY the z-surviving files is
    // value-exact (DuckDB recomputes it from the raw table — pruning
    // by exact per-file min/max is lossless whatever the layout);
    // (b) a band on the SECOND column alone prunes files under the
    // z layout; (c) the linear layout cannot prune that band (every
    // file spans the full price range) — the measured claim that
    // makes z-order worth an exchange at 100 TB.
    "zorder_skipping_check" -> { (s, dir) =>
      Graft.ensure(s)
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val nIn = o.count()
      val kCust = Kll.fromBytes(
        o.select(expr("kll_agg(cast(o_custkey as double))")).head.getAs[Array[Byte]](0))
      val kPrice = Kll.fromBytes(
        o.select(expr("kll_agg(o_totalprice)")).head.getAs[Array[Byte]](0))
      val tmpZ = java.nio.file.Files.createTempDirectory("graft_zorder_z").toString
      val tmpL = java.nio.file.Files.createTempDirectory("graft_zorder_l").toString
      try {
        ZOrder.layout(o, Seq(col("o_custkey").cast("double"), col("o_totalprice")),
            Seq(kCust, kPrice), bits = 8, fileBits = 4)
          .write.mode("overwrite").parquet(tmpZ)
        RangePartition.byKll(o, col("o_custkey").cast("double"), kCust, 16)
          .sortWithinPartitions(col("o_custkey"))
          .write.mode("overwrite").parquet(tmpL)
        // the sidecar stats pass: exact per-file min/max on BOTH dims
        def stats(path: String): Array[(String, Long, Long, Double, Double)] =
          s.read.parquet(path).groupBy(input_file_name().as("f"))
            .agg(min("o_custkey").as("cmn"), max("o_custkey").as("cmx"),
              min("o_totalprice").as("pmn"), max("o_totalprice").as("pmx"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getDouble(3), r.getDouble(4)))
        val zs = stats(tmpZ)
        val ls = stats(tmpL)
        val (cLo, cHi, pLo, pHi) = (200L, 500L, 100000.0, 200000.0)
        def hits(st: Array[(String, Long, Long, Double, Double)],
                 cl: Long, ch: Long, pl: Double, ph: Double) =
          st.filter { case (_, cmn, cmx, pmn, pmx) =>
            cmn <= ch && cmx >= cl && pmn <= ph && pmx >= pl }
        val z2d = hits(zs, cLo, cHi, pLo, pHi)
        val zP = hits(zs, Long.MinValue, Long.MaxValue, pLo, pHi)
        val lP = hits(ls, Long.MinValue, Long.MaxValue, pLo, pHi)
        // answer the 2-D band from ONLY the z-surviving files (no
        // false negatives: exact per-file min/max can't exclude a
        // file holding a band row, so an empty candidate set means an
        // empty band)
        // sum over an EMPTY band is NULL (SQL semantics, what the
        // oracle's round(sum(..), 2) yields), not 0.0 — and getDouble
        // on that null would NPE, so carry it as an Option
        val (nBand, sumBand) =
          if (z2d.isEmpty) (0L, None: Option[Double])
          else {
            val band = s.read.schema(s.read.parquet(tmpZ).schema)
              .parquet(z2d.map(_._1).toIndexedSeq: _*)
              .filter(col("o_custkey").between(cLo, cHi) &&
                col("o_totalprice").between(pLo, pHi))
              .agg(count(lit(1)).as("n"), sum("o_totalprice").as("sp")).head
            (band.getLong(0),
              if (band.isNullAt(1)) None else Some(band.getDouble(1)))
          }
        val nConserved = s.read.parquet(tmpZ).count()
        s.range(1).select(
          lit(nBand).as("n_band"),
          sumBand.map(v => round(lit(v), 2))
            .getOrElse(lit(null).cast("double")).as("sum_band"),
          lit(nConserved == nIn).as("rows_conserved"),
          lit(z2d.length < zs.length).as("z_files_pruned_2d"),
          lit(zP.length < zs.length).as("z_prunes_price_dim"),
          lit(zP.length < lP.length).as("z_beats_linear_price_dim"))
      } finally {
        graft.util.GraftFiles.deleteRecursively(tmpZ)
        graft.util.GraftFiles.deleteRecursively(tmpL)
      }
    },

    // The persistence claim behind O31 and the sharded probe: a built filter is a
    // first-class VALUE — the sharded EBF table written to parquet and
    // reloaded is byte-identical and probes identically, which is what
    // lets one build pass serve many later queries (Spark's own runtime
    // bloom filter dies with its query)
    "ebf_filter_persistence_check" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
      // cache: the build is materialized once by the write and reused by
      // the identity join (8 small rows — without the cache the lazy
      // frame would re-run the whole build for the comparison)
      val table = graft.pipeline.ShardedProbe.buildShardTable(
        d, col("doc_id").cast("string"), numShards = 8, m0 = 256).cache()
      val tmp = java.nio.file.Files.createTempDirectory("graft_filter_store").toString
      try {
        table.write.mode("overwrite").parquet(tmp)
        val reloaded = s.read.parquet(tmp)
        val ident = table.as("a").join(reloaded.as("b"), "shard")
          .agg(bool_and(col("a.sk") === col("b.sk")).as("eq"), count(lit(1)).as("n")).head
        val bc = graft.pipeline.ShardedProbe.broadcastShards(reloaded, numShards = 8)
        val hitsReloaded = graft.pipeline.ShardedProbe
          .probeBroadcast(d, col("doc_id").cast("string"), bc)
          .agg(sum(when(col("hit"), 1L).otherwise(0L))).head.getLong(0)
        val total = d.count()
        s.range(1).select(
          lit(ident.getBoolean(0)).as("shards_byte_identical_after_roundtrip"),
          lit(ident.getLong(1) == 8L).as("all_shards_present"),
          lit(hitsReloaded == total).as("reloaded_filter_no_false_negatives"))
      } finally {
        table.unpersist()
        graft.util.GraftFiles.deleteRecursively(tmp)
      }
    },

    // O33: Structured Streaming build == batch build, byte-for-byte.
    // The documents table is re-laid-out as 4 files and streamed one
    // file per micro-batch (AvailableNow -> deterministic, nothing
    // dropped), so the sketch UDAFs' merge path runs through the
    // streaming STATE STORE across 4 batches; the EBF normal form and
    // HLL/CMS commutativity make the result byte-identical to the
    // one-shot batch aggregation regardless of the merge tree.
    "stream_vs_batch_sketch_equivalence" -> { (s, dir) =>
      Graft.ensure(s)
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
      docs(s, dir).repartition(4).write.mode("overwrite").parquet(tmp)
      val staged = s.read.parquet(tmp)
      // state-store width pinned for the stream like the sibling gates
      // (r6): this was the one streaming gate running the session's 32
      // shuffle partitions as state-store width — 32 stateful tasks +
      // store files per micro-batch for 5 lang groups. The gate's own
      // claim (merge-tree-independent byte equality) makes the width an
      // execution detail; 4 matches the 4-file replay.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      def sketchAggs = Seq(
        expr("ebf_agg(cast(doc_id as string))").as("ebf"),
        expr("hll_agg(cast(doc_id as string))").as("hll"),
        expr("cms_agg(source)").as("cms"),
        expr("theta_agg(cast(doc_id as string))").as("theta"),
        // O73: byte-stable by canonical hash-sorted wire order
        expr("sample_agg(cast(doc_id as string))").as("smp"))
      val qname = "graft_stream_eq_" + java.util.UUID.randomUUID.toString.replace("-", "")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      val q = s.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
        .groupBy(col("lang")).agg(sketchAggs.head, sketchAggs.tail: _*)
        .writeStream.outputMode("complete").format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      // materialize the comparison (a handful of lang rows) BEFORE
      // deleting the staged copy — the returned frame must not depend
      // on the temp dir, which would otherwise leak a full table copy
      // per run
      val rows =
        try {
          q.awaitTermination()
          val batch = staged.groupBy(col("lang")).agg(sketchAggs.head, sketchAggs.tail: _*)
          s.table(qname).as("a").join(batch.as("b"), "lang")
            .select(col("lang"),
              (col("a.ebf") === col("b.ebf")).as("ebf_equal"),
              (col("a.hll") === col("b.hll")).as("hll_equal"),
              (col("a.cms") === col("b.cms")).as("cms_equal"),
              (col("a.theta") === col("b.theta")).as("theta_equal"),
              (col("a.smp") === col("b.smp")).as("sample_equal"))
            .orderBy("lang").collect().toSeq
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
          s.catalog.dropTempView(qname)
          graft.util.GraftFiles.deleteRecursively(tmp)
        }
      import s.implicits._
      rows.map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2),
          r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
        .toDF("lang", "ebf_equal", "hll_equal", "cms_equal", "theta_equal",
          "sample_equal")
    },

    // O69: trending on a STREAM — the time-decayed CMS (O68) built
    // incrementally over micro-batches must agree with the one-shot
    // batch build. The decayed merge is value-associative but NOT
    // byte-stable (floating rescale), so unlike the byte-equality
    // gate above this one compares what the sketch is FOR: top-token
    // decayed-mass estimates, gated to relative 1e-9 — the bound the
    // core spec proves for any merge tree. At continuous ingest the
    // sketch never grows (fixed d*w doubles) and old mass ages out
    // arithmetically — no retention job.
    "stream_decayed_trending_check" -> { (s, dir) =>
      Graft.ensure(s)
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_dcms").toString
      // state-store width pinned for the stream (see stream_join_check)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val rows =
        try {
          val ev = docs(s, dir).select(col("doc_id"),
              (lit(1700000000L) + col("doc_id") * 60L).cast("double").as("ts"),
              explode(split(col("text"), " ")).as("token"))
            .filter(col("token") =!= "")
          ev.repartition(4).write.mode("overwrite").parquet(tmp)
          val staged = s.read.parquet(tmp)
          s.conf.set("spark.sql.shuffle.partitions", "4")
          val qname = "graft_stream_dcms_" + java.util.UUID.randomUUID.toString.replace("-", "")
          val q = s.readStream.schema(staged.schema)
            .option("maxFilesPerTrigger", "1").parquet(tmp)
            .agg(expr("dcms_agg(token, ts)").as("sk"))
            .writeStream.outputMode("complete").format("memory").queryName(qname)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          try {
            q.awaitTermination()
            val streamed = graft.core.DecayedCms.fromBytes(
              s.table(qname).head.getAs[Array[Byte]](0))
            val batch = graft.core.DecayedCms.fromBytes(
              staged.agg(expr("dcms_agg(token, ts)")).head.getAs[Array[Byte]](0))
            val tNow = staged.agg(max("ts")).head.getDouble(0)
            val top = staged.groupBy("token").agg(count(lit(1)).as("n"))
              .orderBy(col("n").desc, col("token")).limit(5)
              .collect().map(_.getString(0))
            top.toSeq.map { tok =>
              val a = streamed.estimate(tok, tNow)
              val b = batch.estimate(tok, tNow)
              (tok,
                math.abs(a - b) <= 1e-9 * math.max(b, 1.0),
                math.abs(streamed.totalAt(tNow) - batch.totalAt(tNow)) <=
                  1e-9 * math.max(batch.totalAt(tNow), 1.0))
            }
          } finally s.catalog.dropTempView(qname)
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
          graft.util.GraftFiles.deleteRecursively(tmp)
        }
      import s.implicits._
      rows.map(r => (r._1, r._2, r._3))
        .toDF("token", "estimate_equal", "total_mass_equal")
        .orderBy("token")
    },

    // O62: streaming exact dedup — the continuous-ingest form of O22's
    // batch dedup. Every third doc is planted twice with a later
    // arrival time, the stream is replayed one file per micro-batch
    // (AvailableNow), and dropDuplicatesWithinWatermark must suppress
    // the cross-batch re-arrivals through the state store. Unlike
    // plain dropDuplicates-on-stream (state grows forever), the
    // watermark BOUNDS state to the re-arrival horizon — the only form
    // that survives an unbounded corpus feed; the gate's 1-day delay
    // covers the planted 90 s re-arrivals. First occurrences pass
    // through append mode, so the emitted key set must equal the batch
    // distinct exactly.
    "stream_dedup_check" -> { (s, dir) =>
      Graft.ensure(s)
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_dedup").toString
      // state-store width pinned for the stream (see stream_join_check)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val rows =
        try {
          val base = docs(s, dir).select(col("doc_id"),
            timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"))
          val dupes = base.filter(col("doc_id") % 3 === 0)
            .withColumn("ts", col("ts") + expr("INTERVAL 90 SECONDS"))
          base.union(dupes).repartition(4).write.mode("overwrite").parquet(tmp)
          val staged = s.read.parquet(tmp)
          s.conf.set("spark.sql.shuffle.partitions", "4")
          val qname = "graft_stream_dedup_" + java.util.UUID.randomUUID.toString.replace("-", "")
          val q = s.readStream.schema(staged.schema)
            .option("maxFilesPerTrigger", "1").parquet(tmp)
            .withWatermark("ts", "1 day")
            .dropDuplicatesWithinWatermark("doc_id")
            .select("doc_id")
            .writeStream.outputMode("append").format("memory").queryName(qname)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          try {
            q.awaitTermination()
            val streamIds = s.table(qname).select("doc_id")
            val batchIds = staged.dropDuplicates("doc_id").select("doc_id")
            val nIn = staged.count()
            val nOut = streamIds.count()
            val equal = streamIds.exceptAll(batchIds).isEmpty &&
              batchIds.exceptAll(streamIds).isEmpty
            streamIds
              .select(col("doc_id"),
                lit(nIn > nOut).as("input_had_dupes"),
                lit(equal).as("stream_equals_batch"))
              .orderBy("doc_id").collect().toSeq
          } finally s.catalog.dropTempView(qname)
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
          graft.util.GraftFiles.deleteRecursively(tmp)
        }
      import s.implicits._
      rows.map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
        .toDF("doc_id", "input_had_dupes", "stream_equals_batch")
    },

    // Event-time WINDOWED sketch aggregation on a stream, append mode
    // — the production shape ("10-minute NDV per window at continuous
    // ingest"): the watermark lets Spark FINALIZE a window and evict
    // its state, so state is (windows in flight) not (windows ever);
    // our mergeable aggregators run as the stateful window aggregate.
    // Replay order is made deterministic by writing four ascending
    // time-slice files SEQUENTIALLY (file-source replay is
    // oldest-mtime-first), so no row is ever behind the watermark and
    // nothing is dropped. Emission rule pinned: append mode emits
    // exactly the windows whose end <= max(ts) - delay at the
    // terminal no-data batch — both engines restrict to that set, and
    // per-window the streamed HLL must equal the batch HLL
    // byte-for-byte (same inputs, associative merge).
    "stream_windowed_sketch_check" -> { (s, dir) =>
      Graft.ensure(s)
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_win").toString
      // state-store width pinned for the stream (see stream_join_check)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val rows =
        try {
          // one event per minute -> 10-minute windows hold 10 docs
          val base = docs(s, dir).select(col("doc_id"),
            timestamp_seconds(lit(1700000000L) + col("doc_id") * 60L).as("ts"))
          val nDocs = base.count()
          for (i <- 0L until 4L) {
            base.filter(col("doc_id") * 4 >= lit(i * nDocs) &&
                col("doc_id") * 4 < lit((i + 1) * nDocs))
              .coalesce(1).write.mode(if (i == 0L) "overwrite" else "append")
              .parquet(tmp)
          }
          val staged = s.read.parquet(tmp)
          s.conf.set("spark.sql.shuffle.partitions", "4")
          val qname = "graft_stream_win_" + java.util.UUID.randomUUID.toString.replace("-", "")
          val q = s.readStream.schema(staged.schema)
            .option("maxFilesPerTrigger", "1").parquet(tmp)
            .withWatermark("ts", "600 seconds")
            .groupBy(window(col("ts"), "10 minutes"))
            .agg(expr("hll_agg(cast(doc_id as string))").as("hll"),
              count(lit(1)).as("n"))
            .select(col("window.start").as("ws"), col("hll"), col("n"))
            .writeStream.outputMode("append").format("memory").queryName(qname)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          try {
            q.awaitTermination()
            val streamed = s.table(qname)
            val cutoff = staged.agg((max(col("ts").cast("long")) - 600L).as("c"))
              .head.getLong(0)
            val batch = staged
              .groupBy(window(col("ts"), "10 minutes"))
              .agg(expr("hll_agg(cast(doc_id as string))").as("hll"),
                count(lit(1)).as("n"))
              .select(col("window.start").as("ws"), col("hll"), col("n"),
                col("window.end").cast("long").as("we"))
              .filter(col("we") <= lit(cutoff))
            batch.as("b").join(streamed.as("st"), "ws")
              .select(col("ws").cast("long").as("window_start"),
                col("b.n").as("n_docs"),
                (col("b.hll") === col("st.hll")).as("hll_equal_batch"),
                (col("b.n") === col("st.n")).as("count_equal_batch"),
                lit(batch.count() == streamed.count()).as("window_sets_equal"))
              .orderBy("window_start").collect().toSeq
          } finally s.catalog.dropTempView(qname)
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
          graft.util.GraftFiles.deleteRecursively(tmp)
        }
      import s.implicits._
      rows.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
        .toDF("window_start", "n_docs", "hll_equal_batch", "count_equal_batch", "window_sets_equal")
    },

    // Streaming restart-from-checkpoint — the Structured Streaming
    // form of the north rule's "resumable from checkpoint" (O12 is the
    // batch form). A watermarked windowed HLL aggregation runs over
    // the first half of the input and STOPS (AvailableNow drains what
    // exists); more input arrives; a NEW query object restarts on the
    // SAME checkpoint + file sink. Recovery must replay nothing
    // (offset log), re-emit nothing (sink metadata log = exactly-once
    // across the restart), and — the part that needs the state store,
    // not just offsets — the window CUT by the stop point (half its
    // rows processed before, half after) must surface once, complete,
    // byte-equal to the batch build. The stop boundary is pinned
    // mid-window by construction (windows are 10 consecutive doc
    // minutes; the cut doc_id is forced to != the window-opening
    // residue), so the recovered-partial-state path cannot be
    // accidentally skipped at any SF.
    "stream_restart_check" -> { (s, dir) =>
      Graft.ensure(s)
      val in = java.nio.file.Files.createTempDirectory("graft_restart_in").toString
      val out = java.nio.file.Files.createTempDirectory("graft_restart_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ck").toString
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val rows =
        try {
          val base = docs(s, dir).select(col("doc_id"),
            timestamp_seconds(lit(1700000000L) + col("doc_id") * 60L).as("ts"))
          val nDocs = base.count()
          // windows hold docs {10k+7 .. 10k+16} (epoch base 1700000000
          // is 200 s into its window); a cut at doc_id ≡ 2 (mod 10)
          // always lands 5 docs into a window
          val cut = (nDocs / 2 / 10) * 10 + 2
          def tsOf(d: Long) = 1700000000L + d * 60L
          val wb = (tsOf(cut) / 600L) * 600L // the window the stop splits
          val splitSpansWindow = tsOf(cut - 1) >= wb && cut + 30 < nDocs
          def stage(from: Long, until: Long, first: Boolean): Unit =
            base.filter(col("doc_id") >= lit(from) && col("doc_id") < lit(until))
              .coalesce(1).write.mode(if (first) "overwrite" else "append").parquet(in)
          val schema = base.schema
          s.conf.set("spark.sql.shuffle.partitions", "4")
          def runOnce(): Unit = {
            val q = s.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(in)
              .withWatermark("ts", "600 seconds")
              .groupBy(window(col("ts"), "10 minutes"))
              .agg(expr("hll_agg(cast(doc_id as string))").as("hll"),
                count(lit(1)).as("n"))
              .select(col("window.start").cast("long").as("ws"), col("hll"), col("n"))
              .writeStream.outputMode("append").format("parquet")
              .option("path", out).option("checkpointLocation", ckpt)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
            q.awaitTermination()
          }
          // run 1: two ascending slices exist; drains and stops
          stage(0L, cut / 2, first = true); stage(cut / 2, cut, first = false)
          runOnce()
          val phaseA = s.read.parquet(out).select(col("ws")).collect()
            .map(_.getLong(0)).toSet
          // more corpus arrives; run 2 restarts on the same checkpoint
          stage(cut, (cut + nDocs) / 2, first = false)
          stage((cut + nDocs) / 2, nDocs, first = false)
          runOnce()
          val streamed = s.read.parquet(out) // sink metadata log = committed only
          val cutoff = tsOf(nDocs - 1) - 600L
          val batch = base
            .groupBy(window(col("ts"), "10 minutes"))
            .agg(expr("hll_agg(cast(doc_id as string))").as("hll"),
              count(lit(1)).as("n"))
            .select(col("window.start").cast("long").as("ws"), col("hll"), col("n"))
            .filter(col("ws") + 600L <= lit(cutoff))
          val nStreamed = streamed.count()
          val nDistinct = streamed.select(col("ws")).distinct().count()
          val boundaryOk = splitSpansWindow && !phaseA.contains(wb) &&
            streamed.filter(col("ws") === lit(wb)).count() == 1L
          batch.as("b").join(streamed.as("st"), "ws")
            .select(col("ws").as("window_start"),
              col("b.n").as("n_docs"),
              (col("b.hll") === col("st.hll")).as("hll_equal_batch"),
              (col("b.n") === col("st.n")).as("count_equal_batch"),
              lit(batch.count() == nStreamed).as("window_sets_equal"),
              lit(nStreamed == nDistinct).as("no_reemission_after_restart"),
              lit(phaseA.nonEmpty && phaseA.size < nStreamed).as("both_runs_emitted"),
              lit(boundaryOk).as("split_window_recovered_once"))
            .orderBy("window_start").collect().toSeq
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
          graft.util.GraftFiles.deleteRecursively(in)
          graft.util.GraftFiles.deleteRecursively(out)
          graft.util.GraftFiles.deleteRecursively(ckpt)
        }
      import s.implicits._
      rows.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3),
          r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))
        .toDF("window_start", "n_docs", "hll_equal_batch", "count_equal_batch",
          "window_sets_equal", "no_reemission_after_restart", "both_runs_emitted",
          "split_window_recovered_once")
    },

    // Stream-STREAM inner join with event-time range condition — the
    // continuous form of enrichment joins (doc stream x annotation
    // stream). Both sides are watermarked and the join carries a time
    // bound, which is what lets Spark EXPIRE buffered state: an
    // unbounded-state stream join dies on a corpus feed, the bounded
    // form keeps state to (watermark delay + range) x ingest rate.
    // Annotations exist for every 2nd doc and arrive 60 s after the
    // doc event, inside the 5 min range; the streamed result replayed
    // file-per-micro-batch must equal the batch join exactly.
    "stream_join_check" -> { (s, dir) =>
      Graft.ensure(s)
      val tmpL = java.nio.file.Files.createTempDirectory("graft_sj_docs").toString
      val tmpR = java.nio.file.Files.createTempDirectory("graft_sj_anns").toString
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val rows =
        try {
          // sequential ascending time slices per side: disorder across
          // micro-batches stays below the watermark at ANY scale
          // factor (random file partitioning was correct at sf0.01
          // only because the 500 s span happened to fit the 10 min
          // delay — at sf0.1 it silently dropped late rows)
          val base = docs(s, dir).select(col("doc_id"), col("lang"),
            timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"))
          val nDocs = base.count()
          val anns = base.filter(col("doc_id") % 2 === 0)
            .select(col("doc_id").as("ann_id"),
              (col("ts") + expr("INTERVAL 60 SECONDS")).as("ann_ts"),
              concat(lit("label_"), col("doc_id") % 7).as("label"))
          for (i <- 0L until 2L) {
            def slice(c: org.apache.spark.sql.Column) =
              c * 2 >= lit(i * nDocs) && c * 2 < lit((i + 1) * nDocs)
            base.filter(slice(col("doc_id"))).coalesce(1)
              .write.mode(if (i == 0L) "overwrite" else "append").parquet(tmpL)
            anns.filter(slice(col("ann_id"))).coalesce(1)
              .write.mode(if (i == 0L) "overwrite" else "append").parquet(tmpR)
          }
          // state-store width is fixed at stream START from
          // spark.sql.shuffle.partitions; 32 state partitions x
          // per-micro-batch overhead dominates this machinery-bound
          // gate, so narrow it for the stream (restored in the outer
          // finally, exception-safe)
          s.conf.set("spark.sql.shuffle.partitions", "4")
          val docsSt = s.readStream.schema(s.read.parquet(tmpL).schema)
            .option("maxFilesPerTrigger", "1").parquet(tmpL)
            .withWatermark("ts", "10 minutes")
          val annsSt = s.readStream.schema(s.read.parquet(tmpR).schema)
            .option("maxFilesPerTrigger", "1").parquet(tmpR)
            .withWatermark("ann_ts", "10 minutes")
          val joined = docsSt.join(annsSt,
            col("doc_id") === col("ann_id") &&
              col("ann_ts") >= col("ts") &&
              col("ann_ts") <= col("ts") + expr("INTERVAL 5 MINUTES"))
            .select(col("doc_id"), col("lang"), col("label"))
          val qname = "graft_stream_join_" + java.util.UUID.randomUUID.toString.replace("-", "")
          val q = joined.writeStream.outputMode("append").format("memory")
            .queryName(qname)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          try {
            q.awaitTermination()
            val streamed = s.table(qname)
            val batch = s.read.parquet(tmpL).as("d")
              .join(s.read.parquet(tmpR).as("a"),
                col("doc_id") === col("ann_id") &&
                  col("ann_ts") >= col("ts") &&
                  col("ann_ts") <= col("ts") + expr("INTERVAL 5 MINUTES"))
              .select(col("doc_id"), col("lang"), col("label"))
            val equal = streamed.exceptAll(batch).isEmpty &&
              batch.exceptAll(streamed).isEmpty
            streamed
              .select(col("doc_id"), col("lang"), col("label"),
                lit(equal).as("stream_equals_batch"))
              .orderBy("doc_id").collect().toSeq
          } finally s.catalog.dropTempView(qname)
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
          graft.util.GraftFiles.deleteRecursively(tmpL)
          graft.util.GraftFiles.deleteRecursively(tmpR)
        }
      import s.implicits._
      rows.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
        .toDF("doc_id", "lang", "label", "stream_equals_batch")
    },

    "parallelism_invariance" -> { (s, dir) =>
      Graft.ensure(s)
      val d = docs(s, dir)
      def build(parts: Int) = SaltedAgg.plainAgg(
        d.repartition(parts), Seq("lang"), specs)
      val a = build(2)
      val b = build(13)
      val joined = a.as("a").join(b.as("b"), "lang")
        .agg(bool_and((col("a.ebf") === col("b.ebf")) &&
          (col("a.hll") === col("b.hll")) &&
          (col("a.cms") === col("b.cms"))).as("eq"), count(lit(1)).as("n")).head
      s.range(1).select(
        lit(joined.getBoolean(0)).as("bytes_identical_across_parallelism"),
        lit(joined.getLong(1) == 5L).as("all_langs_present"))
    },
  )

  /** Shared DuckDB CTE for the sessionization oracles: same lag /
    * flag / running-sum construction as [[Sessionize.label]], micro-
    * second-exact gap compare (43 200 000 000 us = 12 h). */
  private val sessionCte =
    "WITH o AS (SELECT user_id, event_id, ts, value, " +
      "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
    "f AS (SELECT *, CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 43200000000 " +
      "THEN 1 ELSE 0 END AS new_s FROM o), " +
    "s AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM f) "

  val oracleSql: Map[String, String] = Map(
    "interval_join_check" ->
      ("SELECT e.event_id, e.user_id, p.event_id AS purchase_id " +
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e " +
        "JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p " +
        "ON e.user_id = p.user_id " +
        "AND e.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts + INTERVAL 1 HOUR " +
        "ORDER BY e.event_id, p.event_id"),
    "interval_overlap_check" ->
      ("SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id " +
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p " +
        "JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e " +
        "ON p.user_id = e.user_id " +
        "AND p.ts - INTERVAL 1 HOUR <= e.ts + INTERVAL 30 MINUTE " +
        "AND e.ts - INTERVAL 30 MINUTE <= p.ts + INTERVAL 1 HOUR " +
        "ORDER BY purchase_id, error_id"),
    "events_sessionize" ->
      (sessionCte +
        "SELECT user_id, session_idx, MIN(ts) AS session_start, MAX(ts) AS session_end, " +
        "COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value " +
        "FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx"),
    "events_session_window_check" ->
      (sessionCte +
        "SELECT TRUE AS all_sessions_matched, TRUE AS counts_equal, " +
        "TRUE AS ends_equal_shifted_by_gap, " +
        "(SELECT COUNT(*) FROM (SELECT DISTINCT user_id, session_idx FROM s)) AS n_sessions"),
    "stream_sessionize_check" ->
      (sessionCte +
        "SELECT TRUE AS all_sessions_matched, TRUE AS bounds_equal, TRUE AS counts_equal, " +
        "TRUE AS sums_within_tolerance, " +
        "(SELECT COUNT(*) FROM (SELECT DISTINCT user_id, session_idx FROM s)) AS n_sessions"),
    "salted_vs_plain_equivalence" ->
      ("SELECT source, TRUE AS ebf_equal, TRUE AS hll_equal, TRUE AS cms_equal " +
        "FROM (SELECT DISTINCT source FROM documents) ORDER BY source"),
    "salted_join_check" ->
      ("SELECT p_brand, COUNT(*) AS n_li, ROUND(SUM(l_quantity), 2) AS qty " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand"),
    "extract_text_identity" ->
      "SELECT doc_id, TRUE AS identical FROM documents ORDER BY doc_id",
    "ebf_shard_table_probe" ->
      "SELECT doc_id, TRUE AS hit FROM documents ORDER BY doc_id",
    "checkpoint_resume_equivalence" ->
      ("SELECT TRUE AS killed_after_two_chunks, TRUE AS resumed_equals_single_shot, " +
        "TRUE AS all_groups_present"),
    "parallelism_invariance" ->
      "SELECT TRUE AS bytes_identical_across_parallelism, TRUE AS all_langs_present",
    "ebf_join_prune" ->
      ("SELECT o_orderpriority, COUNT(*) AS n_li, " +
        "ROUND(SUM(l_extendedprice), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "join_prune_rule_check" ->
      ("SELECT s_nationkey, COUNT(*) AS n_li, " +
        "ROUND(SUM(l_extendedprice), 2) AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE s_nationkey < 5 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    "asof_prior_purchase" ->
      ("SELECT l.event_id, l.user_id, r.ts AS purchase_ts, " +
        "r.value AS purchase_value " +
        "FROM (SELECT * FROM events WHERE event_type <> 'purchase') l " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r " +
        "ON l.user_id = r.user_id AND l.ts >= r.ts " +
        "ORDER BY l.event_id"),
    "asof_next_error" ->
      ("SELECT event_id, user_id, " +
        "CASE WHEN within THEN e_ts END AS error_ts, " +
        "CASE WHEN within THEN e_id END AS error_id FROM (" +
        "SELECT l.event_id, l.user_id, r.ts AS e_ts, r.event_id AS e_id, " +
        "r.ts <= l.ts + INTERVAL 1 HOUR AS within " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') l " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r " +
        "ON l.user_id = r.user_id AND l.ts <= r.ts) " +
        "ORDER BY event_id"),
    "kll_range_partition_check" ->
      ("SELECT COUNT(*) AS n_rows, TRUE AS all_partitions_nonempty, " +
        "TRUE AS balanced_within_sketch_bound, TRUE AS ranges_disjoint_ordered " +
        "FROM lineitem"),
    "kll_sorted_layout_check" ->
      ("SELECT TRUE AS rows_conserved, TRUE AS multiple_files, " +
        "TRUE AS file_ranges_disjoint, TRUE AS files_sorted_within"),
    "sketch_index_lookup_check" ->
      ("SELECT doc_id, n_chars, TRUE AS files_pruned, TRUE AS negative_lookup_pruned " +
        "FROM documents WHERE n_chars >= 306 " +
        "AND doc_id >= 100 AND doc_id < 160 AND doc_id % 3 = 0 ORDER BY doc_id"),
    "stream_vs_batch_sketch_equivalence" ->
      ("SELECT lang, TRUE AS ebf_equal, TRUE AS hll_equal, TRUE AS cms_equal, " +
        "TRUE AS theta_equal, TRUE AS sample_equal " +
        "FROM (SELECT DISTINCT lang FROM documents) ORDER BY lang"),
    "ebf_filter_persistence_check" ->
      ("SELECT TRUE AS shards_byte_identical_after_roundtrip, " +
        "TRUE AS all_shards_present, TRUE AS reloaded_filter_no_false_negatives"),
    "stream_dedup_check" ->
      ("SELECT doc_id, TRUE AS input_had_dupes, TRUE AS stream_equals_batch " +
        "FROM documents ORDER BY doc_id"),
    "stream_decayed_trending_check" ->
      ("SELECT token, TRUE AS estimate_equal, TRUE AS total_mass_equal FROM (" +
        "SELECT token, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) " +
        "AS token FROM documents) WHERE token <> '' GROUP BY token " +
        "ORDER BY n DESC, token LIMIT 5) ORDER BY token"),
    "stream_join_check" ->
      ("SELECT doc_id, lang, 'label_' || CAST(doc_id % 7 AS VARCHAR) AS label, " +
        "TRUE AS stream_equals_batch FROM documents WHERE doc_id % 2 = 0 " +
        "ORDER BY doc_id"),
    "stream_windowed_sketch_check" ->
      ("SELECT window_start, n_docs, TRUE AS hll_equal_batch, " +
        "TRUE AS count_equal_batch, TRUE AS window_sets_equal FROM (" +
        "SELECT ((1700000000 + doc_id * 60) // 600) * 600 AS window_start, " +
        "count(*) AS n_docs FROM documents GROUP BY 1) w " +
        "WHERE window_start + 600 <= " +
        "(SELECT max(1700000000 + doc_id * 60) - 600 FROM documents) " +
        "ORDER BY window_start"),
    "stream_restart_check" ->
      ("SELECT window_start, n_docs, TRUE AS hll_equal_batch, " +
        "TRUE AS count_equal_batch, TRUE AS window_sets_equal, " +
        "TRUE AS no_reemission_after_restart, TRUE AS both_runs_emitted, " +
        "TRUE AS split_window_recovered_once FROM (" +
        "SELECT ((1700000000 + doc_id * 60) // 600) * 600 AS window_start, " +
        "count(*) AS n_docs FROM documents GROUP BY 1) w " +
        "WHERE window_start + 600 <= " +
        "(SELECT max(1700000000 + doc_id * 60) - 600 FROM documents) " +
        "ORDER BY window_start"),
    "incremental_corpus_check" ->
      ("SELECT doc_id, n_chars, TRUE AS file_counts_right, " +
        "TRUE AS second_update_noop, TRUE AS narrow_band_pruned FROM documents " +
        "WHERE doc_id % (SELECT greatest(1, count(*) // 40) FROM documents) = 0 " +
        "ORDER BY doc_id"),
    "zorder_skipping_check" ->
      ("SELECT count(*) AS n_band, round(sum(o_totalprice), 2) AS sum_band, " +
        "TRUE AS rows_conserved, TRUE AS z_files_pruned_2d, " +
        "TRUE AS z_prunes_price_dim, TRUE AS z_beats_linear_price_dim " +
        "FROM orders WHERE o_custkey BETWEEN 200 AND 500 " +
        "AND o_totalprice BETWEEN 100000 AND 200000"),
  )
}
