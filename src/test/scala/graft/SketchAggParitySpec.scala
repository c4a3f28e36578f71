package graft

import graft.functions.Graft
import graft.plans._
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, lit, when}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL contract of all 25 registered sketch aggregates, each one
  * native [[SketchAgg]]: implicit input casts, null skipping, NULL from
  * an empty merge, merge errors that name the function, binary (or
  * struct-of-binary) nullable results, and no `ScalaAggregator` in any
  * plan. The unregistered kinds that rules and facades run (rewrite
  * results, FD, vector sums, per-lang tokens, the sharded wire) keep
  * their names, result types, nullability and null skipping. */
class SketchAggParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  /** Build aggregates and the SQL types of their arguments. */
  private val builds: Seq[(String, Seq[String])] = Seq(
    "ebf_agg", "hll_agg", "theta_agg", "cms_agg", "cs_agg", "cs_tokens_agg",
    "cms_tokens_agg", "topk_agg", "topk_tokens_agg", "cms_topk_tokens_agg", "sample_agg")
    .map(_ -> Seq("string")) ++ Seq(
    "dcms_agg" -> Seq("string", "double"),
    "kll_agg" -> Seq("double"),
    "tdigest_agg" -> Seq("double"),
    "tdigest_weighted_agg" -> Seq("double", "bigint"))

  private val merges: Seq[String] = Seq("ebf", "hll", "theta", "cms", "dcms", "kll",
    "tdigest", "topk", "sample", "cs").map(_ + "_merge_agg")

  /** A column of each argument type, each with its own null rows. */
  private val argCol = Map("string" -> "k", "double" -> "v", "bigint" -> "w")

  // one partition: order-dependent sketches (KLL, t-digest, MG, sample)
  // see the same rows in the same order in every compared aggregate
  private lazy val t: DataFrame = {
    val df = spark.sql(
      """SELECT id,
        |       cast(id % 1000 AS int) AS ki,
        |       cast(id / 3 AS decimal(10, 2)) AS kd,
        |       CASE WHEN id % 11 = 0 THEN NULL ELSE concat('w', id % 97, ' w', id % 7) END AS k,
        |       CASE WHEN id % 13 = 0 THEN NULL ELSE id * 1.5D END AS v,
        |       CASE WHEN id % 7 = 0 THEN NULL ELSE 1 + id % 5 END AS w
        |FROM range(0, 3000, 1, 1)""".stripMargin)
    df.createOrReplaceTempView("parity_t")
    df
  }

  private def call(name: String, args: Seq[String]): String = s"$name(${args.mkString(", ")})"

  test("bigint, int and decimal inputs give the bytes of an explicit cast") {
    t
    for ((name, types) <- builds; p <- types.indices; src <- Seq("id", "ki", "kd")) {
      val implicitArgs = types.map(argCol).updated(p, src)
      val explicitArgs = types.map(argCol).updated(p, s"cast($src AS ${types(p)})")
      val same = spark.sql(s"SELECT ${call(name, implicitArgs)} IS NOT NULL AND " +
        s"${call(name, implicitArgs)} = ${call(name, explicitArgs)} FROM parity_t").head
      assert(same.getBoolean(0),
        s"${call(name, implicitArgs)} differs from ${call(name, explicitArgs)}")
    }
  }

  test("nulls are skipped") {
    t
    for ((name, types) <- builds) {
      val args = types.map(argCol)
      val notNull = args.map(a => s"$a IS NOT NULL").mkString(" AND ")
      val r = spark.sql(s"SELECT ${call(name, args)} = " +
        s"${call(name, args)} FILTER (WHERE $notNull) FROM parity_t").head
      assert(r.getBoolean(0), s"${call(name, args)} does not skip null rows")
    }
  }

  test("merge aggregates over empty and all-null input return NULL") {
    for (m <- merges) {
      assert(spark.sql(s"SELECT $m(b) FROM (SELECT cast(NULL AS binary) AS b) WHERE false")
        .head.isNullAt(0), s"$m over empty input")
      assert(spark.sql(s"SELECT $m(cast(NULL AS binary)) FROM range(3)").head.isNullAt(0),
        s"$m over all-null input")
    }
  }

  test("result types are binary (struct of binaries for cms_topk_tokens_agg), nullable") {
    t
    val tokens = StructType(Seq(StructField("cms", BinaryType), StructField("topk", BinaryType)))
    val calls = builds.map { case (n, ts) => n -> call(n, ts.map(argCol)) } ++
      merges.map(m => m -> s"$m(cast(NULL AS binary))")
    assert(calls.size === 25)
    for ((name, c) <- calls) {
      val f = spark.sql(s"SELECT $c AS r FROM parity_t").schema("r")
      val expected = if (name == "cms_topk_tokens_agg") tokens else BinaryType
      assert(f.dataType === expected, name)
      assert(f.nullable, name)
    }
  }

  test("every registered name resolves to SketchAgg; no ScalaAggregator in any plan") {
    t
    val buildCalls = builds.map { case (n, ts) => n -> call(n, ts.map(argCol)) }.toMap
    // each merge over per-group sketches of its own build
    val queries = buildCalls.map { case (n, c) => n -> s"SELECT $c FROM parity_t" } ++
      merges.map(m => m -> (s"SELECT $m(sk) FROM (SELECT " +
        s"${buildCalls(m.stripSuffix("_merge_agg") + "_agg")} AS sk FROM parity_t GROUP BY id % 5)"))
    assert(queries.size === 25)
    assert(SketchAgg.registered.map(_.name).toSet === queries.keySet)
    for ((name, sql) <- queries) {
      val q = spark.sql(sql)
      var found = false
      for (plan <- Seq(q.queryExecution.analyzed, q.queryExecution.optimizedPlan))
        plan.foreach(_.expressions.foreach(_.foreach {
          case s: SketchAgg[_] if s.prettyName == name => found = true
          case e => assert(!e.getClass.getName.contains("ScalaAggregator"), s"$name: $e")
        }))
      assert(found, s"$name does not resolve to SketchAgg")
      q.collect()
    }
    intercept[AnalysisException](spark.sql("SELECT ebf_agg(k, k) FROM parity_t"))
  }

  test("a merge fed undecodable bytes names the function in its error") {
    t
    for (m <- merges) {
      val build = builds.toMap.apply(m.stripSuffix("_merge_agg") + "_agg")
      val sk = s"${call(m.stripSuffix("_merge_agg") + "_agg", build.map(argCol))}"
      val q = spark.sql(s"SELECT $m(substr(sk, 1, length(sk) - 3)) FROM " +
        s"(SELECT $sk AS sk FROM parity_t GROUP BY id % 5)")
      val e = intercept[Exception](q.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.startsWith(s"$m: ") && c.getCause.isInstanceOf[IllegalArgumentException]),
        s"$m: no IllegalArgumentException naming the function in ${chain.map(_.getMessage).mkString(" <- ")}")
    }
  }

  test("rule and facade kinds: names, result types, nullability, null skipping") {
    t
    val k = col("k")
    val vec = when(col("v").isNotNull, array(col("v"), col("v") + 1))
    val kinds: Seq[(SketchKind[_ <: AnyRef], Seq[Column], String, DataType, Boolean)] = Seq(
      (HllEstimateKind, Seq(k), "hll_ndv_agg", LongType, false),
      (KllQuantileKind(Seq(0.5), returnArray = false), Seq(col("v")), "kll_quantile_agg",
        DoubleType, true),
      (KllQuantileKind(Seq(0.1, 0.9), returnArray = true), Seq(col("v")), "kll_quantile_agg",
        ArrayType(DoubleType, containsNull = false), true),
      (MgModeKind(256), Seq(k), "mg_mode_agg", StringType, true),
      (MgPairsKind(256), Seq(k), "mg_topk_pairs_agg", ApproxTopKRewriteRule.PairsType, false),
      (FdKind(2, 2), Seq(vec), "graft_fd_agg", BinaryType, false),
      (VecSumKind(2), Seq(vec), "graft_vec_sum", ArrayType(DoubleType, containsNull = false), false),
      (PerLangKind(3, 64, 16, 7L, 0), Seq(k, col("w").cast("string")),
        "per_lang_token_sketches_agg", MapType(StringType, BatchedTokenBuf.dataType, false), false),
      (EbfShardedWireKind(4), Seq(lit(null).cast("int"), lit(null).cast("binary")),
        "ebf_sharded_wire_agg", BinaryType, false))
    for ((kind, in, name, dt, nullable) <- kinds) {
      val agg = SketchAgg.column(in, kind).as("r")
      val all = t.agg(agg)
      val f = all.schema("r")
      assert(kind.name === name)
      assert(f.dataType === dt, name)
      assert(f.nullable === nullable, name)
      val notNull = in.map(_.isNotNull).reduce(_ && _)
      assert(all.head === t.filter(notNull).agg(agg).head, s"$name does not skip null rows")
      val empty = t.filter(lit(false)).agg(agg).head
      assert(empty.isNullAt(0) === nullable, s"$name over empty input")
    }
  }
}
