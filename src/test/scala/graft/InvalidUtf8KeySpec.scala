package graft

import graft.core.{Ebf, Hash128, ShardedEbf}
import graft.functions.Graft
import graft.pipeline.ShardedProbe
import graft.plans.{EbfMightContain, EbfShardedMightContain, EbfShardedProbeExpr, SketchFn, Utf8Key}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** A string column may hold bytes that are not valid UTF-8 (a cast from
  * binary, a lax parquet writer). The `String` kernels see the decoded
  * `String`, where each invalid sequence became U+FFFD;
  * every native path must hash the same bytes, or a key the build
  * inserted is missed by the probe. */
class InvalidUtf8KeySpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  // X'C328': a two-byte lead whose continuation byte is missing; it
  // decodes to U+FFFD followed by "(" (bytes EF BF BD 28). Per-row, not
  // a constant, so probes are not folded away at plan time.
  private def keys: DataFrame = spark.range(2).selectExpr(
    "CASE WHEN id = 0 THEN cast(X'C328' AS string) ELSE 'plain' END AS k")

  private def expr(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ColumnBridge.column(e)

  private def allHit(df: DataFrame, probe: Column): Unit = {
    val hits = df.select(probe).collect().map(_.getBoolean(0))
    assert(hits.length === 2 && hits.forall(identity), s"missed: ${hits.toSeq}")
  }

  test("Utf8Key hashes every byte string as its decoded String does") {
    val rnd = new scala.util.Random(7)
    val fixed = Seq(Array(0xC3, 0x28), Array(0xED, 0xA0, 0x80), Array(0xC0, 0x80),
      Array(0xF4, 0x90, 0x80, 0x80), Array(0xE2, 0x82), Array(0xC3, 0xA9), Array(0x61))
      .map(_.map(_.toByte))
    val random = Seq.fill(3000) {
      Array.fill(rnd.nextInt(12))(
        (if (rnd.nextBoolean()) rnd.nextInt(128) else 128 + rnd.nextInt(128)).toByte)
    }
    (fixed ++ random).foreach { b =>
      val decoded = new String(b, java.nio.charset.StandardCharsets.UTF_8)
      assert(Utf8Key.hash(UTF8String.fromBytes(b), 42L) === Hash128.hashString(decoded, 42L),
        s"bytes ${b.map(x => f"${x & 0xff}%02X").mkString}")
    }
  }

  test("an invalid-UTF-8 key built by ebf_agg and cms_agg is found by every probe path") {
    keys.createOrReplaceTempView("bad_keys")
    val built = spark.sql("SELECT ebf_agg(k), cms_agg(k) FROM bad_keys").head
    val ebf = built.getAs[Array[Byte]](0)
    val cms = built.getAs[Array[Byte]](1)
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02X").mkString

    // ebf_might_contain over a literal sketch: a SketchFn over the
    // constant, decoded once per task
    val lit = spark.sql(s"SELECT ebf_might_contain(X'${hex(ebf)}', k) FROM bad_keys")
    var constant = false
    lit.queryExecution.optimizedPlan.foreach(p => p.expressions.foreach(_.foreach(e =>
      if (SketchFn.isA[EbfMightContain](e) && e.children.head.foldable) constant = true)))
    assert(constant)
    assert(lit.collect().forall(_.getBoolean(0)))
    // ebf_might_contain over a sketch column: SketchFn through SketchCache
    assert(spark.sql(
      """SELECT ebf_might_contain(s.sk, b.k) FROM bad_keys b
        |CROSS JOIN (SELECT ebf_agg(k) AS sk FROM bad_keys) s""".stripMargin)
      .collect().forall(_.getBoolean(0)))
    // the broadcast probe UDF
    allHit(keys, Graft.ebfProbe(spark, Ebf.fromBytes(ebf))(col("k")))
    // the join-prune rule's probe
    allHit(keys, expr(SketchFn(Seq(Literal(ebf), ColumnBridge.expression(col("k"))),
      EbfMightContain())))

    // the sharded build and its probes: broadcast native expression,
    // sharded blob and cogroup
    val shards = ShardedProbe.buildShardTable(keys, col("k"), 4, m0 = 64)
    val bc = ShardedProbe.broadcastShards(shards, 4)
    allHit(keys, EbfShardedProbeExpr.probeColumn(bc, col("k")))
    val blob = ShardedEbf.fromShardBytes(
      shards.collect().map(r => (r.getInt(0), r.getAs[Array[Byte]](1))).toSeq, 4).toWire
    allHit(keys, expr(SketchFn(Seq(Literal(blob), ColumnBridge.expression(col("k"))),
      EbfShardedMightContain())))
    assert(ShardedProbe.probeCogrouped(keys, col("k"), shards, 4).select("hit")
      .collect().forall(_.getBoolean(0)))

    // cms_estimate: literal sketch and sketch column
    assert(spark.sql(s"SELECT cms_estimate(X'${hex(cms)}', k) FROM bad_keys")
      .collect().forall(_.getLong(0) >= 1L))
    assert(spark.sql(
      """SELECT cms_estimate(s.sk, b.k) FROM bad_keys b
        |CROSS JOIN (SELECT cms_agg(k) AS sk FROM bad_keys) s""".stripMargin)
      .collect().forall(_.getLong(0) >= 1L))
    // topk_estimate over a sketch column
    assert(spark.sql(
      """SELECT topk_estimate(s.sk, b.k) FROM bad_keys b
        |CROSS JOIN (SELECT topk_agg(k) AS sk FROM bad_keys) s""".stripMargin)
      .collect().forall(_.getLong(0) >= 1L))

    // and the hash expression agrees with the String kernel
    val h = spark.sql("SELECT graft_hash128_h1(k) FROM bad_keys WHERE k <> 'plain'").head.getLong(0)
    assert(h === Hash128.hashString("\uFFFD(", Graft.SketchSeed).h1)
  }
}
