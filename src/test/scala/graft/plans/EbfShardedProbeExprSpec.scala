package graft.plans

import graft.functions.Graft
import graft.pipeline.ShardedProbe
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd probe expression must agree exactly with the
  * `ShardedEbf` kernel and the co-grouped probe — under whole-stage
  * codegen, under interpreted eval, and on null keys. */
class EbfShardedProbeExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private val numShards = 8

  private def fixture() = {
    import spark.implicits._
    val members = (0 until 2000).map(i => s"key$i").toDF("k")
    val table = ShardedProbe.buildShardTable(members, col("k"), numShards, m0 = 128)
    (members, ShardedProbe.broadcastShards(table, numShards), table)
  }

  test("no false negatives; agrees with the sharded-object probe") {
    import spark.implicits._
    val (members, bc, _) = fixture()
    // mixed member/non-member/null probe set
    val probes = ((0 until 3000 by 3).map(i => s"key$i") ++
      (0 until 1000).map(i => s"other$i")).toDF("k")
      .unionByName(Seq.empty[String].toDF("k")
        .unionByName(spark.range(1).select(lit(null).cast("string").as("k"))))

    val viaExpr = ShardedProbe.probeBroadcast(probes, col("k"), bc)
      .collect().map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap
    val obj = bc.value
    viaExpr.foreach { case (k, hit) => k.foreach(k => assert(hit === obj.mightContain(k), k)) }
    // every member hits (no false negatives through the expression)
    members.collect().map(_.getString(0)).foreach { k =>
      assert(obj.mightContain(k), s"object probe missed member $k")
    }
    (0 until 3000 by 3).map(i => s"key$i").filter(_.drop(3).toInt < 2000)
      .foreach(k => assert(viaExpr(Some(k)), s"expression probe missed member $k"))
    // null key probes as miss, not NPE/null
    assert(viaExpr(None) === false)
  }

  test("cogrouped (beyond-broadcast) probe agrees with broadcast probe incl. nulls and absent shards") {
    import spark.implicits._
    val (_, bc, table) = fixture()
    val probes = ((0 until 3000 by 3).map(i => s"key$i") ++
      (0 until 500).map(i => s"zz$i")).toDF("k")
      .unionByName(spark.range(1).select(lit(null).cast("string").as("k")))
    def toMap(df: org.apache.spark.sql.DataFrame, keyCol: String) =
      df.collect().map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap
    val viaBroadcast = toMap(ShardedProbe.probeBroadcast(probes, col("k"), bc)
      .select(col("k"), col("hit")), "k")
    val viaCogroup = toMap(ShardedProbe.probeCogrouped(probes, col("k"), table, numShards), "key")
    assert(viaCogroup === viaBroadcast)
    assert(viaCogroup(None) === false)
  }

  test("interpreted eval matches codegen output") {
    import spark.implicits._
    val (_, bc, _) = fixture()
    val probes = (0 until 500).map(i => s"key$i").toDF("k")
    def run(codegen: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try ShardedProbe.probeBroadcast(probes, col("k"), bc)
        .agg(sum(when(col("hit"), 1L).otherwise(0L))).head.getLong(0)
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(run("CODEGEN_ONLY") === run("NO_CODEGEN"))
  }

  test("byte-key probe hashes identically to string-key probe") {
    val (_, bc, _) = fixture()
    val obj = bc.value
    (0 until 3000).foreach { i =>
      val k = s"key$i"
      assert(obj.mightContain(k) ===
        obj.mightContain(k.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
  }
}
