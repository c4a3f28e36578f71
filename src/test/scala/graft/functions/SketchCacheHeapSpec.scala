package graft.functions

import graft.core.Ebf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}
import org.apache.spark.util.SizeEstimator
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Decoded sketches must not outlive the queries that read them. Spark
  * pools its task threads, so a cache kept per thread would keep every
  * sketch its thread ever read, at many times its wire size. The
  * executor's one `SketchCache` holds at most an eighth of the heap,
  * whatever the number of task threads and queries. The filters here
  * are sized so that one decoded copy of each is 2.2x that budget. */
class SketchCacheHeapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private def liveHeap(): Long = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** A filter over a 2^20-bucket table: about 4 MB decoded from about
    * 50 KB of wire. */
  private def filter(i: Int): Array[Byte] = {
    val e = Ebf.empty(m0 = 1 << 20)
    (0 until 2000).foreach(j => e.insert(s"f$i-$j"))
    e.toBytes
  }

  test("distinct filters read per row stay within the cache's budget after their queries") {
    // SketchCache.budget, as SketchCacheBoundSpec pins it
    val budget = Runtime.getRuntime.maxMemory / 8
    val decoded = SizeEstimator.estimate(Ebf.fromBytes(filter(0)))
    val n = math.ceil(2.2 * budget / decoded / 4).toInt * 4
    val rows = (0 until n).map(i => org.apache.spark.sql.Row(i, filter(i)))
    val frame = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", IntegerType), StructField("sk", BinaryType)))).repartition(4).cache()
    try {
      assert(frame.count() === n)
      val before = liveHeap()
      def within(query: String): Unit = {
        val after = liveHeap()
        assert(after <= before + budget + (64L << 20),
          s"$query: ${(after - before) >> 20} MB stayed live over $n filters of " +
            s"${decoded >> 10} KB decoded; the budget is ${budget >> 20} MB")
      }
      assert(frame.selectExpr("sum(ebf_info(sk).n)").head.getLong(0) === 2000L * n)
      within("sum(ebf_info(sk).n)")
      assert(frame.selectExpr("sum(cast(ebf_might_contain(sk, 'zzz') AS int))").head.getLong(0) < n)
      within("ebf_might_contain(sk, 'zzz')")
    } finally frame.unpersist(blocking = true)
  }
}
