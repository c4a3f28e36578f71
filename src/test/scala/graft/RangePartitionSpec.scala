package graft

import graft.core.Kll
import graft.pipeline.RangePartition
import graft.plans.RangeBucket
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** O32: KLL-driven balanced range repartitioning. The load-bearing
  * claims: (1) the proxy table exactly inverts Spark's hash
  * partitioner, so bucket i lands in PARTITION i (not merely "some"
  * partition); (2) the codegen'd bucket router agrees with the
  * interpreted upper-bound definition including ties and boundary
  * duplicates; (3) on a skewed distribution the partition sizes are
  * balanced within the sketch's rank-error bound — the property
  * repartition-by-hash lacks and repartitionByRange pays a sampling
  * job for.
  */
class RangePartitionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("proxies invert HashPartitioning: bucket i lands in partition i") {
    for (p <- Seq(2, 7, 16, 64, 257)) {
      val px = RangePartition.proxies(p)
      assert(px.distinct.length == p)
      // verified against Spark's actual shuffle, not a re-derivation:
      // rows carrying proxy(i) must surface with spark_partition_id == i
      if (p == 16) {
        import spark.implicits._
        val placed = px.zipWithIndex.toSeq.toDF("proxy", "bucket")
          .repartition(p, col("proxy"))
          .select(col("bucket"), spark_partition_id().as("pid"))
          .collect()
        placed.foreach(r => assert(r.getInt(0) == r.getInt(1),
          s"bucket ${r.getInt(0)} landed in partition ${r.getInt(1)}"))
      }
    }
  }

  test("bucket router: upper-bound semantics, ties right, codegen == interpreted") {
    val bs = Array(10.0, 20.0, 20.0, 30.0) // duplicate boundary = collapsed bucket
    val e = RangeBucket(bs)
    assert(e.bucket(-5.0) == 0)
    assert(e.bucket(10.0) == 1) // tie goes right
    assert(e.bucket(19.9) == 1)
    assert(e.bucket(20.0) == 3) // skips the duplicate's empty bucket
    assert(e.bucket(30.0) == 4)
    assert(e.bucket(1e18) == 4)
    // through real (codegen'd) execution, vs the interpreted method
    val vals = spark.range(0, 4000).select((col("id") / 100.0 - 5.0).as("v"))
    val got = vals.select(col("v"), RangePartition.bucketCol(col("v"), bs).as("b"))
      .collect()
    got.foreach(r => assert(r.getInt(1) == e.bucket(r.getDouble(0))))
    // null stays null
    val nulls = spark.range(1).select(lit(null).cast("double").as("v"))
      .select(RangePartition.bucketCol(col("v"), bs).as("b")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("skewed data ends up balanced within the sketch rank-error bound") {
    // exponential-ish skew: hash-partitioning by value would be fine,
    // but CONTIGUOUS ranges of a skewed value need quantile boundaries
    val n = 200000
    val df = spark.range(n)
      .select((pow(col("id").cast("double") / n, 4.0) * 1e6).as("v"))
    graft.functions.Graft.ensure(spark)
    val kll = Kll.fromBytes(
      df.agg(call_udf("kll_agg", col("v")).as("sk")).head.getAs[Array[Byte]](0))
    val numParts = 16
    val parted = RangePartition.byKll(df, col("v"), kll, numParts)
    val sizes = parted.withColumn("pid", spark_partition_id())
      .groupBy("pid").agg(count(lit(1)).as("cnt"), min("v").as("mn"), max("v").as("mx"))
      .collect().sortBy(_.getAs[Int]("pid"))
    assert(sizes.length == numParts, "every range partition populated")
    assert(sizes.map(_.getAs[Long]("cnt")).sum == n, "no rows lost")
    val ideal = n.toDouble / numParts
    val worst = sizes.map(_.getAs[Long]("cnt")).max / ideal
    assert(worst <= 1.5, s"worst partition ${worst}x ideal")
    // contiguous + globally ordered: partition i's max <= partition i+1's min
    sizes.sliding(2).foreach(w => if (w.length == 2)
      assert(w(0).getAs[Double]("mx") <= w(1).getAs[Double]("mn")))
  }

  test("no sampling job: byKll runs one job where repartitionByRange runs two") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val df = spark.range(100000).select(col("id").cast("double").as("v"))
    graft.functions.Graft.ensure(spark)
    val kll = Kll.fromBytes(
      df.agg(call_udf("kll_agg", col("v")).as("sk")).head.getAs[Array[Byte]](0))
    def jobsFor(body: => Unit): Int = {
      // JobStart posts to the async listener bus at submission and the
      // action blocks until job end, so a short settle is sufficient
      Thread.sleep(500)
      val j0 = jobs.get(); body
      Thread.sleep(500)
      jobs.get() - j0
    }
    // given the sketch (which the engine's jobs already carry as
    // metrics), range placement costs ONE job; Spark's own
    // repartitionByRange pays an extra RangePartitioner sampling pass.
    // AQE off for the count: adaptive execution splits one query into
    // several jobs, which would obscure the one being counted
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val oursJobs = jobsFor(RangePartition.byKll(df, col("v"), kll, 8).count())
      val sparkJobs = jobsFor(df.repartitionByRange(8, col("v")).count())
      assert(oursJobs == 1, s"byKll triggered $oursJobs jobs")
      assert(sparkJobs == oursJobs + 1,
        s"repartitionByRange triggered $sparkJobs jobs (expected the extra sampling job)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
