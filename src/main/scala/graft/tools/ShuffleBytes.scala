package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ListenerBus
import java.util.concurrent.atomic.AtomicLong

/** Shuffle-volume probe for the optimization evidence: `runMain
  * graft.tools.ShuffleBytes <sfDir> <query> [query...]` runs each named
  * declared query to the noop sink (same session shape as QueryTime)
  * and reports total shuffle WRITE bytes/records from SparkListener
  * task metrics — the number a plan-shape claim ("the exchange now
  * carries survivors only") must move. */
object ShuffleBytes {
  def main(args: Array[String]): Unit = {
    val usage = "usage: ShuffleBytes <sfDir> <query> [query...]"
    require(args.length >= 2, usage)
    // checked before the session starts: a mistyped name fails in a second
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val unknown = args.drop(1).filterNot(graft.SparkEntry.queries.contains).map { u =>
      val near = names.filter(q => q.contains(u) || u.contains(q) || q.take(4) == u.take(4))
      s"$u (near: ${if (near.isEmpty) "none" else near.mkString(" ")})"
    }
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString("; ")}\n$usage")
    val sfDir = args(0)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-shufflebytes")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bytes = new AtomicLong(0L)
    val recs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    args.drop(1).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm plan/JIT
      ListenerBus.drain(spark.sparkContext) // no warm-run task may land after the reset
      bytes.set(0L); recs.set(0L)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBus.drain(spark.sparkContext)
      println(f"[sb] $name: shuffle_write_bytes=${bytes.get} records=${recs.get} wall=$sec%.2f s")
    }
    spark.stop()
  }
}
