package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** A metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

object Measure {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val ms = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Loops the workload's iteration for `seconds` (at least once; a new
    * iteration starts only if one more of median length still fits),
    * then reports medians over iterations. */
  def untraced(spark: SparkSession, w: Workload, ctx: Ctx, args: Main.Args,
               setupSecs: Seq[Double]): String = {
    val tr = new Tracer(false, "")
    val iters = ArrayBuffer.empty[Iter]
    val t0 = System.nanoTime()
    def fits = Workloads.secondsSince(t0) +
      median(iters.map(_.wallS).filterNot(_.isNaN).toSeq) <= args.seconds
    while (iters.isEmpty || fits)
      iters += w.runChecked(spark, tr)
    val ok = iters.filterNot(_.wallS.isNaN).toSeq
    val attempted = iters.map(_.ops.toLong).sum
    val failures = iters.flatMap(_.failures)
    failures.distinct.foreach(f => Main.info(s"FAILED $f"))
    require(ok.nonEmpty, s"every iteration of ${w.name} threw")

    Main.info(f"${w.name}: seed ${ctx.seed}, ${ctx.rows} rows, local[${ctx.nproc}], " +
      f"${iters.length} iterations in ${Workloads.secondsSince(t0)}%.1f s, " +
      f"setup passes ${setupSecs.map(s => f"$s%.2f").mkString(" ")} s")
    for (k <- ok.head.extra.keys.toSeq.sorted)
      Main.info(f"$k%-20s ${median(ok.map(_.extra(k)))}%.6g (median of ${ok.length})")
    val lat = ok.flatMap(_.latenciesMs)
    if (lat.nonEmpty)
      Main.info(f"probe_ms_p50 ${percentile(lat, 0.5)}%.3f ms, probe_ms_p90 " +
        f"${percentile(lat, 0.9)}%.3f ms over ${lat.length} batches")
    Main.info(f"error_rate ${failures.length.toDouble / attempted}%.4g (${failures.length}/$attempted)")

    json(failures.isEmpty, attempted, failures.length, Seq(
      Metric("setup_s", median(setupSecs), "s"),
      Metric("docs_per_s", median(ok.map(i => ctx.rows / i.buildS)), "1/s"),
      Metric("iteration_s", median(ok.map(_.wallS)), "s"),
      Metric("sketch_bytes_per_key", median(ok.map(_.bytesPerKey)), "B/key")))
  }
}
