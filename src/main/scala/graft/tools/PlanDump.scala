package graft.tools

import java.nio.file.{Files, Paths}

/** Plan snapshot aid for the optimization rounds: `runMain
  * graft.tools.PlanDump <sfDir> <outDir> <suffix> <query> [query...]`
  * writes `.explain("formatted")` for each named declared query to
  * `<outDir>/<query>_<suffix>.txt` — the before/after evidence files
  * the optimization deliverable commits (plans/r06/...). It runs in
  * the bench sweep's session (at `SPARK_GRAFT_CPUS` cores, default the
  * machine's) so plan choices (AQE, broadcast thresholds, partition
  * counts) match what the timed runs execute. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <query> [query...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val spark = session()
    Files.createDirectories(Paths.get(outDir))
    args.drop(3).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name failed: $e")
      }
    }
    spark.stop()
  }
}
