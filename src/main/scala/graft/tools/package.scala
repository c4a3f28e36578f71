package graft

import org.apache.spark.sql.SparkSession

package object tools {

  /** The session every tool runs in: `graft.Bench`'s, at
    * `SPARK_GRAFT_CPUS` cores (default: the machine's). */
  private[tools] def session(): SparkSession = Bench.session(
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors))
}
