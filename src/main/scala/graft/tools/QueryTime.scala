package graft.tools

/** Ad-hoc single-query timer: `runMain graft.tools.QueryTime <sfDir>
  * <query> [query...]` — `graft.Bench`'s session at `SPARK_GRAFT_CPUS`
  * cores (default: the machine's) and its noop-sink materialization,
  * for iterating on one query without paying the full sweep. */
object QueryTime {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryTime <sfDir> <query> [query...]")
    val sfDir = args(0)
    val spark = session()
    val trials = sys.env.getOrElse("QT_TRIALS", "2").toInt
    args.drop(1).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to trials).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[qt] $name trial $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      // QT_SHOW=1: print the first rows (for eyeballing gate booleans)
      if (sys.env.get("QT_SHOW").contains("1"))
        fn(spark, sfDir).limit(20).collect()
          .foreach(r => println(s"[qt] $name row: $r"))
    }
    spark.stop()
  }
}
