package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Benchmark driver. One JVM per run: one workload, one seed.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --rows <n> --range <i> --table <dir>
  *
  * The input is the table at `--table`: `--rows` rows of id range
  * `--range`. `--workload generate` writes it and exits;
  * `--workload train` runs every workload once on that table, to record
  * the classes a run loads for the JVM's class-data-sharing archive.
  *
  * With `--trace 0` it sets up twice, cold and warm (reporting the median
  * set-up time), loops the workload's timed iteration for `--seconds`, checks
  * every output, and prints the end-to-end metrics. With `--trace 1` it
  * sets up once, runs one untraced and one traced iteration (their ratio
  * is the tracing overhead), then measures each layer from outside and
  * prints the per-layer metrics. The last stdout line is the JSON
  * result; lines before it start with `#`.
  */
object Main {

  /** Set-up passes per untraced run: a cold one and a warm one. */
  val SetupPasses = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        rows: Long, range: Long, table: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, need("rows").toLong, need("range").toLong, Paths.get(need("table")).toAbsolutePath.toString)
    require(a.seconds >= 1, "--seconds must be at least 1")
    require(a.rows >= 1000, "--rows must be at least 1000")
    require(Seq("generate", "train").contains(a.workload) || Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Workloads.names.mkString(", ")}")
    a
  }

  def session(nproc: Int, buildDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.local.dir", s"$buildDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$buildDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def info(line: String): Unit = println(s"# $line")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val buildDir = Paths.get(".bench_build").toAbsolutePath.toString
    val nproc = Runtime.getRuntime.availableProcessors()
    val table = args.table

    // generation runs in a JVM of its own, so that the measured JVM
    // always starts cold whether or not its table existed
    if (args.workload == "generate") {
      if (!Data.exists(table)) {
        val gen = session(nproc, buildDir)
        Data.generate(gen, table, args.rows, args.range)
        gen.stop()
      }
      return
    }
    require(Data.exists(table), s"no table at $table; generate it first")
    val ctx = new Ctx(args.seed, args.rows, nproc, buildDir, table, Data.genSeconds(table))
    if (args.workload == "train") {
      val spark = session(nproc, buildDir)
      graft.functions.Graft.ensure(spark)
      for (name <- Workloads.names) {
        val w = Workloads(name, ctx)
        w.setup(spark)
        w.reference(spark)
        w.runChecked(spark, new Tracer(false, ""))
        w.release()
      }
      spark.stop()
      return
    }
    val w = Workloads(args.workload, ctx)

    val setupSecs = (1 to (if (args.trace) 1 else SetupPasses)).map { pass =>
      val t0 = System.nanoTime()
      val spark = session(nproc, buildDir)
      graft.functions.Graft.ensure(spark)
      val t1 = System.nanoTime()
      w.setup(spark)
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"setup pass $pass: session ${(t1 - t0) / 1e9}%.2f s, input and warm-up ${(System.nanoTime() - t1) / 1e9}%.2f s")
      if (pass < SetupPasses && !args.trace) { w.release(); spark.stop() }
      secs
    }
    val spark = SparkSession.active
    w.reference(spark)

    val result =
      if (args.trace) Layers.traced(spark, w, ctx, args)
      else Measure.untraced(spark, w, ctx, args, setupSecs)
    spark.stop()
    println(result)
  }
}
