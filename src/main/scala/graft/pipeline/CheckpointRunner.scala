package graft.pipeline

import graft.pipeline.SaltedAgg.SketchSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import java.nio.charset.StandardCharsets.UTF_8

/** O12 — checkpoint-resumable bulk sketch build with per-chunk lineage
  * and metrics (BASELINE.json:north_rule "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * The 10^12-row story (SURVEY.md §3 E3): a single monolithic
  * aggregation over 100 TB cannot survive driver loss and re-runs from
  * zero. Instead the input is split into `numChunks` deterministic
  * hash-chunks, whose per-group sketches land in
  * `outDir/chunks/chunk=<i>/`, one parquet file per chunk, plus a
  * manifest line carrying lineage (chunk id, row count, input
  * fingerprint, wall time, group count). A restart replays the
  * manifest, skips completed chunks whose lineage matches, and re-runs
  * only the remainder. The final pass re-aggregates all chunk outputs
  * with each spec's [[SaltedAgg.SketchSpec.merge]], the stage-2
  * aggregate of the salted build — correct under arbitrary chunk
  * completion order because sketch merge is associative and commutative
  * (the §2.1 theorem), which is exactly why chunked execution cannot
  * change the result.
  *
  * Pending chunks are built in waves of up to
  * `spark.sparkContext.defaultParallelism` chunks (fewer when
  * `stopAfter` caps the call): one filtered scan of the input and one
  * write job per wave, each chunk of the wave aggregated and written by
  * a reduce task of its own, then one grouped read-back of the wave's
  * chunks for their lineage. A chunk's `durationMs` is the wall time of
  * its wave. The wave's records reach the manifest together, through a
  * temp file renamed over it, after the read-back: a wave killed before
  * that leaves no record, and its chunks are cleared and run again.
  *
  * The input fingerprint (order-independent sum of xxhash64 over the
  * chunk key) detects input drift between the original run and a
  * resume: one grouped pass over the completed chunks' rows checks
  * every recorded chunk before the first wave, and a mismatch fails
  * the resume instead of silently merging sketches of different data.
  *
  * All files go through the Hadoop `FileSystem` of `outDir`, so it may
  * be any URI Hadoop resolves (`file:///…`, `hdfs://…`, `s3a://…`).
  */
object CheckpointRunner {

  final case class ChunkRecord(chunk: Int, numChunks: Int, rows: Long,
                               fingerprint: Long, groups: Long, durationMs: Long, ts: Long)

  /** Thrown when a resume sees a completed chunk whose recorded input
    * fingerprint no longer matches the current input. */
  final class LineageMismatch(msg: String) extends RuntimeException(msg)

  def manifestPath(outDir: String): Path = new Path(outDir, "manifest.jsonl")

  private val FingerprintModulus = new java.math.BigDecimal(2305843009213693951L)

  /** Order-independent content fingerprint: sum of the values in
    * decimal(38,0) (no ANSI long overflow even at 10^12 rows), folded
    * into a long via mod 2^61-1. Over xxhash64 of the chunk key it
    * fingerprints rows; over per-group fingerprints it re-folds them
    * into the fingerprint of their total sum. */
  private def foldSum(c: Column): Column =
    pmod(sum(c.cast(DecimalType(38, 0))), lit(FingerprintModulus)).cast("long")

  /** The filesystem of the runner's own files. A local disk is used
    * raw: without checksum sidecars the manifest's replacing rename is
    * a single rename(2), which a kill cannot leave half done. */
  private def fileSystem(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf) match {
    case local: LocalFileSystem => local.getRawFileSystem
    case fs => fs
  }

  def readManifest(outDir: String): Seq[ChunkRecord] =
    readManifest(fileSystem(new Path(outDir), SparkSession.active.sparkContext.hadoopConfiguration),
      outDir)

  /** A record counts once its newline is written: an unterminated last
    * line is a torn write, dropped so that its chunk runs again. Every
    * complete line must parse. */
  private def readManifest(fs: FileSystem, outDir: String): Seq[ChunkRecord] = {
    val p = manifestPath(outDir)
    if (!fs.exists(p)) return Seq.empty
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.split("\n", -1).toSeq.dropRight(1).filter(_.nonEmpty).map(parseRecord)
  }

  /** Replace the manifest with `records`: written to a temp file, then
    * renamed over the old one. A store whose rename refuses an existing
    * target gets delete-then-rename, where a kill in between loses the
    * records (their chunks then run again), never half of them. */
  private def writeManifest(fs: FileSystem, outDir: String, records: Seq[ChunkRecord]): Unit = {
    val p = manifestPath(outDir)
    val tmp = new Path(outDir, "manifest.jsonl.tmp")
    val out = fs.create(tmp, true)
    try out.write(records.map(renderRecord(_) + "\n").mkString.getBytes(UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p) && !(fs.delete(p, false) && fs.rename(tmp, p)))
      throw new java.io.IOException(s"could not rename $tmp to $p")
  }

  // minimal flat-JSON codec (keys are fixed, values numeric)
  private def renderRecord(r: ChunkRecord): String =
    s"""{"chunk":${r.chunk},"numChunks":${r.numChunks},"rows":${r.rows},""" +
      s""""fingerprint":${r.fingerprint},"groups":${r.groups},""" +
      s""""durationMs":${r.durationMs},"ts":${r.ts}}"""

  private def parseRecord(line: String): ChunkRecord = {
    def field(name: String): Long = {
      val m = java.util.regex.Pattern.compile("\"" + name + "\":(-?\\d+)").matcher(line)
      require(m.find(), s"manifest line missing $name: $line")
      m.group(1).toLong
    }
    ChunkRecord(field("chunk").toInt, field("numChunks").toInt, field("rows"),
      field("fingerprint"), field("groups"), field("durationMs"), field("ts"))
  }

  /** Run (or resume) a chunked sketch build.
    *
    * @param chunkKey      deterministic column hashed into chunk ids AND
    *                      fingerprinted for lineage (use the row key, e.g. url)
    * @param stopAfter     complete at most this many *new* chunks then
    *                      return null if chunks remain (simulates a
    *                      killed job for resume tests); default unlimited
    * @return the final merged per-group sketch DataFrame (null if
    *         stopped early by `stopAfter`)
    */
  def run(spark: SparkSession, input: DataFrame, chunkKey: Column, numChunks: Int,
          keys: Seq[String], specs: Seq[SketchSpec], outDir: String,
          stopAfter: Int = Int.MaxValue): DataFrame = {
    require(numChunks >= 1)
    val fs = fileSystem(new Path(outDir), spark.sparkContext.hadoopConfiguration)
    val chunksDir = new Path(outDir, "chunks")
    fs.mkdirs(chunksDir)
    val done = readManifest(fs, outDir)
    done.find(_.numChunks != numChunks).foreach { r =>
      throw new LineageMismatch(
        s"manifest written with numChunks=${r.numChunks}, now $numChunks")
    }
    val rows = input.withColumn("chunk", pmod(xxhash64(chunkKey), lit(numChunks)).cast("int"))
    val aggs = specs.map(sp => sp.build.as(sp.name)) ++ Seq(
      count(lit(1)).as("__rows"),
      // order-independent content fingerprint of the chunk's keys
      foldSum(xxhash64(chunkKey)).as("__fp"))
    def sketchesOf(df: DataFrame, by: Column*): DataFrame =
      df.groupBy((by ++ (col("chunk") +: keys.map(col))): _*).agg(aggs.head, aggs.tail: _*)
    // read with the known schema, so that a table without files (an
    // empty input) reads as empty instead of failing schema inference
    val schema = sketchesOf(rows).schema
    def written: DataFrame = spark.read.schema(schema).parquet(chunksDir.toString)

    if (done.nonEmpty) verifyLineage(rows, chunkKey, done)

    val doneIds = done.map(_.chunk).toSet
    val pending = (0 until numChunks).filterNot(doneIds)
    val width = math.max(1, spark.sparkContext.defaultParallelism)
    var records = done
    for (wave <- pending.take(stopAfter).grouped(width)) {
      val t0 = System.nanoTime()
      // a killed wave may have left files in its chunks' directories, or
      // task output its committer would merge into the next job's
      (wave.map(i => new Path(chunksDir, s"chunk=$i")) :+
        new Path(chunksDir, FileOutputCommitter.PENDING_DIR_NAME)).foreach(fs.delete(_, true))
      // each chunk of the wave in a reduce task of its own, by its slot
      // in the wave: one file per chunk, and grouping by the slot keeps
      // the aggregate on that one exchange
      val slotted = rows.filter(col("chunk").isin(wave: _*))
        .withColumn("__slot", (array_position(typedLit(wave), col("chunk")) - 1).cast("int"))
        .repartitionById(wave.size, col("__slot"))
      sketchesOf(slotted, col("__slot")).drop("__slot")
        .write.mode(SaveMode.Append).partitionBy("chunk").parquet(chunksDir.toString)
      // lineage from the (small) written sketch table: per-group fps are
      // already mod 2^61-1, and their modular re-fold equals the fold of
      // the raw total sum
      val stats = written.filter(col("chunk").isin(wave: _*)).groupBy("chunk")
        .agg(sum("__rows"), foldSum(col("__fp")), count(lit(1)))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val ms = (System.nanoTime() - t0) / 1000000L
      val ts = System.currentTimeMillis()
      records ++= wave.map { i =>
        val (n, fp, groups) = stats.getOrElse(i, (0L, 0L, 0L))
        ChunkRecord(i, numChunks, n, fp, groups, ms, ts)
      }
      writeManifest(fs, outDir, records)
    }
    if (pending.size > stopAfter) return null // stopped early (kill simulation)

    // final pass: re-aggregate all chunk sketches (associative merge)
    val mergeAggs = specs.map(sp => sp.merge.as(sp.name)) ++
      Seq(sum("__rows").as("rows"))
    written.groupBy(keys.map(col): _*).agg(mergeAggs.head, mergeAggs.tail: _*)
  }

  /** Re-fingerprint every completed chunk in one grouped pass and fail
    * on the first (lowest) chunk whose rows or fingerprint moved. */
  private def verifyLineage(rows: DataFrame, chunkKey: Column, done: Seq[ChunkRecord]): Unit = {
    val cur = rows.filter(col("chunk").isin(done.map(_.chunk): _*)).groupBy("chunk")
      .agg(count(lit(1)), foldSum(xxhash64(chunkKey)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    done.sortBy(_.chunk).foreach { rec =>
      val (n, fp) = cur.getOrElse(rec.chunk, (0L, 0L))
      if (n != rec.rows || fp != rec.fingerprint)
        throw new LineageMismatch(
          s"chunk ${rec.chunk} input drifted: manifest (rows=${rec.rows}, fp=${rec.fingerprint}) " +
            s"vs current (rows=$n, fp=$fp)")
    }
  }
}
