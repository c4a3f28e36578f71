package graft.pipeline

import graft.core.{Kll, TDigest}
import graft.data.WebPagesGen
import graft.functions.Graft
import graft.pipeline.CheckpointRunner.LineageMismatch
import graft.pipeline.SaltedAgg.SketchSpec
import graft.plans.Hash128Expr
import graft.util.GraftFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Resume paths of [[CheckpointRunner]]: killed waves, torn manifests,
  * input drift, URI output directories and degenerate inputs. Every
  * finished build must equal the single-shot `SaltedAgg.plainAgg`
  * byte for byte. */
class CheckpointRunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private lazy val wp = WebPagesGen.dataset(spark, 2000L, numHosts = 100).toDF()
    .select("url", "lang").cache()

  private val keys = Seq("lang")
  private val specs = Seq(
    SketchSpec("ebf", expr("ebf_agg(url)"), "ebf_merge_agg"),
    SketchSpec("hll", expr("hll_agg(url)"), "hll_merge_agg"))

  private def sketches(df: DataFrame): Map[String, Seq[Seq[Byte]]] =
    df.select("lang", specs.map(_.name): _*).collect().map(r =>
      r.getString(0) -> r.toSeq.tail.map(_.asInstanceOf[Array[Byte]].toSeq)).toMap

  private def assertSingleShot(resumed: DataFrame, input: DataFrame): Unit = {
    assert(resumed != null)
    assert(sketches(resumed) === sketches(SaltedAgg.plainAgg(input, keys, specs)))
    assert(resumed.agg(coalesce(sum("rows"), lit(0L))).head.getLong(0) === input.count())
  }

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_ckpt_spec")
    try body(dir) finally GraftFiles.deleteRecursively(dir.toString)
  }

  private def run(input: DataFrame, dir: Path, numChunks: Int = 4,
                  stopAfter: Int = Int.MaxValue): DataFrame =
    CheckpointRunner.run(spark, input, col("url"), numChunks, keys, specs, dir.toString, stopAfter)

  private def parquetFiles(chunkDir: Path): Seq[Path] =
    if (!Files.isDirectory(chunkDir)) Seq.empty
    else {
      val s = Files.list(chunkDir)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  test("a wave writes one file per chunk and records every chunk with the wave's wall time") {
    withDir { dir =>
      assert(run(wp, dir, numChunks = 8, stopAfter = 3) == null)
      val first = CheckpointRunner.readManifest(dir.toString)
      assert(first.map(_.chunk) === Seq(0, 1, 2))
      assert(first.map(_.durationMs).distinct.size === 1)
      assertSingleShot(run(wp, dir, numChunks = 8), wp)
      val manifest = CheckpointRunner.readManifest(dir.toString)
      assert(manifest.map(_.chunk).sorted === (0 until 8))
      assert(manifest.map(_.rows).sum === wp.count())
      for (i <- 0 until 8)
        assert(parquetFiles(dir.resolve(s"chunks/chunk=$i")).size === 1, s"chunk $i")
    }
  }

  test("a file:// URI output directory keeps the manifest on that path") {
    withDir { dir =>
      val uri = dir.toUri.toString
      assert(uri.startsWith("file:/"))
      assert(CheckpointRunner.run(spark, wp, col("url"), 4, keys, specs, uri, stopAfter = 2) == null)
      assert(Files.isRegularFile(dir.resolve("manifest.jsonl")))
      assert(CheckpointRunner.readManifest(uri).size === 2)
      assertSingleShot(CheckpointRunner.run(spark, wp, col("url"), 4, keys, specs, uri), wp)
      assert(CheckpointRunner.readManifest(dir.toString).size === 4)
      assert(!Files.exists(Paths.get("file:")), "a directory named file: in the working directory")
    }
  }

  test("a torn manifest write loses only its own records, which the resume runs again") {
    withDir { dir =>
      val manifest = dir.resolve("manifest.jsonl")
      assert(run(wp, dir, stopAfter = 2) == null)
      val afterFirst = Files.readAllBytes(manifest)
      assert(run(wp, dir, stopAfter = 1) == null)
      val afterSecond = Files.readAllBytes(manifest)
      // killed while writing the second wave's records: the temp file is
      // cut mid-record and the manifest still holds the first wave's
      Files.write(dir.resolve("manifest.jsonl.tmp"), afterSecond.take(afterSecond.length - 9))
      Files.write(manifest, afterFirst)
      assertSingleShot(run(wp, dir), wp)
      assert(CheckpointRunner.readManifest(dir.toString).map(_.chunk).sorted === (0 until 4))
    }
  }

  test("a truncated last manifest line is dropped and its chunk runs again") {
    withDir { dir =>
      val manifest = dir.resolve("manifest.jsonl")
      assert(run(wp, dir, stopAfter = 2) == null)
      // the second record cut after `{"chunk":1,"num`
      val bytes = Files.readAllBytes(manifest)
      Files.write(manifest, bytes.take(bytes.indexOf('\n'.toByte) + 16))
      assert(CheckpointRunner.readManifest(dir.toString).size === 1)
      assertSingleShot(run(wp, dir), wp)
      assert(CheckpointRunner.readManifest(dir.toString).size === 4)
    }
  }

  test("a complete but malformed manifest record fails the resume") {
    withDir { dir =>
      assert(run(wp, dir, stopAfter = 2) == null)
      Files.write(dir.resolve("manifest.jsonl"), "{\"chunk\":2,\"rows\":5}\n".getBytes(UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
      val e = intercept[IllegalArgumentException](run(wp, dir))
      assert(e.getMessage.contains("manifest line missing numChunks"))
    }
  }

  test("a wave killed mid-write leaves stray files that the resume clears") {
    withDir { dir =>
      assert(run(wp, dir, stopAfter = 2) == null)
      val done = parquetFiles(dir.resolve("chunks/chunk=0")).head
      // a pending chunk's directory holding a completed chunk's file, and
      // a committed task of the killed job its committer would merge
      for (stray <- Seq("chunks/chunk=2",
        "chunks/_temporary/0/task_202601010000_0000_m_000000/chunk=3")) {
        val d = dir.resolve(stray)
        Files.createDirectories(d)
        Files.copy(done, d.resolve(done.getFileName), StandardCopyOption.REPLACE_EXISTING)
      }
      assertSingleShot(run(wp, dir), wp)
      val manifest = CheckpointRunner.readManifest(dir.toString)
      assert(manifest.map(_.chunk).sorted === (0 until 4))
      assert(manifest.map(_.rows).sum === wp.count())
      for (i <- 0 until 4)
        assert(parquetFiles(dir.resolve(s"chunks/chunk=$i")).size <= 1, s"chunk $i")
    }
  }

  test("input drift and a changed chunk count fail the resume") {
    withDir { dir =>
      assert(run(wp, dir, stopAfter = 2) == null)
      val chunk0 = pmod(xxhash64(col("url")), lit(4)) === 0
      val drifted = wp.filter(!chunk0 || xxhash64(col("url")) % 7 =!= 0)
      val e = intercept[LineageMismatch](run(drifted, dir))
      assert(e.getMessage.startsWith("chunk 0 input drifted: manifest (rows="))
      val n = intercept[LineageMismatch](run(wp, dir, numChunks = 5))
      assert(n.getMessage === "manifest written with numChunks=4, now 5")
      assertSingleShot(run(wp, dir), wp)
    }
  }

  test("an empty input and a tiny input record every chunk and equal the single-shot build") {
    for ((input, numChunks) <- Seq(wp.limit(0) -> 4, wp.orderBy("url").limit(3) -> 16)) {
      val rows = input.cache()
      withDir { dir =>
        assertSingleShot(run(rows, dir, numChunks), rows)
        val manifest = CheckpointRunner.readManifest(dir.toString)
        assert(manifest.map(_.chunk).sorted === (0 until numChunks))
        assert(manifest.map(_.rows).sum === rows.count())
        val filled = rows.select(pmod(xxhash64(col("url")), lit(numChunks))).distinct().count()
        assert(manifest.count(_.rows > 0) === filled)
        assert(manifest.forall(r => (r.rows == 0) == (r.groups == 0) && (r.rows != 0 || r.fingerprint == 0)))
      }
      rows.unpersist()
    }
  }

  test("a multi-sketch spec (the flagship's per-host struct) resumes to the single-shot build") {
    // the per-(lang, host) input of SparkPipelineSpec's salted tests
    val hosts = WebPagesGen.dataset(spark, 5000L, numHosts = 200).toDF()
      .select(col("lang"), col("url"),
        Hash128Expr.h1(col("url"), Graft.SketchSeed).as("__h1"),
        Hash128Expr.h2(col("url"), Graft.SketchSeed).as("__h2"),
        length(col("text")).cast("double").as("text_len"))
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .cache()
    val hostKeys = Seq("lang", "host")
    val specs = Flagship.perHostNativeSpecs
    def sketches(df: DataFrame): Map[(String, String), Seq[Array[Byte]]] =
      df.select(col("lang"), col("host"), col("sk.ebf"), col("sk.hll"), col("sk.kll"), col("sk.td"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (2 to 5).map(r.getAs[Array[Byte]](_))).toMap
    withDir { dir =>
      def run(stopAfter: Int): DataFrame = CheckpointRunner.run(spark, hosts, col("url"), 4,
        hostKeys, specs, dir.toString, stopAfter)
      assert(run(stopAfter = 2) == null)
      assert(CheckpointRunner.readManifest(dir.toString).size === 2)
      val resumed = run(stopAfter = Int.MaxValue)
      assert(resumed.agg(sum("rows")).head.getLong(0) === 5000L)
      val got = sketches(resumed)
      val want = sketches(SaltedAgg.plainAgg(hosts, hostKeys, specs))
      assert(got.keySet === want.keySet && got.nonEmpty)
      // EBF and HLL bytes are merge-order free; KLL and t-digest bytes
      // follow the merge tree, so those two are compared by count
      for ((g, w) <- want; v = got(g)) {
        assert(v(0).toSeq === w(0).toSeq, s"ebf differs for $g")
        assert(v(1).toSeq === w(1).toSeq, s"hll differs for $g")
        assert(Kll.fromBytes(v(2)).n === Kll.fromBytes(w(2)).n, s"kll n differs for $g")
        assert(TDigest.fromBytes(v(3)).n === TDigest.fromBytes(w(3)).n, s"td n differs for $g")
      }
    }
    hosts.unpersist()
  }
}
