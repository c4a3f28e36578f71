package perfbench

import graft.core.Hash128
import graft.data.WebPagesGen
import org.apache.spark.sql.{SaveMode, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The shared input table: `WebPagesGen.rowFor` over one of a few
  * disjoint id ranges, picked by the seed, so the same seed always yields
  * the same rows. */
object Data {
  // the generator's own distributions (its CDF helper is package-private)
  val NumHosts = 10000
  lazy val HostCdf: Array[Double] = zipfCdf(NumHosts, 1.1)
  lazy val TokenCdf: Array[Double] = zipfCdf(500, 1.05)

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    val cdf = w.scanLeft(0.0)(_ + _ / total).tail
    cdf(n - 1) = 1.0
    cdf
  }

  /** First row id of an id range (10^7 ids each). Table ranges stay
    * below 10^12, where the held-out ids start. */
  def idOffset(range: Long): Long = Math.floorMod(range, 90000L) * 10000000L

  private def genFile(path: String) = Paths.get(path, "_GEN_SECONDS")

  def exists(path: String): Boolean = Files.exists(genFile(path))

  /** Seconds the table's generation took, whichever run generated it. */
  def genSeconds(path: String): Double =
    new String(Files.readAllBytes(genFile(path)), StandardCharsets.UTF_8).trim.toDouble

  /** Writes `rows` rows of id range `range` to `path`. */
  def generate(spark: SparkSession, path: String, rows: Long, range: Long): Unit = {
    require(rows <= 10000000L, "rows must stay within one id range")
    import spark.implicits._
    val t0 = System.nanoTime()
    val off = idOffset(range)
    val hosts = HostCdf
    val tokens = TokenCdf
    spark.range(off, off + rows, 1L, spark.sparkContext.defaultParallelism * 2)
      .mapPartitions(it => it.map(id => WebPagesGen.rowFor(id, hosts, tokens)))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("lang")
      .parquet(path)
    val secs = (System.nanoTime() - t0) / 1e9
    Files.write(genFile(path), secs.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def uniform(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private def pick(cdf: Array[Double], u: Double): Int = {
    val idx = java.util.Arrays.binarySearch(cdf, u)
    if (idx >= 0) idx else math.min(cdf.length - 1, -idx - 1)
  }

  /** Urls in the generator's format for ids that no table ever holds
    * (at or above 10^12, a range per seed): the held-out non-members. */
  def nonMemberUrls(seed: Long, n: Int): Array[String] = {
    val base = 1000000000000L + idOffset(seed)
    Array.tabulate(n) { i =>
      val id = base + i
      val h0 = Hash128.hashLong(id, WebPagesGen.Seed)
      val host = s"h${pick(HostCdf, uniform(h0.derived(2)))}.example.org"
      s"https://$host/${java.lang.Long.toUnsignedString(h0.derived(3), 36)}-" +
        java.lang.Long.toUnsignedString(id, 36)
    }
  }
}
