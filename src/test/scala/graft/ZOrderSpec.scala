package graft

import graft.core.Kll
import graft.pipeline.ZOrder
import graft.plans.ZOrderKey
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** O63: Morton-key z-order clustering. Load-bearing claims:
  * (1) the interleave is a bijection on the bucket grid (no two cells
  * collide, so file cells are genuinely disjoint); (2) the codegen'd
  * expression agrees with the interpreted eval and is null-preserving;
  * (3) a z-ordered layout keeps per-file min/max narrow on EVERY
  * participating column, where the linear layout is narrow only on
  * its sort key — the property the skipping gate query measures.
  */
class ZOrderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Test-side inverse of the interleave: bit b of dim i sits at z
    * position b*d + i. */
  private def deinterleave(z: Long, d: Int, bits: Int): Array[Int] = {
    val out = new Array[Int](d)
    for (b <- 0 until bits; i <- 0 until d)
      out(i) |= (((z >>> (b * d + i)) & 1L) << b).toInt
    out
  }

  test("interleave is a bijection on the full 2-D and 3-D bucket grids") {
    for (d <- Seq(2, 3); bits <- Seq(2, 4)) {
      val e = ZOrderKey(d, bits)
      val n = 1 << bits
      val grid = Seq.fill(d)(0 until n).foldLeft(Seq(Seq.empty[Int])) {
        (acc, dim) => acc.flatMap(p => dim.map(v => p :+ v))
      }
      val zs = grid.map(p => e.interleave(p.toArray))
      assert(zs.distinct.length == grid.length, s"collision at d=$d bits=$bits")
      assert(zs.forall(z => z >= 0 && z < (1L << (bits * d))))
      grid.zip(zs).foreach { case (p, z) =>
        assert(deinterleave(z, d, bits).toSeq == p, s"roundtrip failed for $p")
      }
    }
  }

  test("high bucket bits dominate: the top z bits are the per-dim top bits") {
    val e = ZOrderKey(2, 8)
    // any point in the top quadrant of both dims outranks any point in
    // the bottom quadrant of both — the property cell routing relies on
    val hi = e.interleave(Array(192, 200))
    val lo = e.interleave(Array(63, 10))
    assert(hi > lo)
    assert(((hi >>> 12) & 0xfL).toInt == 15, "top 2 bits of each dim should fill the top nibble")
  }

  test("dataframe path (codegen) matches interpreted interleave; null-preserving") {
    import spark.implicits._
    val e = ZOrderKey(2, 8)
    val rows = Seq((0, 0), (1, 2), (255, 255), (17, 254), (128, 64))
    val got = rows.toDF("a", "b")
      .select(graft.plans.ZOrderKeyExpr.column(Seq(col("a"), col("b")), 8).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == rows.map { case (a, b) => e.interleave(Array(a, b)) })
    val withNull = Seq((Some(1), Some(2)), (None, Some(3)), (Some(4), None))
      .toDF("a", "b")
      .select(graft.plans.ZOrderKeyExpr.column(Seq(col("a"), col("b")), 8).as("z"))
      .collect()
    assert(!withNull(0).isNullAt(0))
    assert(withNull(1).isNullAt(0) && withNull(2).isNullAt(0))
  }

  test("SQL form graft_zorder_key matches the Column API; bad arity fails loudly") {
    graft.functions.Graft.ensure(spark)
    import spark.implicits._
    val rows = Seq((3, 7), (255, 0), (128, 64))
    val viaSql = rows.toDF("a", "b")
      .selectExpr("graft_zorder_key(a, b, 8) AS z").collect().map(_.getLong(0))
    val viaCol = rows.toDF("a", "b")
      .select(graft.plans.ZOrderKeyExpr.column(Seq(col("a"), col("b")), 8).as("z"))
      .collect().map(_.getLong(0))
    assert(viaSql.toSeq == viaCol.toSeq)
    val err = intercept[Exception] {
      rows.toDF("a", "b").selectExpr("graft_zorder_key(a, 8)").collect()
    }
    assert(err.getMessage != null)
  }

  test("z layout: cells disjoint, both dims narrow; linear layout wide on dim 2") {
    import spark.implicits._
    // deterministic 2-D uniform grid, shuffled ordering
    val n = 4096
    val df = spark.range(n).select(
      (col("id") * 2654435761L % n).as("x").cast("double"),
      (col("id") * 40503L % n).as("y").cast("double"))
    val kx = new Kll(200); val ky = new Kll(200)
    val rows = df.collect()
    rows.foreach { r => kx.add(r.getDouble(0)); ky.add(r.getDouble(1)) }
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder_spec").toString
    try {
      ZOrder.layout(df, Seq(col("x"), col("y")), Seq(kx, ky), bits = 6, fileBits = 4)
        .write.mode("overwrite").parquet(tmp)
      val st = spark.read.parquet(tmp).groupBy(input_file_name())
        .agg(count(lit(1)).as("rows"),
          min("x").as("xmn"), max("x").as("xmx"),
          min("y").as("ymn"), max("y").as("ymx"))
        .collect()
      assert(st.length == 16, s"expected 16 files, got ${st.length}")
      assert(st.map(_.getLong(1)).sum == n, "rows conserved")
      // every file must be narrow on BOTH dims: a 4x4 cell grid means
      // each file spans ~1/4 of each dim (quantile buckets, so allow
      // sketch-error + cell-alignment slack up to 40%)
      st.foreach { r =>
        assert(r.getDouble(3) - r.getDouble(2) < n * 0.4, s"x span wide: $r")
        assert(r.getDouble(5) - r.getDouble(4) < n * 0.4, s"y span wide: $r")
      }
      // quantile-balanced dims, independent by construction: no cell
      // should be grossly overloaded
      assert(st.map(_.getLong(1)).max < n / 4, "cell balance")
    } finally graft.util.GraftFiles.deleteRecursively(tmp)
  }
}
