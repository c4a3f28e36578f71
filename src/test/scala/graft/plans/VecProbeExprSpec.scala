package graft.plans

import graft.functions.Graft
import graft.similarity.{Ann, Ivf}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The native ANN probe kernels must be drop-in identical to the
  * retired Seq[Double]-UDF logic they replaced: same cosine
  * accumulation order, same (-cosine, cellId) tie-breaking, same
  * sign-LSH buckets — plus the null corners the expressions define
  * (null array -> null row). [[Ivf.nearestCells]] and
  * [[Ann.planeComponent]] are kept as the executable reference. */
class VecProbeExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  private val dim = 9
  private val rnd = new scala.util.Random(0xC411)
  private def randVec(): Array[Double] = Array.fill(dim)(rnd.nextDouble() * 2 - 1)

  private val centroids: Array[Array[Double]] = Array.fill(7)(randVec())
  private val vectors: Seq[(Long, Array[Double])] =
    (0L until 300L).map(i => i -> randVec()) ++ Seq(
      300L -> Array.fill(dim)(0.0),            // zero vector: denom == 0 branch
      301L -> centroids(3).clone(),            // exact centroid hit
      302L -> randVec().take(dim - 2)          // shorter than dim
    )

  private def vecDf = {
    import scala.jdk.CollectionConverters._
    val schema = StructType.fromDDL("id bigint, v array<double>")
    spark.createDataFrame(
      vectors.map { case (i, v) => Row(i, v.toSeq) }.asJava, schema)
  }

  test("NearestCellExpr / NearestCellsExpr match the reference selection") {
    val got = vecDf.select(col("id"),
        NearestCellExpr.column(col("v"), centroids).as("cell"),
        NearestCellsExpr.column(col("v"), centroids, 3).as("cells"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    vectors.foreach { case (i, v) =>
      val expect = Ivf.nearestCells(v, centroids, 3)
      assert(got(i)._1 === expect.head, s"cell mismatch for id=$i")
      assert(got(i)._2 === expect, s"nProbe cells mismatch for id=$i")
    }
  }

  test("nProbe larger than numCells returns every cell, best first") {
    val got = vecDf.filter(col("id") === 0)
      .select(NearestCellsExpr.column(col("v"), centroids, 99))
      .head.getSeq[Int](0)
    assert(got === Ivf.nearestCells(vectors.head._2, centroids, 99))
    assert(got.sorted === (0 until centroids.length))
  }

  test("LshBucketsExpr matches the reference plane dot-products") {
    val (numTables, numBits) = (5, 7)
    val planes = Array.tabulate(numTables, numBits) { (t, b) =>
      Array.tabulate(dim)(d => Ann.planeComponent(t, b, d))
    }
    def reference(v: Array[Double]): Seq[Long] =
      (0 until numTables).map { t =>
        var bucket = 0L
        for (b <- 0 until numBits) {
          val p = planes(t)(b)
          var dot = 0.0
          for (d <- 0 until math.min(p.length, v.length)) dot += v(d) * p(d)
          if (dot >= 0) bucket |= 1L << b
        }
        bucket
      }
    val got = vecDf.select(col("id"),
        Ann.lshBuckets(col("v"), dim, numTables, numBits).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    vectors.foreach { case (i, v) =>
      assert(got(i) === reference(v), s"bucket mismatch for id=$i")
    }
  }

  test("null array input yields null, not a crash") {
    import scala.jdk.CollectionConverters._
    val schema = StructType.fromDDL("id bigint, v array<double>")
    val df = spark.createDataFrame(
      Seq(Row(1L, Seq(0.5, -0.25, 0.0)), Row(2L, null)).asJava, schema)
    val rows = df.select(
        NearestCellExpr.column(col("v"), Array(Array(1.0, 0.0, 0.0))).as("c"),
        NearestCellsExpr.column(col("v"), Array(Array(1.0, 0.0, 0.0)), 1).as("cs"),
        LshBucketsExpr.column(col("v"),
          Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)), 2, 1, 3).as("b"))
      .orderBy(col("c").asc_nulls_last)
      .collect()
    assert(!rows(0).isNullAt(0) && !rows(0).isNullAt(1) && !rows(0).isNullAt(2))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }

  test("CosineSimExpr is bit-identical to the higher-order composition") {
    // float vectors, unequal lengths, null arrays, null elements.
    // (Zero-norm vectors are excluded here: the composed form's Column
    // `/` THROWS under Spark 4 ANSI where the native kernel returns
    // IEEE NaN — the one documented divergence, asserted below.)
    val df = spark.range(400).select(col("id"),
      transform(sequence(lit(0), pmod(col("id"), lit(9)).cast("int") + 2), d =>
        when(col("id") === 7 && d === 1, lit(null).cast("float"))
          .otherwise(((pmod(xxhash64(col("id"), d), lit(2001)) - 1000) / 1000.0)
            .cast("float"))).as("a"),
      transform(sequence(lit(0), pmod(col("id") + (col("id") % 11 === 0).cast("int"),
          lit(9)).cast("int") + 2), d =>
        ((pmod(xxhash64(d, col("id")), lit(2001)) - 1000) / 1000.0)
          .cast("float")).as("b"))
      .withColumn("a", when(col("id") === 5, lit(null)).otherwise(col("a")))
    val bad = df.select(
        graft.similarity.Ann.cosine(col("a"), col("b")).as("n"),
        graft.similarity.Ann.cosineHof(col("a"), col("b")).as("h"))
      .filter(!(col("n") <=> col("h")))
      .count()
    assert(bad === 0L)
  }

  test("CosineSimExpr on a zero-norm vector yields NaN, not a job-killing error") {
    import scala.jdk.CollectionConverters._
    val schema = StructType.fromDDL("a array<double>, b array<double>")
    val df = spark.createDataFrame(
      Seq(Row(Seq(0.0, 0.0), Seq(1.0, 2.0))).asJava, schema)
    val v = df.select(graft.similarity.Ann.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(v.isNaN)
  }

  test("VecSumAgg returns [count | element sums] per group") {
    val df = vecDf.withColumn("g", pmod(col("id"), lit(3)))
    val got = df.groupBy("g")
      .agg(VecSumAgg.column(col("v"), dim).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val expect = vectors.groupBy(_._1 % 3).map { case (g, vs) =>
      val sums = new Array[Double](dim)
      vs.foreach { case (_, v) =>
        v.take(dim).zipWithIndex.foreach { case (x, d) => sums(d) += x } }
      g -> (vs.size.toDouble +: sums.toSeq)
    }
    expect.foreach { case (g, e) =>
      val a = got(g)
      assert(a.head === e.head, s"count mismatch for group $g")
      // float-sum order is partition-dependent: compare to 1e-9 rel
      a.tail.zip(e.tail).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
          s"sum mismatch for group $g: $x vs $y")
      }
    }
  }

  test("vector-sum partial buffer: dim + 1 doubles round-trip, any other length is rejected") {
    val kind = VecSumKind(3)
    val sums = Array(2.0, -1.5, 0.25, 1e300)
    val bytes = kind.toBytes(sums)
    assert(bytes.length === 32)
    assert(kind.fromBytes(bytes).toSeq === sums.toSeq)
    for (bad <- Seq(bytes.take(24), bytes.take(31), bytes ++ Array[Byte](0)))
      intercept[IllegalArgumentException](kind.fromBytes(bad))
  }

  test("interpreted eval matches codegen") {
    // force the interpreted path via a fresh expression's eval() on an
    // InternalRow, compared against the DataFrame (codegen) result
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val flat = VecProbeExpr.flatten(centroids, "centroid")
    val bound = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val scalar = SketchFn(Seq(bound), NearestCell(flat, centroids.length, dim))
    val probe = SketchFn(Seq(bound), NearestCells(flat, centroids.length, dim, 3))
    vectors.take(50).foreach { case (_, v) =>
      val row = InternalRow(ArrayData.toArrayData(v))
      val expect = Ivf.nearestCells(v, centroids, 3)
      assert(scalar.eval(row) === expect.head)
      assert(probe.eval(row).asInstanceOf[ArrayData].toIntArray().toSeq === expect)
    }
  }
}
