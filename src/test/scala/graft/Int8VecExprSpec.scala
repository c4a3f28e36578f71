package graft

import graft.functions.Graft
import graft.plans.{Int8Dot, Int8DotExpr, Int8SqNorm, Int8SqNormExpr, SketchFn}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native int8 vector kernels must be drop-in equal to the
  * higher-order-function forms they replaced — including every null
  * corner: null arrays, null elements, and length mismatches (which
  * the zip_with form nulls via its null padding). */
class Int8VecExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.ensure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  /** The round-3 higher-order forms, kept verbatim as the oracle. */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("int") * y.cast("int")),
      lit(0L), (acc, p) => acc + p.cast("long"))
  private def sqNormHof(a: Column): Column =
    aggregate(a, lit(0L), (acc, x) => acc + x.cast("int") * x.cast("int"))

  import scala.jdk.CollectionConverters._
  private def byteVecDf(rows: Seq[(java.lang.Long, Seq[java.lang.Byte], Seq[java.lang.Byte])]) = {
    val schema = "id bigint, a array<tinyint>, b array<tinyint>"
    val rws = rows.map { case (id, a, b) =>
      org.apache.spark.sql.Row(id,
        if (a == null) null else a.map(x => if (x == null) null else x.byteValue()),
        if (b == null) null else b.map(x => if (x == null) null else x.byteValue()))
    }
    spark.createDataFrame(rws.asJava, org.apache.spark.sql.types.StructType.fromDDL(schema))
  }

  private def B(xs: Int*): Seq[java.lang.Byte] = xs.map(x => java.lang.Byte.valueOf(x.toByte))

  test("dot/sqnorm match the higher-order forms on random vectors") {
    val df = spark.range(500).select(col("id"),
      transform(sequence(lit(0), pmod(col("id"), lit(7)).cast("int") + 3), d =>
        (pmod(xxhash64(col("id"), d), lit(255)) - 127).cast("byte")).as("a"),
      transform(sequence(lit(0), pmod(col("id"), lit(7)).cast("int") + 3), d =>
        (pmod(xxhash64(d, col("id")), lit(255)) - 127).cast("byte")).as("b"))
    val bad = df.select(
        Int8DotExpr.column(col("a"), col("b")).as("dn"), dotHof(col("a"), col("b")).as("dh"),
        Int8SqNormExpr.column(col("a")).as("nn"), sqNormHof(col("a")).as("nh"))
      .filter(!(col("dn") <=> col("dh")) || !(col("nn") <=> col("nh")))
      .count()
    assert(bad === 0L)
  }

  test("null corners: null array, null element, length mismatch, empty") {
    val df = byteVecDf(Seq(
      (1L, B(1, 2, 3), B(4, 5, 6)),                        // plain
      (2L, null, B(1, 2)),                                 // null left
      (3L, B(1, 2), null),                                 // null right
      (4L, Seq[java.lang.Byte](1.toByte, null, 3.toByte), B(1, 2, 3)), // null element
      (5L, B(1, 2, 3), B(1, 2)),                           // length mismatch
      (6L, B(), B())))                                     // empty
    val rows = df.select(col("id"),
        Int8DotExpr.column(col("a"), col("b")).as("dn"), dotHof(col("a"), col("b")).as("dh"),
        Int8SqNormExpr.column(col("a")).as("nn"), sqNormHof(col("a")).as("nh"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2) &&
        (r.isNullAt(1) || r.getLong(1) == r.getLong(2)),
        s"dot mismatch on id ${r.getLong(0)}: $r")
      assert(r.isNullAt(3) == r.isNullAt(4) &&
        (r.isNullAt(3) || r.getLong(3) == r.getLong(4)),
        s"sqnorm mismatch on id ${r.getLong(0)}: $r")
    }
    // spot values: 1*4+2*5+3*6 = 32; norms 14; mismatched/null -> null
    assert(rows(0).getLong(1) === 32L && rows(0).getLong(3) === 14L)
    assert(rows(4).isNullAt(1) && rows(5).getLong(1) === 0L)
  }

  test("interpreted eval matches codegen path") {
    // expressions also run interpreted (e.g. inside non-codegen plans):
    // exercise eval() directly through the catalyst expression
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    def arr(xs: Byte*) = Literal(new GenericArrayData(xs.toArray), ArrayType(ByteType))
    assert(SketchFn(Seq(arr(1, 2), arr(3, 4)), Int8Dot()).eval(null) === 11L)
    assert(SketchFn(Seq(arr(1, 2), arr(3)), Int8Dot()).eval(null) === null)
    assert(SketchFn(Seq(arr(-3, 4)), Int8SqNorm()).eval(null) === 25L)
  }
}
