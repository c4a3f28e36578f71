package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, LongType}

/** Native int8-vector kernels for the quantized similarity path, run as
  * [[SketchFn]] kinds.
  *
  * Why these exist: the original `Quantize.dotInt8` was
  * `aggregate(zip_with(a, b, ...))` — correct, but Catalyst
  * materializes the zipped intermediate ARRAY per evaluated pair. In
  * the brute-force rerank that is one 64-element array allocation +
  * element-wise boxing-ish accessor traffic per candidate PAIR (5M
  * pairs in `ann_int8_recall` at sf0.1 — measured 17.0 s, the slowest
  * query in the round-3 sweep). These kinds run the fused loop over the
  * two byte arrays with zero per-pair allocation.
  *
  * Null semantics mirror the higher-order form EXACTLY (spec-asserted
  * element-for-element in Int8VecExprSpec): null array in -> null out;
  * length mismatch -> null (zip_with pads the shorter side with nulls,
  * which nulls the aggregate); any null element -> null.
  */
case class Int8Dot() extends ScalarKind {
  def name: String = "int8_dot"
  def inputTypes: Seq[DataType] = Seq(ArrayType(ByteType), ArrayType(ByteType))
  def dataType: DataType = LongType
  override def mayAnswerNull: Boolean = true

  /** `sum_i a(i) * b(i)` over two int8 code arrays, as a long. */
  def apply(in: Array[Any]): Any = {
    val a = in(0).asInstanceOf[ArrayData]
    val b = in(1).asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getByte(i) * b.getByte(i)
      i += 1
    }
    s
  }
}

object Int8DotExpr {
  def column(a: Column, b: Column): Column = SketchFn.column(Int8Dot(), a, b)
}

/** `sum_i a(i)^2` over an int8 code array, as a long — the squared code
  * norm, computed once per VECTOR in the pre-join projection of
  * `Quantize.bruteForceTopKInt8` (never per pair). */
case class Int8SqNorm() extends ScalarKind {
  def name: String = "int8_sqnorm"
  def inputTypes: Seq[DataType] = Seq(ArrayType(ByteType))
  def dataType: DataType = LongType
  override def mayAnswerNull: Boolean = true

  def apply(in: Array[Any]): Any = {
    val a = in(0).asInstanceOf[ArrayData]
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getByte(i).toInt
      s += v * v
      i += 1
    }
    s
  }
}

object Int8SqNormExpr {
  def column(a: Column): Column = SketchFn.column(Int8SqNorm(), a)
}
