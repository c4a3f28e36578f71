package graft.plans

import graft.core.Fd
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Frequent Directions over `array<double>` vectors, FD wire blob out
  * ([[graft.core.Fd]]). An `array<float>` input arrives through the
  * implicit cast; float -> double is exact, so the blob is the one the
  * float values give. Elements are read straight off the `ArrayData`
  * into the sketch's insert scratch, no Seq materialization, and
  * map-side partial aggregation merges `2*ell x dim` buffers instead of
  * rows. A null vector, or one whose length is not `dim`, skips the row.
  *
  * No byte-stable merge exists for FD (see [[graft.core.Fd]] scaladoc),
  * so unlike the hash sketches there is no equivalence gate on the
  * blob — gates check the spectral bound, which every merge order
  * satisfies.
  */
case class FdKind(ell: Int, dim: Int) extends SketchKind[Fd](Wire.fd) {
  def name: String = "graft_fd_agg"
  def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def nullable: Boolean = false

  @transient private lazy val scratch = new Array[Double](dim)

  def empty(): Fd = Fd.empty(ell, dim)
  def update(s: Fd, row: InternalRow, in: Array[Expression]): Fd = {
    val v = in(0).eval(row)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() == dim) {
        var i = 0
        while (i < dim) { scratch(i) = a.getDouble(i); i += 1 }
        s.insert(scratch)
      }
    }
    s
  }
}

object FdAggExpr {
  def column(v: Column, ell: Int, dim: Int): Column = SketchAgg.column(Seq(v), FdKind(ell, dim))
}
