package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Range-bucket router: bucket(v) = #{ boundaries(i) <= v }, i.e. the
  * upper-bound binary search of `v` in the SORTED boundary array. With
  * boundaries taken at the p/P quantiles of a KLL sketch this assigns
  * each row its balanced range partition (see
  * [[graft.pipeline.RangePartition]]).
  *
  * A native kind rather than a `functions.aggregate` fold over a
  * literal array: the fold is O(P) comparisons per row and this router
  * sits on the map side of a full-table exchange — at 100 TB with
  * P ~ 10^4 output ranges that is 10^4 compares/row vs 14 here, and the
  * binary search stays inside whole-stage codegen. Ties go right
  * (duplicate boundaries from heavy value ties collapse to one bucket
  * edge); null keys stay null (the partitioner co-locates them in one
  * hash-of-null partition, documented at the call site). The boundaries
  * compare by value, as plan canonicalization needs.
  */
case class RangeBucket(boundaries: Array[Double]) extends ScalarKind {
  require(boundaries.nonEmpty, "empty boundary array: nothing to bucket by")
  require(boundaries.sliding(2).forall(w => w.length < 2 || w(0) <= w(1)),
    "boundaries must be sorted ascending")

  def name: String = "graft_range_bucket"
  def inputTypes: Seq[DataType] = Seq(DoubleType)
  def dataType: DataType = IntegerType

  def bucket(v: Double): Int = {
    val bs = boundaries
    var lo = 0
    var hi = bs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bs(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  def apply(in: Array[Any]): Any = bucket(in(0).asInstanceOf[Double])

  override def equals(other: Any): Boolean = other match {
    case RangeBucket(bs) => java.util.Arrays.equals(bs, boundaries)
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(boundaries)
}

object RangeBucketExpr {
  def apply(c: Column, boundaries: Array[Double]): Column =
    SketchFn.column(RangeBucket(boundaries), c)
}
