package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Morton (Z-order) key `graft_zorder_key(bucket1, ..., bits)`:
  * bit-interleave of `bits` low bits from each of `dims` bucket ids
  * into one long, most-significant bucket bits most significant in the
  * key.
  *
  * This is the multi-column clustering primitive (the role of Delta's
  * `OPTIMIZE ZORDER BY` / Iceberg's z-ordered sort): a LINEAR sort
  * key gives file-level min/max pruning on the leading column only —
  * every file spans the full range of every later column. Sorting by
  * the interleaved key instead makes each run of rows a small
  * axis-aligned cell in bucket space, so per-file min/max stay narrow
  * on EVERY participating column and a sidecar index
  * ([[graft.pipeline.SketchIndex]]-style min/max) prunes band
  * predicates on any of them. Children are expected to be BALANCED
  * bucket ids (e.g. [[RangeBucket]] over KLL quantile boundaries,
  * see [[graft.pipeline.ZOrder]]) — interleaving raw skewed values
  * would collapse most rows into few cells and lose the locality.
  *
  * Values outside [0, 2^bits) are masked to their low `bits` bits
  * (callers bucketing via [[RangeBucket]] with 2^bits - 1
  * boundaries produce in-range ids by construction). Null in any
  * input -> null key, mirroring [[RangeBucket]]'s null-preserving
  * contract; the layout operator documents the null-placement caveat.
  *
  * A native kind rather than a shiftleft/bitand built-in tree: the
  * composed form is `bits x dims` expression nodes evaluated per row
  * on the map side of a full-table exchange; here it is one fused
  * loop inside whole-stage codegen.
  */
case class ZOrderKey(dims: Int, bits: Int) extends ScalarKind {
  require(dims >= 2 && dims <= 8, s"z-order interleave needs 2..8 columns, got $dims")
  require(bits >= 1 && bits * dims <= 63,
    s"bits * dims must fit a positive long, got $bits x $dims")

  def name: String = "graft_zorder_key"
  def inputTypes: Seq[DataType] = Seq.fill(dims)(IntegerType)
  def dataType: DataType = LongType

  def interleave(vals: Array[Int]): Long = {
    val d = vals.length
    val mask = (1 << bits) - 1
    var z = 0L
    var b = 0
    while (b < bits) {
      var i = 0
      while (i < d) {
        z |= (((vals(i) & mask) >>> b) & 1L) << (b * d + i)
        i += 1
      }
      b += 1
    }
    z
  }

  def apply(in: Array[Any]): Any = interleave(Array.tabulate(dims)(i => in(i).asInstanceOf[Int]))
}

object ZOrderKeyExpr {
  def column(buckets: Seq[Column], bits: Int): Column =
    SketchFn.column(ZOrderKey(buckets.size, bits), buckets: _*)
}
