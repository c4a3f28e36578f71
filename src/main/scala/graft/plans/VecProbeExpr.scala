package graft.plans

import graft.core.{WireReader, WireWriter}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native codegen'd kernels for the ANN probe path (IVF cell
  * assignment / probing and sign-LSH bucketing).
  *
  * Why these exist: the previous forms were per-row Scala UDFs over
  * `Seq[Double]` — every evaluated vector paid Catalyst->Scala
  * conversion (64 boxed Doubles + a Seq builder) plus a `toArray`
  * copy, in map-side steps that at corpus scale touch EVERY row
  * (`ann_ivf_recall` 6.54 s / `ann_ivf_clustered` 4.51 s /
  * `ann_lsh_recall` 4.98 s at sf0.1 — the #2/#6/#7 slowest queries in
  * the round-4 sweep, and the last named UDF-where-an-expression-fits
  * anti-pattern in the repo). These expressions read the `ArrayData`
  * directly in a fused loop with zero boxing, the same pattern as
  * [[Int8DotExpr]] / [[RangeBucketExpr]].
  *
  * The captured matrix (centroids / LSH planes) rides along as an
  * expression field surfaced to generated code via
  * `ctx.addReferenceObj` — NOT as composed per-element literals, which
  * is what the old `Ann.lshBuckets` comment correctly rejected
  * (numTables*numBits*dim literal subtrees blow codegen method
  * limits). A reference object is one constant-pool slot regardless of
  * matrix size, so whole-stage codegen stays intact.
  *
  * Numeric parity: each kernel replicates the UDF's accumulation order
  * left-to-right per accumulator, `denom == 0 -> cosine 0.0`, and
  * `java.lang.Double.compare`-based `(-cosine, cellId)` selection —
  * spec-asserted identical to the retired UDF logic on random vectors
  * (VecProbeExprSpec). Null input array -> null row; null ELEMENTS
  * (which the embeddings never carry — the UDF form would have thrown)
  * read as 0.0 rather than poisoning the row.
  */
private[graft] trait DoubleVecInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.simpleString(10)}")
  }
  override def nullable: Boolean = true
}

private[graft] object VecProbeExpr {
  /** Flatten a rectangular matrix row-major, validating uniform width. */
  def flatten(rows: Array[Array[Double]], what: String): Array[Double] = {
    require(rows.nonEmpty, s"empty $what matrix")
    val dim = rows.head.length
    require(rows.forall(_.length == dim), s"ragged $what matrix")
    val out = new Array[Double](rows.length * dim)
    var i = 0
    while (i < rows.length) {
      System.arraycopy(rows(i), 0, out, i * dim, dim)
      i += 1
    }
    out
  }

  /** Fill `keys(c) = -cosine(v, centroid_c)` for every cell.
    * Per-centroid element count is `min(dim, v.numElements())` and each
    * accumulator sums left-to-right — bit-identical to the retired UDF
    * (which interleaved the three accumulations over the same index
    * order). */
  def scoreCells(v: ArrayData, cents: Array[Double], numCells: Int, dim: Int,
                 keys: Array[Double]): Unit = {
    val nd = math.min(dim, v.numElements())
    var nv = 0.0
    var d = 0
    while (d < nd) {
      val x = if (v.isNullAt(d)) 0.0 else v.getDouble(d)
      nv += x * x
      d += 1
    }
    var c = 0
    while (c < numCells) {
      val base = c * dim
      var dot = 0.0
      var nc = 0.0
      d = 0
      while (d < nd) {
        val x = if (v.isNullAt(d)) 0.0 else v.getDouble(d)
        val y = cents(base + d)
        dot += x * y
        nc += y * y
        d += 1
      }
      val denom = math.sqrt(nv) * math.sqrt(nc)
      keys(c) = -(if (denom == 0) 0.0 else dot / denom)
      c += 1
    }
  }
}

/** Nearest-centroid cell id for a vector (IVF corpus-side assignment):
  * argmin of `(-cosine, cellId)` under `Double.compare` — ties to the
  * lower cell id, matching `sortBy((-cos, c)).head` of the retired UDF
  * exactly. Scalar fast path: no per-row array allocation at all. */
case class NearestCellExpr(child: Expression, cents: Array[Double],
                           numCells: Int, dim: Int)
    extends UnaryExpression with DoubleVecInput {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_cell"

  def assign(v: ArrayData): Int = {
    val nd = math.min(dim, v.numElements())
    var nv = 0.0
    var d = 0
    while (d < nd) {
      val x = if (v.isNullAt(d)) 0.0 else v.getDouble(d)
      nv += x * x
      d += 1
    }
    var bestIdx = -1
    var bestKey = 0.0
    var c = 0
    while (c < numCells) {
      val base = c * dim
      var dot = 0.0
      var nc = 0.0
      d = 0
      while (d < nd) {
        val x = if (v.isNullAt(d)) 0.0 else v.getDouble(d)
        val y = cents(base + d)
        dot += x * y
        nc += y * y
        d += 1
      }
      val denom = math.sqrt(nv) * math.sqrt(nc)
      val key = -(if (denom == 0) 0.0 else dot / denom)
      // strict-improvement scan == lexicographic min over (key, c):
      // ties keep the earlier cell, NaN keys lose to everything
      if (bestIdx < 0 || java.lang.Double.compare(key, bestKey) < 0) {
        bestIdx = c
        bestKey = key
      }
      c += 1
    }
    bestIdx
  }

  override protected def nullSafeEval(input: Any): Any =
    assign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCellExpr", this, classOf[NearestCellExpr].getName)
    defineCodeGen(ctx, ev, c => s"$self.assign($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellExpr =
    copy(child = newChild)

  // Array fields are reference-equal by default; canonicalization needs
  // value equality (same pattern as RangeBucketExpr)
  override def equals(other: Any): Boolean = other match {
    case NearestCellExpr(c, m, n, d) =>
      c == child && n == numCells && d == dim && java.util.Arrays.equals(m, cents)
    case _ => false
  }
  override def hashCode(): Int =
    ((31 * child.hashCode() + numCells) * 31 + dim) * 31 +
      java.util.Arrays.hashCode(cents)
}

object NearestCellExpr {
  def column(vec: Column, centroids: Array[Array[Double]]): Column = {
    val flat = VecProbeExpr.flatten(centroids, "centroid")
    ColumnBridge.column(NearestCellExpr(ColumnBridge.expression(vec), flat,
      centroids.length, centroids.head.length))
  }
}

/** The `nProbe` nearest cells for a query vector, best first (IVF
  * probe side): repeated lexicographic-min selection over
  * `(-cosine, cellId)` — identical ordering to the retired UDF's
  * `sortBy((-cos, c)).take(nProbe)`. */
case class NearestCellsExpr(child: Expression, cents: Array[Double],
                            numCells: Int, dim: Int, nProbe: Int)
    extends UnaryExpression with DoubleVecInput {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  def probe(v: ArrayData): ArrayData = {
    val keys = new Array[Double](numCells)
    VecProbeExpr.scoreCells(v, cents, numCells, dim, keys)
    val take = math.min(nProbe, numCells)
    val out = new Array[Int](take)
    val used = new Array[Boolean](numCells)
    var j = 0
    while (j < take) {
      var bestIdx = -1
      var bestKey = 0.0
      var c = 0
      while (c < numCells) {
        if (!used(c) &&
            (bestIdx < 0 || java.lang.Double.compare(keys(c), bestKey) < 0)) {
          bestIdx = c
          bestKey = keys(c)
        }
        c += 1
      }
      used(bestIdx) = true
      out(j) = bestIdx
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCellsExpr", this, classOf[NearestCellsExpr].getName)
    defineCodeGen(ctx, ev, c => s"$self.probe($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)

  override def equals(other: Any): Boolean = other match {
    case NearestCellsExpr(c, m, n, d, p) =>
      c == child && n == numCells && d == dim && p == nProbe &&
        java.util.Arrays.equals(m, cents)
    case _ => false
  }
  override def hashCode(): Int =
    (((31 * child.hashCode() + numCells) * 31 + dim) * 31 + nProbe) * 31 +
      java.util.Arrays.hashCode(cents)
}

object NearestCellsExpr {
  def column(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val flat = VecProbeExpr.flatten(centroids, "centroid")
    ColumnBridge.column(NearestCellsExpr(ColumnBridge.expression(vec), flat,
      centroids.length, centroids.head.length, nProbe))
  }
}

/** Sign-LSH bucket ids for a vector: `numTables` independent tables of
  * `numBits` hyperplane sign bits each, planes flattened row-major
  * `[table][bit][dim]`. Same dot-product accumulation order and
  * `dot >= 0` sign rule as the retired UDF -> identical buckets. */
case class LshBucketsExpr(child: Expression, planes: Array[Double],
                          numTables: Int, numBits: Int, dim: Int)
    extends UnaryExpression with DoubleVecInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  def buckets(v: ArrayData): ArrayData = {
    val nd = math.min(dim, v.numElements())
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var b = 0
      while (b < numBits) {
        val base = (t * numBits + b) * dim
        var dot = 0.0
        var d = 0
        while (d < nd) {
          val x = if (v.isNullAt(d)) 0.0 else v.getDouble(d)
          dot += x * planes(base + d)
          d += 1
        }
        if (dot >= 0) bucket |= 1L << b
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    buckets(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("lshBucketsExpr", this, classOf[LshBucketsExpr].getName)
    defineCodeGen(ctx, ev, c => s"$self.buckets($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketsExpr =
    copy(child = newChild)

  override def equals(other: Any): Boolean = other match {
    case LshBucketsExpr(c, p, t, b, d) =>
      c == child && t == numTables && b == numBits && d == dim &&
        java.util.Arrays.equals(p, planes)
    case _ => false
  }
  override def hashCode(): Int =
    (((31 * child.hashCode() + numTables) * 31 + numBits) * 31 + dim) * 31 +
      java.util.Arrays.hashCode(planes)
}

object LshBucketsExpr {
  def column(vec: Column, planes: Array[Array[Double]],
             numTables: Int, numBits: Int, dim: Int): Column = {
    require(planes.length == numTables * numBits,
      s"plane matrix has ${planes.length} rows, expected ${numTables * numBits}")
    val flat = VecProbeExpr.flatten(planes, "plane")
    ColumnBridge.column(LshBucketsExpr(ColumnBridge.expression(vec), flat,
      numTables, numBits, dim))
  }
}

/** Fused cosine similarity between two float/double vector columns —
  * the per-PAIR rerank kernel of every ANN / embedding-dedup query.
  *
  * The previous `aggregate(zip_with(a, b, ...))` composition was
  * codegen'd but materialized the zipped intermediate array (plus two
  * more aggregate traversals for the norms, each over a freshly CAST
  * copy when the input is array<float>) per evaluated PAIR — the same
  * allocation profile that made the int8 rerank 6x slower before
  * [[Int8DotExpr]]. This expression runs one fused loop accumulating
  * dot and both norms directly off the input `ArrayData`, reading
  * float elements in place (no array<double> cast materialization).
  *
  * Null semantics mirror the composed form exactly (spec-asserted in
  * VecProbeExprSpec): null array -> null; length mismatch -> null
  * (zip_with's null padding nulls the dot); any null element -> null;
  * each accumulator sums left-to-right in the composed form's order,
  * so results are bit-identical. ONE deliberate divergence: a
  * zero-norm vector yields IEEE NaN here, where the composed form's
  * Column `/` throws DIVIDE_BY_ZERO under Spark 4's default ANSI mode
  * (a degenerate input should not kill a 10^9-pair rerank job). */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> args, got " +
        s"${left.dataType.simpleString(10)} and ${right.dataType.simpleString(10)}")
  }

  // lazy: children may be unresolved at construction time
  private lazy val leftIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val rightIsFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def cosine(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cosineSimExpr", this, classOf[CosineSimExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("cos")
      s"""
        Object $boxed = $self.cosine($a, $b);
        if ($boxed == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = ((java.lang.Double) $boxed).doubleValue();
        }
      """
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

object CosineSimExpr {
  def column(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** Element-wise vector sum + count aggregate for Lloyd centroid
  * updates: returns `[count, s_0, ..., s_{dim-1}]` per group.
  *
  * Replaces the `posexplode -> groupBy(cell, dim) -> avg` formulation,
  * which exploded every training vector into `dim` narrow rows per
  * iteration — a dim-fold shuffle amplification (64x here) that at a
  * 10^6-vector training sample moves 6.4e7 rows per iteration where
  * this agg's map-side partial combine moves `numPartitions x numCells`
  * fixed-size arrays. Float summation order differs from the avg form
  * (partition-local then merge, vs shuffle-arrival order) — both are
  * unspecified-order float sums; centroid low-bit wiggle is within the
  * boundary-sensitivity margin the recall gates already tolerate
  * (documented at [[graft.similarity.Ivf.trainCentroids]]). A null
  * vector skips the row; a null element adds nothing and elements past
  * `dim` are ignored. */
case class VecSumKind(dim: Int) extends SketchKind[Array[Double]](VecSumKind.wire(dim)) {
  def name: String = "graft_vec_sum"
  def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  def empty(): Array[Double] = new Array[Double](dim + 1)
  def update(s: Array[Double], row: InternalRow, in: Array[Expression]): Array[Double] = {
    val v = in(0).eval(row)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      s(0) += 1.0
      val n = math.min(dim, a.numElements())
      var d = 0
      while (d < n) {
        if (!a.isNullAt(d)) s(d + 1) += a.getDouble(d)
        d += 1
      }
    }
    s
  }
  override def result(s: Array[Double]): Any = new GenericArrayData(s)
}

object VecSumKind {
  /** `dim + 1` big-endian doubles; any other length does not decode. */
  def wire(dim: Int): Wire[Array[Double]] = Wire(
    b => {
      val in = new WireReader(b, "vec sum")
      val s = Array.fill(dim + 1)(in.double("sums"))
      in.finish()
      s
    },
    s => { val out = new WireWriter(8 * s.length); s.foreach(out.double); out.toBytes },
    (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
}

object VecSumAgg {
  def column(v: Column, dim: Int): Column = SketchAgg.column(Seq(v), VecSumKind(dim))
}
