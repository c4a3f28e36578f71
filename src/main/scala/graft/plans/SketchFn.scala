package graft.plans

import graft.core._
import graft.functions.SketchCache
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.{ColumnBridge, FunctionShim, InputCasts}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.reflect.{ClassTag, classTag}

/** How a scalar reads one sketch input: `shared` may serve an instance
  * every task thread of the JVM holds too ([[SketchCache]]), `fresh`
  * decodes a private copy. */
final case class Read[S <: AnyRef](shared: Array[Byte] => S, fresh: Array[Byte] => S)

object Read {
  val ebf: Read[Ebf] = Read(SketchCache.ebf, Ebf.fromBytes)
  val hll: Read[Hll] = Read(SketchCache.hll, Hll.fromBytes)
  val theta: Read[Theta] = Read(SketchCache.theta, Theta.fromBytes)
  val cms: Read[Cms] = Read(SketchCache.cms, Cms.fromBytes)
  val cs: Read[CountSketch] = Read(SketchCache.cs, CountSketch.fromBytes)
  val dcms: Read[DecayedCms] = Read(SketchCache.dcms, DecayedCms.fromBytes)
  val kll: Read[Kll] = Read(SketchCache.kll, Kll.fromBytes)
  val td: Read[TDigest] = Read(SketchCache.td, TDigest.fromBytes)
  val freq: Read[FreqSketch] = Read(SketchCache.freq, FreqSketch.fromBytes)
  val sample: Read[BottomKSample] = Read(SketchCache.bks, BottomKSample.fromBytes)
}

/** What [[SketchFn]] needs to know about one scalar: its SQL name, the
  * types its inputs are implicitly cast to (the sketches first), its
  * result type, how it reads its sketches (no [[Read]] for a kind that
  * reads none), and its body.
  *
  * Null contract: a NULL sketch answers [[onNullSketch]], a NULL string
  * answers [[onNullKey]], and any other NULL input answers NULL; the
  * first two are SQL NULL unless the kind says otherwise. A null key
  * was never inserted (the aggregates skip it), so the estimates read
  * it as 0 and `ebf_might_contain` as a miss; a text function answers
  * what its kernel answers for a null text.
  */
abstract class ScalarKind(read: Read[_ <: AnyRef]) extends Serializable {
  /** A kind that reads no sketch. */
  def this() = this(null)
  def name: String
  def inputTypes: Seq[DataType]
  def dataType: DataType
  /** How many leading inputs are sketches. */
  def sketches: Int = if (read == null) 0 else 1
  def onNullSketch: Any = null
  def onNullKey: Any = null
  /** The body can answer NULL from non-null inputs. */
  def mayAnswerNull: Boolean = false
  /** Changes its sketch: reads a fresh copy of every sketch, and never
    * folds, so a sketch-sized answer is never inlined into a plan. */
  def mutates: Boolean = false
  /** The body over non-null inputs: the sketches decoded, the rest in
    * Catalyst's internal form. */
  def apply(in: Array[Any]): Any

  /** A shared instance, or a fresh one for a mutating kind or when the
    * caller keeps it (`own`). */
  final def decode(b: Array[Byte], own: Boolean): AnyRef =
    if (mutates || own) read.fresh(b) else read.shared(b)

  final def named(e: IllegalArgumentException): IllegalArgumentException =
    new IllegalArgumentException(s"$name: ${e.getMessage}", e)
}

/** `name(sketch)`. */
abstract class OneSketch[S <: AnyRef](val name: String, val dataType: DataType, read: Read[S])
    extends ScalarKind(read) {
  def inputTypes: Seq[DataType] = Seq(BinaryType)
  def of(s: S): Any
  final def apply(in: Array[Any]): Any = of(in(0).asInstanceOf[S])
}

/** `name(sketch, key)`. */
abstract class SketchKey[S <: AnyRef](val name: String, val dataType: DataType, read: Read[S])
    extends ScalarKind(read) {
  def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)
  def of(s: S, key: UTF8String): Any
  final def apply(in: Array[Any]): Any = of(in(0).asInstanceOf[S], in(1).asInstanceOf[UTF8String])
}

/** `name(sketch, double)`. */
abstract class SketchDouble[S <: AnyRef](val name: String, val dataType: DataType, read: Read[S])
    extends ScalarKind(read) {
  def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
  def of(s: S, x: Double): Any
  final def apply(in: Array[Any]): Any = of(in(0).asInstanceOf[S], in(1).asInstanceOf[Double])
}

/** `name(sketch, int)`. */
abstract class SketchInt[S <: AnyRef](val name: String, val dataType: DataType, read: Read[S])
    extends ScalarKind(read) {
  def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  def of(s: S, x: Int): Any
  final def apply(in: Array[Any]): Any = of(in(0).asInstanceOf[S], in(1).asInstanceOf[Int])
}

/** `name(sketch, sketch)`. */
abstract class TwoSketches[S <: AnyRef](val name: String, val dataType: DataType, read: Read[S])
    extends ScalarKind(read) {
  def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def sketches: Int = 2
  def of(a: S, b: S): Any
  final def apply(in: Array[Any]): Any = of(in(0).asInstanceOf[S], in(1).asInstanceOf[S])
}

case class EbfMightContain() extends SketchKey[Ebf]("ebf_might_contain", BooleanType, Read.ebf) {
  override def onNullSketch: Any = false
  override def onNullKey: Any = false
  def of(s: Ebf, key: UTF8String): Any = s.mightContain(Utf8Key.bytes(key))
}

case class EbfExpand() extends OneSketch[Ebf]("ebf_expand", BinaryType, Read.ebf) {
  override def mutates: Boolean = true
  def of(s: Ebf): Any = { s.expand(); s.toBytes }
}

case class EbfCompress() extends OneSketch[Ebf]("ebf_compress", BinaryType, Read.ebf) {
  override def mutates: Boolean = true
  def of(s: Ebf): Any = { s.compress(); s.toBytes }
}

case class EbfDelete() extends SketchKey[Ebf]("ebf_delete", BinaryType, Read.ebf) {
  override def mutates: Boolean = true
  def of(s: Ebf, key: UTF8String): Any = { s.delete(key.toString); s.toBytes }
}

case class EbfInfo() extends OneSketch[Ebf]("ebf_info", SketchFn.EbfInfoType, Read.ebf) {
  def of(e: Ebf): Any =
    InternalRow(e.level, e.numBuckets, e.n, e.bitsSet, e.fpWidth, e.fprBound, e.sizeBytes)
}

case class EbfFpr() extends OneSketch[Ebf]("ebf_fpr", DoubleType, Read.ebf) {
  def of(s: Ebf): Any = s.fprBound
}

case class HllEstimate() extends OneSketch[Hll]("hll_estimate", LongType, Read.hll) {
  def of(s: Hll): Any = s.estimate
}

/** The retained keys of a bottom-k sample, in canonical hash order. */
case class SampleKeys()
    extends OneSketch[BottomKSample]("sample_keys", ArrayType(StringType), Read.sample) {
  def of(s: BottomKSample): Any =
    new GenericArrayData(s.keys.map(k => UTF8String.fromString(k): Any))
}

case class SampleSize() extends OneSketch[BottomKSample]("sample_size", IntegerType, Read.sample) {
  def of(s: BottomKSample): Any = s.size
}

// theta estimates round to a long, as hll_estimate's do
case class ThetaEstimate() extends OneSketch[Theta]("theta_estimate", LongType, Read.theta) {
  def of(s: Theta): Any = math.rint(s.estimate).toLong
}

case class ThetaIntersectEstimate()
    extends TwoSketches[Theta]("theta_intersect_estimate", LongType, Read.theta) {
  def of(a: Theta, b: Theta): Any = math.rint(a.intersectEstimate(b)).toLong
}

case class ThetaDiffEstimate()
    extends TwoSketches[Theta]("theta_diff_estimate", LongType, Read.theta) {
  def of(a: Theta, b: Theta): Any = math.rint(a.differenceEstimate(b)).toLong
}

case class ThetaJaccard() extends TwoSketches[Theta]("theta_jaccard", DoubleType, Read.theta) {
  def of(a: Theta, b: Theta): Any = a.jaccardEstimate(b)
}

case class ThetaMerge() extends TwoSketches[Theta]("theta_merge", BinaryType, Read.theta) {
  override def mutates: Boolean = true
  def of(a: Theta, b: Theta): Any = a.merge(b).toBytes
}

case class CmsEstimate() extends SketchKey[Cms]("cms_estimate", LongType, Read.cms) {
  override def onNullKey: Any = 0L
  def of(s: Cms, key: UTF8String): Any = s.estimate(key.toString)
}

case class CmsTotal() extends OneSketch[Cms]("cms_total", LongType, Read.cms) {
  def of(s: Cms): Any = s.total
}

/** Equi-join size from two sketches alone (row-wise dot product, min
  * over rows): never under-estimates, within eps*totalA*totalB whp. */
case class CmsInnerProduct() extends TwoSketches[Cms]("cms_inner_product", LongType, Read.cms) {
  def of(a: Cms, b: Cms): Any = a.innerProduct(b)
}

/** Count Sketch estimates are signed and unbiased: a key never inserted
  * can read negative. The inner product and F2 are the AMS join-size and
  * self-join-size estimators, as doubles. */
case class CsEstimate() extends SketchKey[CountSketch]("cs_estimate", LongType, Read.cs) {
  override def onNullKey: Any = 0L
  def of(s: CountSketch, key: UTF8String): Any = s.estimate(key.toString)
}

case class CsTotal() extends OneSketch[CountSketch]("cs_total", LongType, Read.cs) {
  def of(s: CountSketch): Any = s.total
}

case class CsInnerProduct()
    extends TwoSketches[CountSketch]("cs_inner_product", DoubleType, Read.cs) {
  def of(a: CountSketch, b: CountSketch): Any = a.innerProduct(b)
}

case class CsF2() extends OneSketch[CountSketch]("cs_f2", DoubleType, Read.cs) {
  def of(s: CountSketch): Any = s.f2
}

/** `dcms_estimate(sketch, key, tNow)`: the decayed count of `key` as of
  * `tNow` seconds. */
case class DcmsEstimate() extends ScalarKind(Read.dcms) {
  def name: String = "dcms_estimate"
  def inputTypes: Seq[DataType] = Seq(BinaryType, StringType, DoubleType)
  def dataType: DataType = DoubleType
  override def onNullKey: Any = 0.0
  def apply(in: Array[Any]): Any =
    in(0).asInstanceOf[DecayedCms].estimate(in(1).toString, in(2).asInstanceOf[Double])
}

case class DcmsTotal() extends SketchDouble[DecayedCms]("dcms_total", DoubleType, Read.dcms) {
  def of(s: DecayedCms, tNow: Double): Any = s.totalAt(tNow)
}

case class KllQuantile() extends SketchDouble[Kll]("kll_quantile", DoubleType, Read.kll) {
  def of(s: Kll, q: Double): Any = s.quantile(q)
}

case class KllRank() extends SketchDouble[Kll]("kll_rank", DoubleType, Read.kll) {
  def of(s: Kll, v: Double): Any = s.rank(v)
}

/** Equi-height histogram: `b` buckets at the i/b quantiles of one
  * sketch, the statistics an exact histogram needs a full sort for.
  * Boundaries are deterministic (KLL compaction is). Masses come from
  * rank differences of the boundaries, which telescope to n (up to
  * per-bucket rounding); a heavy tied value that repeats boundaries
  * puts all its mass in the first bucket ending at it (rank is
  * <=-based) and leaves the repeated buckets empty. Each boundary
  * carries the sketch's rank error, so a bucket's true mass is within
  * n/b +- 2*eps*n (`kll_histogram_check`). */
case class KllHistogram()
    extends SketchInt[Kll]("kll_histogram", SketchFn.HistogramType, Read.kll) {
  def of(k: Kll, b: Int): Any = {
    require(b >= 1 && b <= 100000, s"bucket count out of range: $b")
    if (k.n == 0L) new GenericArrayData(Array.empty[Any])
    else {
      val qs = Array.tabulate(b + 1)(i => k.quantile(i.toDouble / b))
      new GenericArrayData(Array.tabulate[Any](b) { i =>
        val rLo = if (i == 0) 0.0 else k.rank(qs(i))
        val rHi = if (i == b - 1) 1.0 else k.rank(qs(i + 1))
        InternalRow(i, qs(i), qs(i + 1), math.round((rHi - rLo) * k.n))
      })
    }
  }
}

case class TDigestQuantile()
    extends SketchDouble[TDigest]("tdigest_quantile", DoubleType, Read.td) {
  def of(s: TDigest, q: Double): Any = s.quantile(q)
}

case class TDigestCdf() extends SketchDouble[TDigest]("tdigest_cdf", DoubleType, Read.td) {
  def of(s: TDigest, v: Double): Any = s.cdf(v)
}

/** The sketch's own heavy-hitter candidates: (item, lower-bound
  * estimate), estimate descending, then item ascending. */
case class TopKItems()
    extends SketchInt[FreqSketch]("topk_items", SketchFn.TopKItemsType, Read.freq) {
  def of(s: FreqSketch, k: Int): Any = new GenericArrayData(s.topK(k).map {
    case (item, est) => InternalRow(UTF8String.fromString(item), est): Any
  }.toArray)
}

case class TopKEstimate() extends SketchKey[FreqSketch]("topk_estimate", LongType, Read.freq) {
  override def onNullKey: Any = 0L
  def of(s: FreqSketch, key: UTF8String): Any = s.estimate(key.toString)
}

case class TopKError() extends OneSketch[FreqSketch]("topk_error", LongType, Read.freq) {
  def of(s: FreqSketch): Any = s.maxError
}

/** The one graft scalar: every SQL scalar graft registers and every
  * scalar its Column facades build is a [[ScalarKind]] run by this
  * expression. A kind reads zero, one or two sketches; its inputs are
  * implicitly cast to the kind's types (bigint keys become strings,
  * decimals doubles, ints bigints) and it is evaluated inside
  * whole-stage codegen.
  *
  * Each sketch input remembers the last bytes it read and their
  * decoded sketch, compared by reference, in the expression instance a
  * task deserializes for itself, so nothing stays pinned after the
  * task. A constant (an `X'…'` literal: the same array on every row)
  * decodes once per task into a private copy. Any other input reads
  * through [[SketchCache]]: a scalar-subquery blob, also the same array
  * on every row, once per task, and a per-row copy on every row. A
  * mutating kind decodes a fresh copy on every row. A call whose
  * inputs are all constant is foldable, so `ConstantFolding` evaluates
  * it once at planning, unless the kind mutates.
  *
  * A sketch that does not decode fails with an
  * `IllegalArgumentException` whose message starts with the function's
  * name, as does a body's own argument check.
  */
case class SketchFn(children: Seq[Expression], kind: ScalarKind)
    extends Expression with InputCasts {

  override protected def castTargets: Seq[DataType] = kind.inputTypes
  override def dataType: DataType = kind.dataType
  override def prettyName: String = kind.name
  // a plan string shows a constant sketch by its size, not its bytes
  override protected def flatArguments: Iterator[Any] = children.iterator.map {
    case Literal(b: Array[Byte], BinaryType) => s"X'<${b.length} bytes>'"
    case c => c
  }
  override def foldable: Boolean = !kind.mutates && children.forall(_.foldable)
  override def nullable: Boolean = kind.mayAnswerNull || children.indices.exists { i =>
    children(i).nullable && (
      if (i < kind.sketches) kind.onNullSketch == null
      else kind.inputTypes(i) != StringType || kind.onNullKey == null)
  }

  // per sketch input: the last bytes it read and their sketch
  @transient private lazy val last = new Array[(Array[Byte], AnyRef)](kind.sketches)

  private def sketch(i: Int, b: Array[Byte]): AnyRef = {
    val l = last(i)
    if (l != null && (l._1 eq b)) l._2
    else {
      val s = try kind.decode(b, own = children(i).foldable)
        catch { case e: IllegalArgumentException => throw kind.named(e) }
      if (!kind.mutates) last(i) = (b, s)
      s
    }
  }

  /** The answer for evaluated inputs; called by eval and generated code.
    * Checks every null before decoding anything. */
  def answer(in: Array[Any]): Any = {
    val n = kind.sketches
    var i = 0
    while (i < n) {
      if (in(i) == null) return kind.onNullSketch
      i += 1
    }
    var nullKey = false
    while (i < in.length) {
      if (in(i) == null) {
        if (kind.inputTypes(i) != StringType) return null
        nullKey = true
      }
      i += 1
    }
    if (nullKey) return kind.onNullKey
    i = 0
    while (i < n) {
      in(i) = sketch(i, in(i).asInstanceOf[Array[Byte]])
      i += 1
    }
    try kind(in) catch { case e: IllegalArgumentException => throw kind.named(e) }
  }

  override def eval(input: InternalRow): Any =
    answer(children.map(_.eval(input)).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("sketchFn", this, classOf[SketchFn].getName)
    val args = children.map(_.genCode(ctx))
    // one input array per generated instance, refilled every row
    val in = ctx.addMutableState("Object[]", "in", v => s"$v = new Object[${children.length}];")
    val out = ctx.freshName("out")
    def boxed(t: DataType, v: String): String =
      if (CodeGenerator.isPrimitiveType(t)) s"${CodeGenerator.boxedType(t)}.valueOf($v)" else v
    val fill = args.zip(children).zipWithIndex.map { case ((a, c), i) =>
      s"$in[$i] = ${a.isNull} ? null : ${boxed(c.dataType, a.value.toString)};"
    }.mkString("\n")
    val javaType = CodeGenerator.javaType(dataType)
    val unboxed =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $out).${javaType}Value()"
      else s"($javaType) $out"
    ev.copy(code = code"""
      ${Block.blocksToBlock(args.map(_.code))}
      $fill
      Object $out = $self.answer($in);
      boolean ${ev.isNull} = $out == null;
      $javaType ${ev.value} = ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : $unboxed;
    """)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SketchFn =
    copy(children = newChildren)
}

object SketchFn {
  val EbfInfoType: StructType = StructType(Seq(
    StructField("level", IntegerType, nullable = false),
    StructField("numBuckets", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("bitsSet", IntegerType, nullable = false),
    StructField("fpWidth", IntegerType, nullable = false),
    StructField("fprBound", DoubleType, nullable = false),
    StructField("sizeBytes", IntegerType, nullable = false)))

  val HistogramType: ArrayType = ArrayType(StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("lo", DoubleType, nullable = false),
    StructField("hi", DoubleType, nullable = false),
    StructField("rows_est", LongType, nullable = false))))

  val TopKItemsType: ArrayType = ArrayType(StructType(Seq(
    StructField("item", StringType),
    StructField("est", LongType, nullable = false))))

  /** Whether `e` is a [[SketchFn]] of a `K` kind: how plan checks see
    * which scalar a query or rule put in. */
  def isA[K <: ScalarKind: ClassTag](e: Expression): Boolean = e match {
    case f: SketchFn => classTag[K].runtimeClass.isInstance(f.kind)
    case _ => false
  }

  /** `kind` over `inputs`, as a Column: how the facades build a scalar. */
  def column(kind: ScalarKind, inputs: Column*): Column =
    ColumnBridge.column(SketchFn(inputs.map(ColumnBridge.expression), kind))

  /** Every SQL sketch scalar: 31 kinds. */
  val registered: Seq[ScalarKind] = Seq(EbfMightContain(), EbfExpand(), EbfCompress(),
    EbfDelete(), EbfInfo(), EbfFpr(), HllEstimate(), SampleKeys(), SampleSize(),
    ThetaEstimate(), ThetaIntersectEstimate(), ThetaDiffEstimate(), ThetaJaccard(), ThetaMerge(),
    CmsEstimate(), CmsTotal(), CmsInnerProduct(), CsEstimate(), CsTotal(), CsInnerProduct(),
    CsF2(), DcmsEstimate(), DcmsTotal(), KllQuantile(), KllRank(), KllHistogram(),
    TDigestQuantile(), TDigestCdf(), TopKItems(), TopKEstimate(), TopKError())

  /** SQL registration triples for [[registered]] and the text functions
    * (`Graft.ensure`). */
  def sqlDescriptors: Seq[FunctionShim.Descriptor] =
    (registered ++ TextKinds.registered).map { kind =>
      FunctionShim.descriptor(kind.name, classOf[SketchFn], kind.inputTypes.length)(
        SketchFn(_, kind))
    }
}
