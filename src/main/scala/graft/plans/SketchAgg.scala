package graft.plans

import graft.core._
import graft.functions.Graft
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, TypedImperativeAggregate}
import org.apache.spark.sql.graftshim.{ColumnBridge, FunctionShim, InputCasts}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The monoid of one sketch type over its wire format: the only
  * serialization the aggregates use, for partial buffers and results
  * alike. */
final case class Wire[S <: AnyRef](from: Array[Byte] => S, to: S => Array[Byte],
                                   merge: (S, S) => S)

object Wire {
  val ebf: Wire[Ebf] = Wire(Ebf.fromBytes, _.toBytes, _ merge _)
  val hll: Wire[Hll] = Wire(Hll.fromBytes, _.toBytes, _ merge _)
  val theta: Wire[Theta] = Wire(Theta.fromBytes, _.toBytes, _ merge _)
  val cms: Wire[Cms] = Wire(Cms.fromBytes, _.toBytes, _ merge _)
  val cs: Wire[CountSketch] = Wire(CountSketch.fromBytes, _.toBytes, _ merge _)
  val dcms: Wire[DecayedCms] = Wire(DecayedCms.fromBytes, _.toBytes, _ merge _)
  val kll: Wire[Kll] = Wire(Kll.fromBytes, _.toBytes, _ merge _)
  val td: Wire[TDigest] = Wire(TDigest.fromBytes, _.toBytes, _ merge _)
  val freq: Wire[FreqSketch] = Wire(FreqSketch.fromBytes, _.toBytes, _ merge _)
  val sample: Wire[BottomKSample] = Wire(BottomKSample.fromBytes, _.toBytes, _ merge _)
}

/** What [[SketchAgg]] needs to know about one sketch aggregate: its SQL
  * name, the types its inputs are implicitly cast to, a fresh buffer,
  * how one input row updates it, and the wire monoid. The result is the
  * sketch bytes unless a multi-sketch kind overrides [[result]] with a
  * struct of blobs (and [[fromResult]] with its inverse, which the
  * merge kind reads).
  *
  * Update contract: a row whose sketch input is null is skipped, so a
  * null key is never inserted and probes as a miss.
  */
abstract class SketchKind[S <: AnyRef](wire: Wire[S]) extends Serializable {
  def name: String
  def inputTypes: Seq[DataType]
  def dataType: DataType = BinaryType
  /** Fresh buffer; null means "no sketch yet" (see [[MergeKind]]). */
  def empty(): S
  def update(s: S, row: InternalRow, in: Array[Expression]): S
  def merge(a: S, b: S): S = wire.merge(a, b)
  def toBytes(s: S): Array[Byte] = wire.to(s)
  def fromBytes(b: Array[Byte]): S = wire.from(b)
  def result(s: S): Any = toBytes(s)
  def fromResult(v: Any): S = fromBytes(v.asInstanceOf[Array[Byte]])
}

/** A kind over one string key, read as [[Utf8Key]] bytes. */
abstract class StringKind[S <: AnyRef](wire: Wire[S]) extends SketchKind[S](wire) {
  def inputTypes: Seq[DataType] = Seq(StringType)
  def add(s: S, key: UTF8String): Unit
  final def update(s: S, row: InternalRow, in: Array[Expression]): S = {
    val v = in(0).eval(row)
    if (v != null) add(s, v.asInstanceOf[UTF8String])
    s
  }
}

/** A kind over one double value. */
abstract class DoubleKind[S <: AnyRef](wire: Wire[S]) extends SketchKind[S](wire) {
  def inputTypes: Seq[DataType] = Seq(DoubleType)
  def add(s: S, v: Double): Unit
  final def update(s: S, row: InternalRow, in: Array[Expression]): S = {
    val v = in(0).eval(row)
    if (v != null) add(s, v.asInstanceOf[Double])
    s
  }
}

/** `ebf_agg(key)`: the elastic Bloom filter. */
case class EbfKind(m0: Int = Ebf.DefaultM0, k: Int = Ebf.DefaultK, l0: Int = Ebf.DefaultL0,
                   aNum: Int = Ebf.DefaultAlphaNum, aDen: Int = Ebf.DefaultAlphaDen,
                   seed: Long = Graft.SketchSeed) extends StringKind[Ebf](Wire.ebf) {
  def name: String = "ebf_agg"
  def empty(): Ebf = Ebf.empty(m0, k, l0, aNum, aDen, seed)
  def add(s: Ebf, key: UTF8String): Unit = s.insertHash(Utf8Key.hash(key, seed))
}

/** The EBF fed precomputed `Hash128` halves (`Hash128Expr.h1/h2`)
  * instead of the key — "shuffle hashes, not strings": 16 bytes through
  * an exchange instead of the raw key, byte-identical filter. A null in
  * either half skips the row. */
case class EbfHashKind(m0: Int = Ebf.DefaultM0, k: Int = Ebf.DefaultK, l0: Int = Ebf.DefaultL0,
                       aNum: Int = Ebf.DefaultAlphaNum, aDen: Int = Ebf.DefaultAlphaDen,
                       seed: Long = Graft.SketchSeed) extends SketchKind[Ebf](Wire.ebf) {
  def name: String = "ebf_hash_build_agg"
  def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  def empty(): Ebf = Ebf.empty(m0, k, l0, aNum, aDen, seed)
  def update(s: Ebf, row: InternalRow, in: Array[Expression]): Ebf = {
    val a = in(0).eval(row)
    if (a != null) {
      val b = in(1).eval(row)
      if (b != null) s.insertHash(Hash128.H(a.asInstanceOf[Long], b.asInstanceOf[Long]))
    }
    s
  }
}

case class HllKind(p: Int = Hll.DefaultP, seed: Long = Graft.SketchSeed)
    extends StringKind[Hll](Wire.hll) {
  def name: String = "hll_agg"
  def empty(): Hll = Hll.empty(p, seed)
  def add(s: Hll, key: UTF8String): Unit = s.addHash(Utf8Key.hash(key, seed).h1)
}

/** KMV/theta distinct count with set algebra (see [[graft.core.Theta]]). */
case class ThetaKind(k: Int = Theta.DefaultK, seed: Long = Graft.SketchSeed)
    extends StringKind[Theta](Wire.theta) {
  def name: String = "theta_agg"
  def empty(): Theta = Theta.empty(k, seed)
  def add(s: Theta, key: UTF8String): Unit = s.addHash(Utf8Key.hash(key, seed).h1)
}

case class CmsKind(depth: Int = Cms.DefaultDepth, width: Int = Cms.DefaultWidth,
                   seed: Long = Graft.SketchSeed) extends StringKind[Cms](Wire.cms) {
  def name: String = "cms_agg"
  def empty(): Cms = Cms.empty(depth, width, seed)
  def add(s: Cms, key: UTF8String): Unit = s.addHash(Utf8Key.hash(key, seed), 1L)
}

/** CMS over the space-separated TOKENS of a text column: tokenized
  * inside the aggregate, so the ~100x larger exploded token relation
  * never exists as rows; byte-identical to `cms_agg` over the exploded
  * tokens. */
case class CmsTokensKind(depth: Int = Cms.DefaultDepth, width: Int = Cms.DefaultWidth,
                         seed: Long = Graft.SketchSeed) extends StringKind[Cms](Wire.cms) {
  def name: String = "cms_tokens_agg"
  def empty(): Cms = Cms.empty(depth, width, seed)
  def add(s: Cms, text: UTF8String): Unit = s.addTokens(Utf8Key.bytes(text))
}

/** Count Sketch: the unbiased/turnstile twin of CMS (see
  * [[graft.core.CountSketch]]). */
case class CsKind(depth: Int = CountSketch.DefaultDepth, width: Int = CountSketch.DefaultWidth,
                  seed: Long = Graft.SketchSeed) extends StringKind[CountSketch](Wire.cs) {
  def name: String = "cs_agg"
  def empty(): CountSketch = CountSketch.empty(depth, width, seed)
  def add(s: CountSketch, key: UTF8String): Unit = s.addHash(Utf8Key.hash(key, seed), 1L)
}

case class CsTokensKind(depth: Int = CountSketch.DefaultDepth,
                        width: Int = CountSketch.DefaultWidth,
                        seed: Long = Graft.SketchSeed) extends StringKind[CountSketch](Wire.cs) {
  def name: String = "cs_tokens_agg"
  def empty(): CountSketch = CountSketch.empty(depth, width, seed)
  def add(s: CountSketch, text: UTF8String): Unit = s.addTokens(Utf8Key.bytes(text))
}

/** Exponentially time-decayed CMS over (key, event time in seconds);
  * the default half-life is one hour (lambda = ln 2 / 3600). A null key
  * or time skips the row. */
case class DcmsKind(depth: Int = DecayedCms.DefaultDepth, width: Int = DecayedCms.DefaultWidth,
                    seed: Long = Graft.SketchSeed, lambda: Double = math.log(2.0) / 3600.0)
    extends SketchKind[DecayedCms](Wire.dcms) {
  def name: String = "dcms_agg"
  def inputTypes: Seq[DataType] = Seq(StringType, DoubleType)
  def empty(): DecayedCms = DecayedCms.empty(depth, width, seed, lambda = lambda)
  def update(s: DecayedCms, row: InternalRow, in: Array[Expression]): DecayedCms = {
    val key = in(0).eval(row)
    if (key != null) {
      val ts = in(1).eval(row)
      if (ts != null)
        s.addHash(Utf8Key.hash(key.asInstanceOf[UTF8String], seed), ts.asInstanceOf[Double], 1.0)
    }
    s
  }
}

case class KllKind(k: Int = Kll.DefaultK) extends DoubleKind[Kll](Wire.kll) {
  def name: String = "kll_agg"
  def empty(): Kll = Kll.empty(k)
  def add(s: Kll, v: Double): Unit = s.add(v)
}

case class TDigestKind(compression: Double = TDigest.DefaultCompression)
    extends DoubleKind[TDigest](Wire.td) {
  def name: String = "tdigest_agg"
  def empty(): TDigest = TDigest.empty(compression)
  def add(s: TDigest, v: Double): Unit = s.add(v)
}

/** Weight-carrying t-digest: quantiles of `value` where each row counts
  * `weight` times — e.g. the quality cutoff holding a token budget is
  * the weighted (1 - B/T) quantile of quality weighted by token count,
  * in one mergeable pass with no global sort. A null value or weight
  * skips the row. */
case class TDigestWeightedKind(compression: Double = TDigest.DefaultCompression)
    extends SketchKind[TDigest](Wire.td) {
  def name: String = "tdigest_weighted_agg"
  def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  def empty(): TDigest = TDigest.empty(compression)
  def update(s: TDigest, row: InternalRow, in: Array[Expression]): TDigest = {
    val v = in(0).eval(row)
    if (v != null) {
      val w = in(1).eval(row)
      if (w != null) s.add(v.asInstanceOf[Double], w.asInstanceOf[Long])
    }
    s
  }
}

/** Misra-Gries heavy hitters over string items. */
case class TopKKind(capacity: Int = FreqSketch.DefaultCapacity)
    extends StringKind[FreqSketch](Wire.freq) {
  def name: String = "topk_agg"
  def empty(): FreqSketch = FreqSketch.empty(capacity)
  def add(s: FreqSketch, item: UTF8String): Unit = {
    val b = Utf8Key.bytes(item)
    s.addRange(b, 0, b.length, 1L)
  }
}

/** Misra-Gries over the tokens of a text column (see [[CmsTokensKind]]). */
case class TopKTokensKind(capacity: Int = FreqSketch.DefaultCapacity)
    extends StringKind[FreqSketch](Wire.freq) {
  def name: String = "topk_tokens_agg"
  def empty(): FreqSketch = FreqSketch.empty(capacity)
  def add(s: FreqSketch, text: UTF8String): Unit = s.addTokens(Utf8Key.bytes(text))
}

/** Mergeable bottom-k uniform sample of distinct keys (see
  * [[graft.core.BottomKSample]]): the k smallest md5(key) per group, a
  * deterministic function of the key set. The sample keeps the keys
  * themselves, so this kind decodes each one. */
case class SampleKind(k: Int = BottomKSample.DefaultK)
    extends StringKind[BottomKSample](Wire.sample) {
  def name: String = "sample_agg"
  def empty(): BottomKSample = BottomKSample.empty(k)
  def add(s: BottomKSample, key: UTF8String): Unit = s.add(key.toString)
}

/** Re-aggregates results of `of` — sketch bytes, or the struct of a
  * multi-sketch kind — into one: the `*_merge_agg` functions, which make
  * the second stage of a salted or checkpointed build a plain SQL
  * aggregate. NULL until the first non-null input arrives; the
  * parameters come from the incoming sketches, not from `of`. */
case class MergeKind[S <: AnyRef](of: SketchKind[S])
    extends SketchKind[S](Wire(of.fromBytes, of.toBytes, of.merge)) {
  def name: String = of.name.stripSuffix("_agg") + "_merge_agg"
  def inputTypes: Seq[DataType] = Seq(of.dataType)
  override def dataType: DataType = of.dataType
  def empty(): S = null.asInstanceOf[S]
  def update(s: S, row: InternalRow, in: Array[Expression]): S = {
    val v = in(0).eval(row)
    if (v == null) s
    else if (s == null) of.fromResult(v)
    else of.merge(s, of.fromResult(v))
  }
  override def result(s: S): Any = of.result(s)
}

/** The one sketch aggregate. Catalyst plans its partial and final
  * halves, ships each partial buffer as the sketch's wire bytes, and
  * merges on the reduce side with the sketch's associative merge; that
  * pipeline IS the distributed build, independent of partitioning and
  * merge order. Inputs are read straight off the `InternalRow` (no
  * per-row boxing or tuples) after Spark's implicit casts to the kind's
  * input types: bigint keys become strings, decimals become doubles,
  * ints become bigints.
  *
  * A null buffer is the merge kinds' "no sketch yet": it serializes as
  * zero bytes and evaluates to NULL.
  */
case class SketchAgg[S <: AnyRef](children: Seq[Expression], kind: SketchKind[S],
                                  mutableAggBufferOffset: Int = 0,
                                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[S] with InputCasts {

  override protected def castTargets: Seq[DataType] = kind.inputTypes
  override def dataType: DataType = kind.dataType
  override def nullable: Boolean = true
  override def prettyName: String = kind.name
  // plan strings read `ebf_agg(url)`, not the kind's parameters
  override protected def flatArguments: Iterator[Any] = children.iterator

  @transient private lazy val in: Array[Expression] = children.toArray

  override def createAggregationBuffer(): S = kind.empty()
  override def update(buffer: S, input: InternalRow): S = kind.update(buffer, input, in)
  override def merge(a: S, b: S): S =
    if (a == null) b else if (b == null) a else kind.merge(a, b)
  override def eval(buffer: S): Any = if (buffer == null) null else kind.result(buffer)
  override def serialize(buffer: S): Array[Byte] =
    if (buffer == null) Array.emptyByteArray else kind.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): S =
    if (bytes.length == 0) null.asInstanceOf[S] else kind.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[S] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[S] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAgg[S] = copy(children = newChildren)
}

object SketchAgg {
  /** The aggregate as a Column, for kinds with non-default parameters. */
  def column(inputs: Seq[Column], kind: SketchKind[_ <: AnyRef]): Column =
    ColumnBridge.column(AggregateExpression(
      SketchAgg(inputs.map(ColumnBridge.expression), kind), Complete, isDistinct = false))

  /** Every SQL sketch aggregate at its default parameters: 15 builds
    * and 10 merges. */
  val registered: Seq[SketchKind[_ <: AnyRef]] = {
    val builds: Seq[SketchKind[_ <: AnyRef]] = Seq(EbfKind(), HllKind(), ThetaKind(), CmsKind(), CsKind(), CsTokensKind(),
      DcmsKind(), CmsTokensKind(), KllKind(), TDigestKind(), TDigestWeightedKind(),
      TopKKind(), TopKTokensKind(), CmsTopkTokensKind(), SampleKind())
    val merged = Set("ebf_agg", "hll_agg", "theta_agg", "cms_agg", "dcms_agg", "kll_agg",
      "tdigest_agg", "topk_agg", "sample_agg", "cs_agg")
    builds ++ builds.filter(k => merged(k.name)).map(k => MergeKind(k))
  }

  /** SQL registration triples for [[registered]] (`Graft.ensure`). */
  def sqlDescriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    registered.map { kind =>
      val arity = kind.inputTypes.length
      (FunctionIdentifier(kind.name),
        new ExpressionInfo(classOf[SketchAgg[_]].getName, kind.name),
        (args: Seq[Expression]) => {
          if (args.length != arity) throw FunctionShim.wrongArity(kind.name, arity, args.length)
          SketchAgg(args, kind)
        })
    }
}
