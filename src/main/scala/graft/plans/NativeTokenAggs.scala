package graft.plans

import graft.core.{Cms, Ebf, FreqSketch, Hash128, Hll, Kll, TDigest, WireReader, WireWriter}
import graft.functions.Graft
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** The four flagship per-host sketches, built as one buffer. */
final class HostSketches(val ebf: Ebf, val hll: Hll, val kll: Kll, val td: TDigest) {
  def merge(o: HostSketches): HostSketches = {
    ebf.merge(o.ebf); hll.merge(o.hll); kll.merge(o.kll); td.merge(o.td)
    this
  }
  def sketches: Array[Array[Byte]] = Array(ebf.toBytes, hll.toBytes, kll.toBytes, td.toBytes)
}

object HostSketches {
  def of(b: Array[Array[Byte]]): HostSketches =
    new HostSketches(Ebf.fromBytes(b(0)), Hll.fromBytes(b(1)), Kll.fromBytes(b(2)),
      TDigest.fromBytes(b(3)))

  val wire: Wire[HostSketches] =
    Wire(b => of(WireReader.blobs(b, "host sketches", 4)), h => WireWriter.blobs(h.sketches), _ merge _)

  val dataType: StructType = StructType(Seq("ebf", "hll", "kll", "td")
    .map(StructField(_, BinaryType, nullable = false)))
}

/** All four flagship per-(lang, host) sketches in ONE aggregate over
  * (url h1, url h2, text length): one buffer lookup per row, and one
  * 128-bit url hash feeding both EBF and HLL (`Ebf.insertHash` and
  * `Hll.addHash` consume the same `Hash128.H`). Fed hash halves, not the
  * url ("shuffle hashes, not strings"). Null hash halves skip the key
  * sketches; a null length skips the quantile sketches. Result:
  * struct<ebf, hll, kll, td> of sketch blobs; its stage-2 merge is
  * `MergeKind(this)` over the struct. */
case class PerHostKind(m0: Int, k: Int, l0: Int, aNum: Int, aDen: Int,
                       hllP: Int, kllK: Int, tdCompression: Double, seed: Long)
    extends SketchKind[HostSketches](HostSketches.wire) {
  def name: String = "per_host_sketches_agg"
  def inputTypes: Seq[DataType] = Seq(LongType, LongType, DoubleType)
  override def dataType: DataType = HostSketches.dataType

  def empty(): HostSketches = new HostSketches(
    Ebf.empty(m0, k, l0, aNum, aDen, seed), Hll.empty(hllP, seed),
    Kll.empty(kllK), TDigest.empty(tdCompression))

  def update(b: HostSketches, row: InternalRow, in: Array[Expression]): HostSketches = {
    val a = in(0).eval(row)
    if (a != null) {
      val h2 = in(1).eval(row)
      if (h2 != null) {
        val h1l = a.asInstanceOf[Long]
        b.ebf.insertHash(Hash128.H(h1l, h2.asInstanceOf[Long]))
        b.hll.addHash(h1l)
      }
    }
    val v = in(2).eval(row)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      b.kll.add(d)
      b.td.add(d)
    }
    b
  }

  override def result(b: HostSketches): Any = InternalRow.fromSeq(b.sketches.toSeq)
  override def fromResult(v: Any): HostSketches = {
    val r = v.asInstanceOf[InternalRow]
    HostSketches.of(Array.tabulate(4)(r.getBinary))
  }
}

object PerHostSketchesNativeAgg {
  def column(h1: Column, h2: Column, len: Column,
             m0: Int, k: Int, l0: Int, aNum: Int, aDen: Int,
             hllP: Int, kllK: Int, tdCompression: Double, seed: Long): Column =
    SketchAgg.column(Seq(h1, h2, len),
      PerHostKind(m0, k, l0, aNum, aDen, hllP, kllK, tdCompression, seed))
}

/** CMS + Misra-Gries over text tokens, fused at the kernel: one
  * tokenization walk and ONE 128-bit token hash feeding both sketches
  * (both built with the same seed, so `Cms` and
  * `FreqSketch.addRangeHashed` consume the same `Hash128`). MG updates
  * stay inline (its open-addressed table is cache-resident); CMS updates
  * are deferred and applied ROW-MAJOR at flush — `depth` sequential
  * passes each confined to one 8*width-byte row slice, instead of
  * `depth` scattered writes across the whole table per token. Addition
  * is commutative, so the table is bit-identical to unbatched at any
  * batch size. */
final class BatchedTokenBuf(val cms: Cms, val topk: FreqSketch, batch: Int) {
  private val pendH1 = new Array[Long](batch)
  private val pendH2 = new Array[Long](batch)
  private[graft] var pending = 0

  /** Every non-empty space-separated token of the UTF-8 `bytes`. */
  def addTokens(bytes: Array[Byte]): Unit = {
    val seed = cms.seed
    val len = bytes.length
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        if (i > start) {
          val h = Hash128.hashBytesRange(bytes, start, i - start, seed)
          pendH1(pending) = h.h1
          pendH2(pending) = h.h2
          pending += 1
          if (pending == batch) flush()
          topk.addRangeHashed(bytes, start, i - start, 1L, h.h1)
        }
        start = i + 1
      }
      i += 1
    }
  }

  def flush(): Unit = {
    if (pending == 0) return
    val n = pending
    var r = 0
    while (r < cms.depth) {
      var i = 0
      while (i < n) {
        cms.bumpRow(r, pendH1(i) + (r + 1).toLong * pendH2(i))
        i += 1
      }
      r += 1
    }
    cms.total += n
    pending = 0
  }

  def merge(o: BatchedTokenBuf): BatchedTokenBuf = {
    flush(); o.flush()
    cms.merge(o.cms)
    topk.merge(o.topk)
    this
  }

  def sketches: Array[Array[Byte]] = { flush(); Array(cms.toBytes, topk.toBytes) }
}

object BatchedTokenBuf {
  /** Tokens per CMS flush: equal or 2-3% better than unbatched at both
    * parallelism levels in 5 of 6 paired trials (BENCH/PLANS.md PLAN13),
    * and bounds the hot working set per flush to one CMS row slice. */
  val Batch = 512

  def empty(depth: Int, width: Int, capacity: Int, seed: Long,
            batch: Int = Batch): BatchedTokenBuf =
    new BatchedTokenBuf(Cms.empty(depth, width, seed), FreqSketch.empty(capacity, seed), batch)

  def of(cms: Array[Byte], topk: Array[Byte], batch: Int = Batch): BatchedTokenBuf =
    new BatchedTokenBuf(Cms.fromBytes(cms), FreqSketch.fromBytes(topk), batch)

  val wire: Wire[BatchedTokenBuf] = Wire(
    b => { val c = WireReader.blobs(b, "token sketches", 2); of(c(0), c(1)) },
    t => WireWriter.blobs(t.sketches), _ merge _)

  /** struct<cms, topk> as [[PerLangKind]] emits it. */
  val dataType: StructType = StructType(Seq(
    StructField("cms", BinaryType, nullable = false),
    StructField("topk", BinaryType, nullable = false)))
}

/** `cms_topk_tokens_agg(text)`: CMS point queries AND Misra-Gries
  * heavy-hitter enumeration over the tokens of a text column in one
  * pass (see [[BatchedTokenBuf]]) — a sketch that answers "how often is
  * X" cannot list the X's. The CMS is byte-identical to
  * `cms_tokens_agg`. Result: struct<cms, topk>. */
case class CmsTopkTokensKind(depth: Int = Cms.DefaultDepth, width: Int = Cms.DefaultWidth,
                             capacity: Int = FreqSketch.DefaultCapacity,
                             seed: Long = Graft.SketchSeed)
    extends StringKind[BatchedTokenBuf](BatchedTokenBuf.wire) {
  def name: String = "cms_topk_tokens_agg"
  override def dataType: DataType =
    StructType(Seq(StructField("cms", BinaryType), StructField("topk", BinaryType)))
  def empty(): BatchedTokenBuf = BatchedTokenBuf.empty(depth, width, capacity, seed)
  def add(b: BatchedTokenBuf, text: UTF8String): Unit = b.addTokens(Utf8Key.bytes(text))
  override def result(b: BatchedTokenBuf): Any = InternalRow.fromSeq(b.sketches.toSeq)
  override def fromResult(v: Any): BatchedTokenBuf = {
    val r = v.asInstanceOf[InternalRow]
    BatchedTokenBuf.of(r.getBinary(0), r.getBinary(1))
  }
}

/** Per-LANG token sketches in ONE un-grouped aggregate over
  * (lang, text): the buffer is a small map lang -> [[BatchedTokenBuf]],
  * so the aggregation can run as a side-channel metric on a flowing
  * dataset (`Dataset.observe` / CollectMetrics — which only admits
  * global aggregates) while the main plan continues. This is what lets
  * the flagship compute phase 2 DURING phase 1's scan instead of paying
  * the 13 GB text scan twice (PLAN16). Output: map<lang, struct<cms
  * binary, topk binary>>, entries in lang order. A null lang or text
  * skips the row. `batchTokens` is the CMS flush batch (at least 1; any
  * value gives the same bytes).
  *
  * Merge-order caveat (same as everywhere in the library): CMS bytes
  * are identical under any merge order; Misra-Gries heavy hitters are
  * guarantee-stable but not byte-stable, and the accumulator's
  * task-completion merge order is nondeterministic — the fused-vs-
  * grouped spec therefore compares CMS bytes exactly and MG at the
  * heavy-hitter level.
  */
case class PerLangKind(depth: Int, width: Int, capacity: Int, seed: Long, batchTokens: Int)
    extends SketchKind[PerLangKind.Bufs](PerLangKind.wire) {
  def name: String = "per_lang_token_sketches_agg"
  def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType =
    MapType(StringType, BatchedTokenBuf.dataType, valueContainsNull = false)
  override def nullable: Boolean = false

  def empty(): PerLangKind.Bufs = new PerLangKind.Bufs()
  def update(m: PerLangKind.Bufs, row: InternalRow, in: Array[Expression]): PerLangKind.Bufs = {
    val l = in(0).eval(row)
    if (l == null) return m
    val v = in(1).eval(row)
    if (v == null) return m
    val lang = l.asInstanceOf[UTF8String].toString
    var b = m.get(lang)
    if (b == null) {
      b = BatchedTokenBuf.empty(depth, width, capacity, seed, math.max(1, batchTokens))
      m.put(lang, b)
    }
    b.addTokens(Utf8Key.bytes(v.asInstanceOf[UTF8String]))
    m
  }

  override def result(m: PerLangKind.Bufs): Any = {
    val langs = m.keySet.asScala.toArray
    ArrayBasedMapData(langs.map(UTF8String.fromString),
      langs.map(l => InternalRow.fromSeq(m.get(l).sketches.toSeq)))
  }
}

object PerLangKind {
  /** TreeMap: deterministic lang order for the wire and the result. */
  type Bufs = java.util.TreeMap[String, BatchedTokenBuf]

  /** (lang, cms, topk) blob triples in lang order. */
  val wire: Wire[Bufs] = Wire(
    bytes => {
      val m = new Bufs()
      val in = new WireReader(bytes, "per-lang token sketches")
      while (in.remaining > 0) {
        val lang = new String(in.blob("lang"), StandardCharsets.UTF_8)
        m.put(lang, BatchedTokenBuf.of(in.blob("cms"), in.blob("topk")))
      }
      m
    },
    m => WireWriter.blobs(m.asScala.toArray.flatMap { case (lang, b) =>
      lang.getBytes(StandardCharsets.UTF_8) +: b.sketches
    }),
    (a, b) => {
      b.forEach((lang, buf) => a.merge(lang, buf, (x, y) => x.merge(y)))
      a
    })
}

object PerLangTokenSketchesAgg {
  def column(lang: Column, text: Column, depth: Int, width: Int, capacity: Int,
             seed: Long, batchTokens: Int = 0): Column =
    SketchAgg.column(Seq(lang, text), PerLangKind(depth, width, capacity, seed, batchTokens))
}
