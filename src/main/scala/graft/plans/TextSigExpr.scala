package graft.plans

import graft.core.Hash128
import graft.functions.TextFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the text-signature tier of the dedup pipeline:
  * MinHash signatures / band hashes / signature Jaccard, SimHash, and
  * winnowing fingerprints, run as [[SketchFn]] kinds.
  *
  * Why these exist (r6, the O37/O42 pattern applied to its last
  * holdout): the signature step is a per-row map over what is, at
  * corpus scale, the WIDEST scan of the whole pipeline — every
  * document's full text — and it ran as boxed Scala `udf`s
  * (`Dedup.minhashPairs/simhashPairs/winnowPairs`,
  * `Decontaminate.contaminatedPairsViaWinnow`): each row paid
  * Catalyst->Scala conversion of the text, a boxed `Seq[Long]`
  * signature result, and a second UDF hop re-boxing that Seq for the
  * band hashes. These kinds run inside whole-stage codegen, read
  * the `UTF8String` bytes directly (tokenizing on the 0x20 byte, which
  * never occurs inside a multi-byte UTF-8 sequence), hash shingles
  * through `Hash128.hashBytesRange` with zero per-shingle string
  * allocation (contiguous single-space token runs hash the ORIGINAL
  * byte range; others assemble in a per-thread scratch buffer), and
  * return primitive `UnsafeArrayData` — no boxing anywhere.
  *
  * Numeric parity: the Scala kernels in [[TextFunctions]] remain the
  * spec reference; TextSigExprSpec asserts byte-identical signatures /
  * hashes / fingerprints against them on randomized inputs (including
  * multi-space, unicode and sub-shingle-length texts). Null semantics
  * deliberately match the retired UDFs, which passed null THROUGH to
  * the kernels rather than null-short-circuiting: minhash(null) is the
  * all-MaxValue signature, simhash(null) = 0, winnow(null) = empty
  * (each kind's `onNullKey`) — so over a text these are non-nullable,
  * which also spares downstream operators their null checks.
  */
private[graft] object TextSig {

  private val scratchTL = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](256)
  }
  private val tokTL = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](256)
  }

  /** Maximal non-space byte runs == `split(' ').filter(_.nonEmpty)`.
    * Bounds land as [s0,e0,s1,e1,...] in the returned (reused) array;
    * the token count is the second element. */
  private def tokenize(b: Array[Byte]): (Array[Int], Int) = {
    var arr = tokTL.get()
    var nt = 0
    var i = 0
    val end = b.length
    while (i < end) {
      if (b(i) != ' ') {
        val s = i
        while (i < end && b(i) != ' ') i += 1
        if (2 * nt + 2 > arr.length) {
          arr = java.util.Arrays.copyOf(arr, arr.length * 2)
          tokTL.set(arr)
        }
        arr(2 * nt) = s
        arr(2 * nt + 1) = i
        nt += 1
      } else i += 1
    }
    (arr, nt)
  }

  /** MinHash signature over word `shingleN`-grams — byte-identical to
    * [[TextFunctions.minhash]] (TextSigExprSpec). */
  def minhashSig(u: UTF8String, numHashes: Int, shingleN: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (u == null) return sig
    val b = u.getBytes
    val (tok, nt) = tokenize(b)
    if (nt == 0) return sig

    // hash tokens [i0, i0+n) joined by single spaces; when they are
    // already single-space-separated in the input, hash the original
    // byte range in place (the common case for normalized text)
    def hashShingle(i0: Int, n: Int): Unit = {
      var contiguous = true
      var j = i0
      while (contiguous && j < i0 + n - 1) {
        if (tok(2 * j + 1) + 1 != tok(2 * (j + 1))) contiguous = false
        j += 1
      }
      val h =
        if (contiguous) {
          val s = tok(2 * i0)
          Hash128.hashBytesRange(b, s, tok(2 * (i0 + n - 1) + 1) - s, 0x77)
        } else {
          var need = n - 1
          var t = i0
          while (t < i0 + n) { need += tok(2 * t + 1) - tok(2 * t); t += 1 }
          var sc = scratchTL.get()
          if (sc.length < need) {
            sc = new Array[Byte](java.lang.Integer.highestOneBit(need) * 2)
            scratchTL.set(sc)
          }
          var p = 0
          t = i0
          while (t < i0 + n) {
            if (t > i0) { sc(p) = ' '; p += 1 }
            val l = tok(2 * t + 1) - tok(2 * t)
            System.arraycopy(b, tok(2 * t), sc, p, l)
            p += l
            t += 1
          }
          Hash128.hashBytesRange(sc, 0, p, 0x77)
        }
      var k = 0
      while (k < numHashes) {
        val v = h.h1 + k.toLong * h.h2 // H.derived(k)
        if (v < sig(k)) sig(k) = v
        k += 1
      }
    }

    if (nt < shingleN) hashShingle(0, nt)
    else {
      var i = 0
      while (i <= nt - shingleN) { hashShingle(i, shingleN); i += 1 }
    }
    sig
  }

  /** Band hashes of a signature — identical to the retired band UDF:
    * `h = P; h = h*31 + sig(b*rows + r)` per band. */
  def bandHashes(sig: ArrayData, numBands: Int, rows: Int): Array[Long] = {
    val out = new Array[Long](numBands)
    var bnd = 0
    while (bnd < numBands) {
      var h = 1125899906842597L
      var r = 0
      while (r < rows) { h = h * 31 + sig.getLong(bnd * rows + r); r += 1 }
      out(bnd) = h
      bnd += 1
    }
    out
  }

  /** 64-bit SimHash — byte-identical to [[TextFunctions.simhash]],
    * including its `split(' ')` semantics (interior/leading EMPTY
    * tokens are hashed, trailing empties dropped). */
  def simhash64(u: UTF8String): Long = {
    if (u == null || u.numBytes() == 0) return 0L
    val b = u.getBytes
    val counts = new Array[Int](64)
    // segments between space bytes; Java's split(' ') drops trailing
    // empty segments, so scan back past trailing spaces first
    var end = b.length
    while (end > 0 && b(end - 1) == ' ') end -= 1
    if (end == 0) return 0L // all-space text: split(' ') yields no tokens
    var start = 0
    var i = 0
    while (i <= end) {
      if (i == end || b(i) == ' ') {
        val h = Hash128.hashBytesRange(b, start, i - start, 0x51).h1
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
          bit += 1
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (counts(bit) > 0) out |= 1L << bit; bit += 1 }
    out
  }
}

/** MinHash signature: text -> array<long> of `numHashes` shingle-minima
  * (null text -> the all-MaxValue signature). */
case class MinhashSig(numHashes: Int, shingleN: Int) extends ScalarKind {
  def name: String = "graft_minhash_sig"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def onNullKey: Any = sigOf(null)
  def apply(in: Array[Any]): Any = sigOf(in(0).asInstanceOf[UTF8String])
  private def sigOf(u: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(TextSig.minhashSig(u, numHashes, shingleN))
}

object MinhashSigExpr {
  def column(text: Column, numHashes: Int, shingleN: Int): Column =
    SketchFn.column(MinhashSig(numHashes, shingleN), text)
}

/** LSH band hashes over a MinHash signature: array<long> ->
  * array<long> of `numBands` rolling-31 hashes. */
case class MinhashBands(numBands: Int, rows: Int) extends ScalarKind {
  def name: String = "graft_minhash_bands"
  def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def apply(in: Array[Any]): Any = {
    val sig = in(0).asInstanceOf[ArrayData]
    require(sig.numElements() >= numBands * rows,
      s"signature of ${sig.numElements()} elements, $numBands bands of $rows rows need ${numBands * rows}")
    UnsafeArrayData.fromPrimitiveArray(TextSig.bandHashes(sig, numBands, rows))
  }
}

object MinhashBandsExpr {
  def column(sig: Column, numBands: Int, rows: Int): Column =
    SketchFn.column(MinhashBands(numBands, rows), sig)
}

/** Estimated Jaccard from two MinHash signatures: fraction of equal
  * positions — [[TextFunctions.minhashJaccard]] without the two
  * Seq[Long] boxing conversions per candidate pair. */
case class MinhashJaccard() extends ScalarKind {
  def name: String = "graft_minhash_jaccard"
  def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  def dataType: DataType = DoubleType
  def apply(in: Array[Any]): Any = {
    val a = in(0).asInstanceOf[ArrayData]
    val b = in(1).asInstanceOf[ArrayData]
    val n = a.numElements()
    require(n == b.numElements(), s"signatures of different lengths: $n and ${b.numElements()}")
    var same = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) same += 1; i += 1 }
    same.toDouble / n
  }
}

object MinhashJaccardExpr {
  def column(a: Column, b: Column): Column = SketchFn.column(MinhashJaccard(), a, b)
}

/** `simhash64(text)`: 64-bit SimHash (null text -> 0). */
case class Simhash64() extends ScalarKind {
  def name: String = "simhash64"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = LongType
  override def onNullKey: Any = 0L
  def apply(in: Array[Any]): Any = TextSig.simhash64(in(0).asInstanceOf[UTF8String])
}

object SimhashExpr {
  def column(text: Column): Column = SketchFn.column(Simhash64(), text)
}

/** `winnow_fingerprints(text, k, w)`: the distinct window-min md5 gram
  * hashes of a text (null text -> empty). The md5 construction IS the
  * output contract (the DuckDB oracle recomputes it), so this wraps the
  * [[TextFunctions.winnowFingerprints]] kernel unchanged and wraps each
  * fingerprint as a `UTF8String` directly. */
case class WinnowFingerprints() extends ScalarKind {
  def name: String = "winnow_fingerprints"
  def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, IntegerType)
  def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def onNullKey: Any = new GenericArrayData(Array.empty[Any])
  def apply(in: Array[Any]): Any = {
    val fps = TextFunctions.winnowFingerprints(
      in(0).toString, in(1).asInstanceOf[Int], in(2).asInstanceOf[Int])
    val out = new Array[Any](fps.length)
    var i = 0
    while (i < fps.length) { out(i) = UTF8String.fromString(fps(i)); i += 1 }
    new GenericArrayData(out)
  }
}

object WinnowFpExpr {
  def column(text: Column, k: Int, w: Int): Column =
    SketchFn.column(WinnowFingerprints(), text, lit(k), lit(w))
}

/** `name(text)` over a [[TextFunctions]] kernel of the decoded text; a
  * null text answers the kernel's own answer for null. */
abstract class TextKind(val name: String, val dataType: DataType) extends ScalarKind {
  def inputTypes: Seq[DataType] = Seq(StringType)
  def of(text: String): Any
  override def onNullKey: Any = of(null)
  final def apply(in: Array[Any]): Any = of(in(0).toString)
}

case class LangId() extends TextKind("lang_id", StringType) {
  def of(text: String): Any = UTF8String.fromString(TextFunctions.langId(text))
}

case class QualityScore() extends TextKind("quality_score", DoubleType) {
  def of(text: String): Any = TextFunctions.qualityScore(text)
}

case class TokenCount() extends TextKind("token_count", IntegerType) {
  def of(text: String): Any = TextFunctions.tokenCount(text)
}

case class BpeTokenCount() extends TextKind("bpe_token_count", IntegerType) {
  def of(text: String): Any = TextFunctions.bpeishTokenCount(text)
}

case class DocFingerprint() extends TextKind("doc_fingerprint", LongType) {
  def of(text: String): Any = TextFunctions.fingerprint(text)
}

/** `top_ngram_count(text, n)` (null text -> 0). */
case class TopNgramCount() extends ScalarKind {
  def name: String = "top_ngram_count"
  def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  def dataType: DataType = IntegerType
  override def onNullKey: Any = 0
  def apply(in: Array[Any]): Any =
    TextFunctions.topNgramCount(in(0).toString, in(1).asInstanceOf[Int])
}

/** `extract_text(html)`: the visible text of UTF-8 html bytes. */
case class ExtractText() extends ScalarKind {
  def name: String = "extract_text"
  def inputTypes: Seq[DataType] = Seq(BinaryType)
  def dataType: DataType = StringType
  def apply(in: Array[Any]): Any =
    UTF8String.fromString(TextFunctions.extractText(in(0).asInstanceOf[Array[Byte]]))
}

/** `hamming64(a, b)`: the bits two 64-bit hashes differ in. */
case class Hamming64() extends ScalarKind {
  def name: String = "hamming64"
  def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  def dataType: DataType = IntegerType
  def apply(in: Array[Any]): Any =
    java.lang.Long.bitCount(in(0).asInstanceOf[Long] ^ in(1).asInstanceOf[Long])
}

object TextKinds {
  /** The SQL text and web functions: 10 kinds. */
  val registered: Seq[ScalarKind] = Seq(WinnowFingerprints(), ExtractText(), LangId(),
    QualityScore(), TokenCount(), BpeTokenCount(), DocFingerprint(), TopNgramCount(),
    Simhash64(), Hamming64())
}
