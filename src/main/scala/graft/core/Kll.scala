package graft.core

import scala.collection.mutable.ArrayBuffer

/** Growable primitive double buffer: `ArrayBuffer[Double]` boxes every
  * element (one heap object per inserted value) — at millions of
  * sketch-updates per second the boxing dominated the allocator. */
private[core] final class DBuf(initCap: Int) extends Serializable {
  private[core] var a: Array[Double] = new Array[Double](initCap)
  private[core] var size: Int = 0
  @inline def apply(i: Int): Double = a(i)
  @inline def add(v: Double): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, math.max(8, a.length * 2))
    a(size) = v
    size += 1
  }
  def addAll(o: DBuf): Unit = {
    if (size + o.size > a.length)
      a = java.util.Arrays.copyOf(a, math.max(size + o.size, a.length * 2))
    System.arraycopy(o.a, 0, a, size, o.size)
    size += o.size
  }
  def clear(): Unit = size = 0
  def sortedCopy: Array[Double] = {
    val c = java.util.Arrays.copyOf(a, size)
    java.util.Arrays.sort(c)
    c
  }
}

/** KLL quantiles sketch over doubles, implemented from the published
  * algorithm (Karnin, Lang, Liberty 2016). A hierarchy of compactors:
  * level i holds items of weight 2^i; when the sketch exceeds its
  * capacity budget the lowest over-capacity level is sorted and every
  * other item is promoted to the next level.
  *
  * Deliberate deviation from the paper, documented per SURVEY.md §5:
  * the compaction offset is a deterministic per-level alternating bit
  * instead of a random coin, so a given insert order always produces
  * the same sketch (reproducible runs). The randomized coin only
  * improves constants; the rank-error bound is validated empirically
  * against the DataSketches KLL oracle in the test suite with margin.
  *
  * Merge appends the other sketch's compactors level-wise and
  * re-compacts. Estimates after merge stay within the error bound for
  * arbitrary merge orderings (validated by property tests); serialized
  * bytes are NOT guaranteed order-invariant (compaction history
  * differs) — unlike EBF/HLL/CMS, and exactly as with the reference
  * DataSketches implementation.
  */
final class Kll(val k: Int) extends BytesSerde {
  require(k >= 8 && k <= 65535, s"k must be in [8,65535], got $k")

  private[core] var levels: ArrayBuffer[DBuf] = ArrayBuffer(new DBuf(16))
  var n: Long = 0L
  var minV: Double = Double.NaN
  var maxV: Double = Double.NaN
  private[core] var flips: Long = 0L   // per-level alternating compaction offset bits
  private var numItems: Int = 0

  private def capacity(level: Int, numLevels: Int): Int = {
    // k * (2/3)^(numLevels - 1 - level), floored at 8
    val c = k * math.pow(2.0 / 3.0, (numLevels - 1 - level).toDouble)
    math.max(8, math.ceil(c).toInt)
  }

  private def budget: Int = {
    var s = 0
    var l = 0
    while (l < levels.length) { s += capacity(l, levels.length); l += 1 }
    s
  }

  def add(v: Double): Unit = {
    if (java.lang.Double.isNaN(v)) return
    levels(0).add(v)
    numItems += 1
    n += 1
    if (n == 1L) { minV = v; maxV = v }
    else {
      if (v < minV) minV = v
      if (v > maxV) maxV = v
    }
    if (numItems > budget) compressOnce()
  }

  /** Sort + promote every other item from the lowest over-capacity level. */
  private def compressOnce(): Unit = {
    val numLevels = levels.length
    var l = 0
    var target = -1
    while (l < numLevels && target < 0) {
      if (levels(l).size >= capacity(l, numLevels)) target = l
      l += 1
    }
    if (target < 0) target = 0 // shouldn't happen; compact level 0 defensively
    val buf = levels(target)
    if (buf.size < 2) return
    val arr = buf.sortedCopy
    val odd = arr.length % 2 == 1
    val offset = ((flips >>> target) & 1L).toInt
    flips ^= 1L << target
    if (levels.length == target + 1) levels += new DBuf(8)
    val next = levels(target + 1)
    buf.clear()
    // if odd, retain one item at this level so total weight is conserved:
    // keep arr(0) or arr(last) alternating with the offset bit to avoid
    // a systematic extreme-value bias.
    var start = 0
    var end = arr.length
    if (odd) {
      if (offset == 0) { buf.add(arr(0)); start = 1 }
      else { buf.add(arr(end - 1)); end -= 1 }
    }
    var i = start + offset
    var promoted = 0
    while (i < end) {
      next.add(arr(i))
      promoted += 1
      i += 2
    }
    // items at this level dropped: (end - start) - promoted
    numItems = numItems - ((end - start) - promoted)
  }

  private def compressWhileNeeded(): Unit = {
    var guard = 0
    while (numItems > budget && guard < 64) { compressOnce(); guard += 1 }
  }

  def merge(other: Kll): Kll = {
    require(k == other.k, "cannot merge KLLs with different k")
    if (other.n == 0) return this
    while (levels.length < other.levels.length) levels += new DBuf(8)
    var l = 0
    while (l < other.levels.length) {
      levels(l).addAll(other.levels(l))
      numItems += other.levels(l).size
      l += 1
    }
    if (n == 0L) { minV = other.minV; maxV = other.maxV }
    else if (other.n > 0L) {
      if (other.minV < minV) minV = other.minV
      if (other.maxV > maxV) maxV = other.maxV
    }
    n += other.n
    compressWhileNeeded()
    this
  }

  /** Estimated rank (fraction of items <= v), in [0,1]. */
  def rank(v: Double): Double = {
    if (n == 0L) return Double.NaN
    var weightBelow = 0L
    var l = 0
    while (l < levels.length) {
      val buf = levels(l)
      val w = 1L << l
      var i = 0
      while (i < buf.size) {
        if (buf(i) <= v) weightBelow += w
        i += 1
      }
      l += 1
    }
    weightBelow.toDouble / n
  }

  /** Estimated quantile: smallest retained item with cumulative weight >= q*n. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0,1], got $q")
    if (n == 0L) return Double.NaN
    if (q == 0.0) return minV
    if (q == 1.0) return maxV
    // gather (item, weight)
    var total = 0
    var l = 0
    while (l < levels.length) { total += levels(l).size; l += 1 }
    val items = new Array[Double](total)
    val weights = new Array[Long](total)
    var idx = 0
    l = 0
    while (l < levels.length) {
      val buf = levels(l)
      val w = 1L << l
      var i = 0
      while (i < buf.size) { items(idx) = buf(i); weights(idx) = w; idx += 1; i += 1 }
      l += 1
    }
    // sort by item (indirect)
    val order = (0 until total).sortBy(items)
    val targetW = q * n
    var cum = 0.0
    var j = 0
    while (j < total) {
      cum += weights(order(j))
      if (cum >= targetW) return items(order(j))
      j += 1
    }
    maxV
  }

  /** Normalized rank error bound used in tests: the published
    * single-rank epsilon for KLL, eps ~= 1.969 / k^0.9433 (the constant
    * the DataSketches KLL implementation uses for getNormalizedRankError
    * with pmf=false; k=200 -> ~1.33%). */
  def normalizedRankError: Double = 1.969 / math.pow(k.toDouble, 0.9433)

  def toBytes: Array[Byte] = {
    var total = 0
    var l = 0
    while (l < levels.length) { total += levels(l).size; l += 1 }
    val out = new WireWriter(4 + 4 + 8 + 8 + 8 + 8 + 4 + 4 * levels.length + 8 * total)
      .int(Kll.MAGIC).int(k).long(n).double(minV).double(maxV).long(flips).int(levels.length)
    l = 0
    while (l < levels.length) {
      val lv = levels(l)
      out.int(lv.size)
      // canonical per-state form: sorted within level (multiset semantics)
      val arr = lv.sortedCopy
      var i = 0
      while (i < arr.length) { out.double(arr(i)); i += 1 }
      l += 1
    }
    out.toBytes
  }
}

object Kll {
  val MAGIC: Int = 0x4b4c4c31 // "KLL1"
  val DefaultK = 200          // normalized rank error ~= 1.55%

  def empty(k: Int = DefaultK): Kll = new Kll(k)

  def fromBytes(bytes: Array[Byte]): Kll = {
    val in = WireReader(bytes, "KLL1", MAGIC)
    val s = in.construct(new Kll(in.int("k")))
    s.n = in.long("n")
    s.minV = in.double("minV")
    s.maxV = in.double("maxV")
    s.flips = in.long("flips")
    // level l holds items of weight 2^l, and n is a Long
    val numLevels = in.count("levels", in.int("levels"), 4)
    in.check(numLevels >= 1 && numLevels <= 64 && s.n >= 0, "levels", s"$numLevels levels for n = ${s.n}")
    s.levels = ArrayBuffer.fill(numLevels)(new DBuf(8))
    var l = 0
    while (l < numLevels) {
      val c = in.count("items", in.int("items"), 8)
      var i = 0
      while (i < c) { s.levels(l).add(in.double("items")); i += 1 }
      s.numItems += c
      l += 1
    }
    in.finish()
    s
  }
}
