package graft.core

/** HyperLogLog cardinality sketch, implemented from the published
  * algorithm (Flajolet et al. 2007; small-range linear-counting
  * correction per the HLL++ paper, Heule et al. 2013).
  *
  * In-memory representation is ADAPTIVE, HLL++-style (the in-memory
  * twin of the v2 sparse wire format): a sketch starts as a small
  * open-addressed (idx, rho) table and promotes to the dense 2^p byte
  * register array once it holds more than 2^p / 8 distinct registers
  * (at 4 bytes per sparse slot at load <= 1/2, sparse memory never
  * exceeds the dense array it replaces). Why: partial aggregation over
  * 10^7-10^8 (lang, host) groups holds one buffer per group per task,
  * and the Zipf tail means most of those groups have single-digit NDV —
  * a fixed 4 KiB dense block per tiny group is what pushes an
  * ObjectHashAggregate past its in-memory group budget into sort-based
  * fallback. A 10-url host now costs ~100 heap bytes instead of 4 KiB
  * (p=12), ~40x, while hot groups promote once and pay the old O(1)
  * dense insert.
  *
  * The WIRE format is unchanged (sorted (idx, rho) list when
  * 4 + 4k < 2^p, dense otherwise — a pure function of register
  * content), so sparse- and dense-memory sketches with equal registers
  * serialize identically and the byte-identity-under-arbitrary-merge-
  * orderings guarantee is untouched (property-asserted across forced
  * and organic promotion in HllSparseMemSpec).
  *
  * Merge = register-wise max: associative, commutative, idempotent.
  * Standard error sigma = 1.04 / sqrt(2^p); p = 12 (4 KiB dense) gives
  * ~1.6%.
  */
final class Hll(val p: Int, val seed: Long) extends BytesSerde {
  require(p >= 4 && p <= 18, s"p must be in [4,18], got $p")

  @inline def m: Int = 1 << p

  // dense registers, or null while the sketch is in sparse mode
  private[core] var regs: Array[Byte] = _
  // sparse mode: open-addressed table of packed (idx << 7) | rho ints
  // (rho <= 61 fits 7 bits; a zero slot is empty since rho >= 1),
  // linear probing, grown x2 at load 1/2; null once dense
  private var tab: Array[Int] = new Array[Int](Hll.SparseInitSlots)
  private var tabCount: Int = 0

  @inline private def denseThreshold: Int = m >>> 3

  /** Move every sparse entry into a fresh dense register array. */
  private def promote(): Unit = {
    regs = new Array[Byte](m)
    val t = tab
    if (t != null) {
      var i = 0
      while (i < t.length) {
        val e = t(i)
        if (e != 0) {
          val idx = e >>> 7
          val rho = (e & 0x7f).toByte
          if (rho > regs(idx)) regs(idx) = rho
        }
        i += 1
      }
    }
    tab = null
    tabCount = 0
  }

  /** Sparse-mode register update: keep the max rho for idx. */
  private def sparseUpd(idx: Int, rho: Int): Unit = {
    val t = tab
    val mask = t.length - 1
    // scramble: sequential idx values must not cluster into one run
    var slot = (idx * 0x9e3779b1) >>> (32 - java.lang.Integer.numberOfTrailingZeros(t.length)) & mask
    while (true) {
      val e = t(slot)
      if (e == 0) {
        t(slot) = (idx << 7) | rho
        tabCount += 1
        if (tabCount > denseThreshold) promote()
        else if (tabCount * 2 > t.length) growTab()
        return
      } else if ((e >>> 7) == idx) {
        if (rho > (e & 0x7f)) t(slot) = (idx << 7) | rho
        return
      }
      slot = (slot + 1) & mask
    }
  }

  private def growTab(): Unit = {
    val old = tab
    tab = new Array[Int](old.length * 2)
    tabCount = 0
    var i = 0
    while (i < old.length) {
      val e = old(i)
      if (e != 0) sparseUpd(e >>> 7, e & 0x7f)
      i += 1
    }
  }

  @inline def addHash(h: Long): Unit = {
    val idx = (h >>> (64 - p)).toInt
    val w = h << p
    // rho = leading zeros of remaining (64-p) bits + 1; w==0 -> 64-p+1
    val rho = (if (w == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (regs != null) {
      if (rho > regs(idx)) regs(idx) = rho.toByte
    } else sparseUpd(idx, rho)
  }

  def add(key: String): Unit = addHash(Hash128.hash64(key, seed))
  def add(key: Long): Unit = addHash(Hash128.hash64(key, seed))
  def add(key: Array[Byte]): Unit = addHash(Hash128.hashBytes(key, seed).h1)

  /** Visit every non-zero register (arbitrary order in sparse mode). */
  @inline private def foreachNonZero(f: (Int, Int) => Unit): Unit =
    if (regs != null) {
      var i = 0
      while (i < m) { if (regs(i) != 0) f(i, regs(i) & 0xff); i += 1 }
    } else {
      var i = 0
      while (i < tab.length) {
        val e = tab(i)
        if (e != 0) f(e >>> 7, e & 0x7f)
        i += 1
      }
    }

  /** Count of non-zero registers (exact in both modes). */
  private def nonZeroCount: Int = {
    if (regs == null) tabCount
    else {
      var k = 0
      var i = 0
      while (i < m) { if (regs(i) != 0) k += 1; i += 1 }
      k
    }
  }

  def merge(other: Hll): Hll = {
    require(p == other.p && seed == other.seed, "cannot merge HLLs with different parameters")
    if (other eq this) return this // self-merge is the identity (max is idempotent)
    if (regs == null && other.regs != null) promote()
    // re-check the mode PER ENTRY: inserting the other side's registers
    // can cross the promotion threshold mid-loop, after which tab is
    // null and further sparseUpd calls would NPE
    other.foreachNonZero { (idx, rho) =>
      if (regs != null) { if (rho > (regs(idx) & 0xff)) regs(idx) = rho.toByte }
      else sparseUpd(idx, rho)
    }
    this
  }

  def estimate: Long = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    var sum = 0.0
    var nz = 0
    foreachNonZero { (_, r) =>
      sum += java.lang.Double.longBitsToDouble((1023L - r) << 52) // 2^-r
      nz += 1
    }
    val zeros = m - nz
    sum += zeros.toDouble // each zero register contributes 2^-0 = 1
    val e = alpha * m * m / sum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // linear counting
      else e
    math.round(corrected)
  }

  /** Relative standard error of the estimator. */
  def standardError: Double = 1.04 / math.sqrt(m.toDouble)

  def toBytes: Array[Byte] = {
    val k = nonZeroCount
    // canonical representation rule — a pure function of register
    // content (NOT of the in-memory mode), so any merge order and any
    // sparse/dense promotion history yields identical bytes
    val sparse = 4 + 4 * k < m
    val out = new WireWriter(4 + 4 + 8 + 1 + (if (sparse) 4 + 4 * k else m))
      .int(Hll.MAGIC).int(p).long(seed).byte(if (sparse) 1 else 0)
    // sparse entries: 3-byte register index, 1-byte rho, index-ascending
    def entry(idx: Int, rho: Int): Unit =
      out.byte(idx >>> 16).byte(idx >>> 8).byte(idx).byte(rho)
    if (sparse) {
      out.int(k)
      if (regs != null) {
        var i = 0
        while (i < m) { if (regs(i) != 0) entry(i, regs(i)); i += 1 }
      } else {
        // sparse memory is unordered: sort packed entries — idx is in
        // the high bits, so numeric order IS index order
        val packed = new Array[Int](k)
        var n = 0
        var i = 0
        while (i < tab.length) {
          if (tab(i) != 0) { packed(n) = tab(i); n += 1 }
          i += 1
        }
        java.util.Arrays.sort(packed)
        i = 0
        while (i < k) { entry(packed(i) >>> 7, packed(i) & 0x7f); i += 1 }
      }
    } else {
      if (regs == null) promote() // cannot happen (k <= m/8 implies sparse wire) — safety
      out.bytes(regs)
    }
    out.toBytes
  }

  /** Test hook: force dense-memory mode regardless of fill. */
  private[graft] def forceDense(): Unit = if (regs == null) promote()
  /** Test hook: true while in sparse-memory mode. */
  private[graft] def isSparse: Boolean = regs == null
}

object Hll {
  val MAGIC: Int = 0x484c4c32 // "HLL2" — v2 wire format (mode byte +
  // optional sparse register list); v1 bytes fail the magic check
  // loudly instead of being misparsed
  val DefaultP = 12
  val DefaultSeed = 42L
  private[core] val SparseInitSlots = 16

  def empty(p: Int = DefaultP, seed: Long = DefaultSeed): Hll = new Hll(p, seed)

  /** Decodes [[Hll.toBytes]]; a sparse list small enough to stay below
    * the promotion threshold stays sparse in memory. */
  def fromBytes(bytes: Array[Byte]): Hll = {
    val in = WireReader(bytes, "HLL2", MAGIC)
    val p = in.int("p"); val seed = in.long("seed")
    val h = in.construct(new Hll(p, seed))
    in.byte("mode") match {
      case 1 =>
        val k = in.count("entries", in.int("entries"), 4)
        if (k > h.denseThreshold) h.promote()
        else {
          var cap = SparseInitSlots // capacity for load < 1/2
          while (cap < 2 * k + 2) cap <<= 1
          h.tab = new Array[Int](cap)
        }
        var e = 0
        while (e < k) {
          val idx = (in.byte("entries") << 16) | (in.byte("entries") << 8) | in.byte("entries")
          val rho = in.byte("entries")
          if (idx >= h.m || rho < 1 || rho > 65 - p) in.fail("entries", s"bad register $idx = $rho")
          if (h.regs != null) h.regs(idx) = rho.toByte else h.sparseUpd(idx, rho)
          e += 1
        }
      case 0 =>
        h.promote()
        h.regs = in.bytes("registers", h.m)
      case mode => in.fail("mode", s"bad mode $mode")
    }
    in.finish()
    h
  }
}
