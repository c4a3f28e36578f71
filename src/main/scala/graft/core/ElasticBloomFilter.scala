package graft.core

/** Elastic Bloom Filter — a dynamically resizable Bloom filter with
  * bucket-level expansion/compression and fingerprint-preserving rehash,
  * re-implemented from scratch from the published Elastic Bloom Filter
  * design (Tong Yang's group, PKU) as specified by the project's north
  * rule. NOT a port: the reference is a single-node in-memory structure;
  * this implementation is designed as an associative, commutative merge
  * monoid so it can serve as a distributed Spark aggregation buffer.
  *
  * == Structure ==
  * `m = m0 * 2^level` buckets. Each of a key's `k` derived hashes gives
  * it one *address*: the hash's low `log2(m0) + l0` bits. At `level` L
  * the bucket is the address's low `log2(m0) + L` bits and the stored
  * fingerprint is the rest, `addr >>> (log2(m0) + L)`. In the paper's
  * terms, with `b0` the low `log2(m0)` bits and `fp` the `l0` above
  * them, that is bucket `b0 + (fp & (2^L - 1)) * m0` and fingerprint
  * `fp >>> L`: expansion moves a fingerprint's low bit into the bucket
  * index ("fingerprint-preserving rehash") and compression moves it
  * back. A bucket is "set" iff it holds >= 1 fingerprint, so expansion
  * clears bits in child buckets that receive no fingerprints and the
  * false-positive rate drops after growth.
  *
  * == Normal form (the distributed-merge theorem) ==
  * After every insert/merge the filter expands while `n > alpha * m`
  * (and `level < maxLevel`). The stored addresses do not depend on the
  * level, so the state at level L is a pure function of the inserted
  * key multiset — `expand(union(A,B)) == union(expand(A), expand(B))`
  * — hence merge is associative and commutative and the serialized
  * bytes are identical under arbitrary partition merge orderings.
  *
  * == Physical layout (GC-aware, learned from the 1M-row bench) ==
  * The addresses live in ONE flat `Array[Long]`, plus one per-bucket
  * count array at the current level — O(1) heap objects per filter.
  * The previous per-bucket `Array[Array[Int]]` layout allocated
  * millions of small arrays; at 32 aggregation threads G1 degraded
  * progressively (humongous-region fragmentation: identical runs went
  * 3.7s -> 16.9s within one JVM). Changing level rewrites no address:
  * expansion and compression only recount the buckets, and a merge
  * appends the other filter's addresses whatever its level. The
  * canonical order (bucket asc, fp asc) is that of the packed key
  * `(bucket << fpWidth) | fp`, the address with its two parts swapped,
  * so an LSD radix sort over its `log2(m0) + l0` bits produces it.
  *
  * == Deviations from the paper (documented deliberately) ==
  *  - Buckets hold exact unbounded fingerprint multisets (the paper
  *    bounds per-bucket capacity); exactness is what makes distributed
  *    merge lossless.
  *  - Expansion triggers on global load `n/m > alpha` rather than
  *    per-bucket overflow, so the trigger is content-determined (a
  *    requirement for merge associativity, which the single-node paper
  *    does not need).
  *  - `delete` is supported but is NOT merge-safe across partitions
  *    (deleting in partition B a key inserted in partition A would
  *    violate multiset semantics); distributed aggregation is
  *    insert-only and delete is a post-merge local operation. With the
  *    flat layout a delete is an O(pairs) scan — fine for its intended
  *    occasional-correction role.
  *
  * Query checks the k bucket bits only (standard Bloom semantics):
  * no false negatives, one-sided error with
  * FPR <= (1 - e^(-k*n/m))^k at the current load.
  */
final class Ebf(
    val m0: Int,          // base bucket count, power of two
    val k: Int,           // number of derived hash functions
    val l0: Int,          // initial fingerprint width in bits (max expansions)
    val alphaNum: Int,    // load threshold alpha = alphaNum / alphaDen
    val alphaDen: Int,
    val seed: Long
) extends BytesSerde {
  require(m0 > 0 && m0 <= (1 << 30) && Integer.bitCount(m0) == 1,
    s"m0 must be a power of two in [1,2^30], got $m0")
  require(l0 >= 0 && l0 <= 30, s"l0 must be in [0,30], got $l0")
  require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
  require(alphaNum >= 1 && alphaDen >= 1, s"alpha must be positive, got $alphaNum/$alphaDen")

  @inline private def log2m0: Int = Integer.numberOfTrailingZeros(m0)

  /** Highest reachable level: fingerprint bits and int bucket indexes
    * both cap it (numBuckets must stay <= 2^30). */
  @inline def maxLevel: Int = math.min(l0, 30 - log2m0)

  var level: Int = 0
  var n: Long = 0L                        // total inserted keys (multiset size)
  // flat addresses (see Structure), unsorted; counts(b) = #fps in bucket b
  private[core] var pairs: Array[Long] = new Array[Long](64)
  private[core] var numPairs: Int = 0
  private[core] var counts: Array[Int] = new Array[Int](m0)

  @inline def numBuckets: Int = m0 << level
  @inline def fpWidth: Int = l0 - level

  /** The address of `h`'s `i`-th derived hash. */
  @inline private def address(h: Hash128.H, i: Int): Long =
    h.derived(i) & ((1L << (log2m0 + l0)) - 1)

  @inline private def bucket(addr: Long): Int = (addr & (numBuckets - 1)).toInt

  @inline private def appendPair(p: Long): Unit = {
    if (numPairs == pairs.length) {
      val grown = new Array[Long](pairs.length * 2)
      System.arraycopy(pairs, 0, grown, 0, numPairs)
      pairs = grown
    }
    pairs(numPairs) = p
    numPairs += 1
  }

  def insertHash(h: Hash128.H): Unit = {
    var i = 0
    while (i < k) {
      val a = address(h, i)
      appendPair(a)
      counts(bucket(a)) += 1
      i += 1
    }
    n += 1
    normalize()
  }

  def insert(key: String): Unit = insertHash(Hash128.hashString(key, seed))
  def insert(key: Array[Byte]): Unit = insertHash(Hash128.hashBytes(key, seed))
  def insert(key: Long): Unit = insertHash(Hash128.hashLong(key, seed))

  def mightContainHash(h: Hash128.H): Boolean = {
    var i = 0
    while (i < k) {
      if (counts(bucket(h.derived(i))) == 0) return false
      i += 1
    }
    true
  }

  def mightContain(key: String): Boolean = mightContainHash(Hash128.hashString(key, seed))
  def mightContain(key: Array[Byte]): Boolean = mightContainHash(Hash128.hashBytes(key, seed))
  def mightContain(key: Long): Boolean = mightContainHash(Hash128.hashLong(key, seed))

  /** Expand to the load threshold's target level — the
    * content-determined normal form that makes merge associative. */
  private def normalize(): Unit = {
    val target = levelFor(n, level)
    if (target > level) relevel(target)
  }

  /** The normal-form level of `keys` keys, starting from `from`. */
  private def levelFor(keys: Long, from: Int): Int = {
    var target = from
    while (target < maxLevel && keys * alphaDen > alphaNum.toLong * (m0.toLong << target)) target += 1
    target
  }

  /** Double the bucket array: each fingerprint's low bit joins its bucket. */
  def expand(): Unit = expandTo(level + 1)

  /** Expand to level `target` in one recount of the buckets. */
  def expandTo(target: Int): Unit = {
    require(target > level, s"target $target must exceed level $level")
    require(target <= maxLevel,
      s"cannot expand past level $maxLevel (fingerprint or address space exhausted)")
    relevel(target)
  }

  /** Halve the bucket array: each bucket's top bit returns to its
    * fingerprints. Exact inverse of [[expand]]. */
  def compress(): Unit = {
    require(level > 0, "cannot compress below level 0")
    relevel(level - 1)
  }

  /** Move to level `target`: the addresses stay, the buckets are recounted. */
  private def relevel(target: Int): Unit = {
    level = target
    counts = new Array[Int](numBuckets)
    count(0)
  }

  /** Count the addresses from index `from` on into their buckets. */
  private def count(from: Int): Unit = {
    var i = from
    while (i < numPairs) { counts(bucket(pairs(i))) += 1; i += 1 }
  }

  /** Remove one inserted key (O(pairs) scan; local post-merge use only —
    * NOT merge-safe across partitions). Returns false and leaves the
    * filter unchanged if the key's fingerprints are not all present. */
  def delete(key: String): Boolean = deleteHash(Hash128.hashString(key, seed))
  def delete(key: Long): Boolean = deleteHash(Hash128.hashLong(key, seed))

  /** Exact multiset delete: each of the key's `k` addresses takes its
    * own stored copy (two hash functions can give the same address), all
    * found in one scan before any is removed. */
  def deleteHash(h: Hash128.H): Boolean = {
    val want = new Array[Long](k) // -1 once matched: addresses are >= 0
    var i = 0
    while (i < k) { want(i) = address(h, i); i += 1 }
    val at = new Array[Int](k)    // matched indexes, ascending
    var found = 0
    var j = 0
    while (j < numPairs && found < k) {
      val p = pairs(j)
      var t = 0
      while (t < k && want(t) != p) t += 1
      if (t < k) { want(t) = -1L; at(found) = j; found += 1 }
      j += 1
    }
    if (found < k) return false
    // back-fill from the highest index so no move disturbs a lower one
    while (found > 0) {
      found -= 1
      counts(bucket(pairs(at(found)))) -= 1
      numPairs -= 1
      pairs(at(found)) = pairs(numPairs)
    }
    n -= 1
    true
  }

  /** In-place merge: re-level this filter once to the normal-form level
    * of the combined key count, then append `other`'s addresses, which
    * hold at any level, and count them. `other` is only read, so it may
    * be an instance other threads share; `a.merge(a)` doubles the
    * multiset. Associative and commutative (see class doc). */
  def merge(other: Ebf): Ebf = {
    require(m0 == other.m0 && k == other.k && l0 == other.l0 &&
      alphaNum == other.alphaNum && alphaDen == other.alphaDen && seed == other.seed,
      "cannot merge EBFs with different parameters")
    val total = n + other.n
    val target = levelFor(total, math.max(level, other.level))
    if (target > level) relevel(target)
    val from = numPairs
    val add = other.numPairs
    if (from + add > pairs.length)
      pairs = java.util.Arrays.copyOf(pairs, math.max(pairs.length * 2, from + add))
    // read after the copy, which replaces `other.pairs` too when it is `this`
    System.arraycopy(other.pairs, 0, pairs, from, add)
    numPairs = from + add
    count(from)
    n = total
    this
  }

  def bitsSet: Int = {
    var s = 0
    var i = 0
    while (i < numBuckets) { if (counts(i) > 0) s += 1; i += 1 }
    s
  }

  /** One-sided FPR bound at the current load: (1 - e^(-k n / m))^k. */
  def fprBound: Double =
    math.pow(1.0 - math.exp(-k.toDouble * n / numBuckets), k.toDouble)

  /** Canonical serialization in O(pairs), read-only (decoded instances
    * are shared across threads): the packed keys radix-sorted into
    * (bucket asc, fp asc), the counts section planned from their runs
    * over the occupied buckets only, then the fingerprints bit-packed at
    * the current width. Written into an exactly sized buffer.
    * Byte-identical for equal content. */
  def toBytes: Array[Byte] = {
    val c = canonical
    val w = fpWidth
    val out = new WireWriter(c.bytes)
      .int(Ebf.MAGIC).int(m0).int(k).int(l0).int(level).int(alphaNum).int(alphaDen)
      .long(seed).long(n)
      .cells(numBuckets, 0, signed = false, c.buckets, c.runs, c.occupied)
    if (w > 0) {
      val keys = c.keys
      val mask = (1L << w) - 1
      var acc = 0L
      var accBits = 0
      var i = 0
      while (i < numPairs) {
        acc |= (keys(i) & mask) << accBits
        accBits += w
        while (accBits >= 8) {
          out.byte((acc & 0xff).toInt)
          acc >>>= 8
          accBits -= 8
        }
        i += 1
      }
      if (accBits > 0) out.byte((acc & 0xff).toInt)
    }
    out.toBytes
  }

  /** [[toBytes]]`.length`, from the same plan. */
  def sizeBytes: Int = canonical.bytes

  /** The packed keys sorted, and the occupied buckets with their counts
    * read off the sorted runs. The counts section those feed is dense
    * varints, or a sparse (nnz, then index-delta/count pairs) list when
    * that is byte-cheaper: the web's long tail makes most per-host
    * filters nearly empty, where the dense form pays one byte per EMPTY
    * bucket (1 KiB at m0=1024) and sparse ~2 bytes per occupied one. */
  private def canonical: Ebf.Canonical = {
    val w = fpWidth
    val sorted = Ebf.sortedKeys(pairs, numPairs, log2m0 + level, log2m0 + l0)
    val bound = math.min(numPairs, numBuckets)
    val buckets = new Array[Int](bound)
    val runs = new Array[Int](bound)
    var occupied = 0
    var i = 0
    while (i < numPairs) {
      val b = (sorted(i) >>> w).toInt
      if (occupied == 0 || buckets(occupied - 1) != b) {
        buckets(occupied) = b
        occupied += 1
      }
      runs(occupied - 1) += 1
      i += 1
    }
    val bytes = Ebf.HeaderBytes +
      WireWriter.cellsSize(numBuckets, 0, signed = false, buckets, runs, occupied) +
      ((numPairs.toLong * w + 7) / 8).toInt
    new Ebf.Canonical(sorted, buckets, runs, occupied, bytes)
  }

  def copyOf: Ebf = Ebf.fromBytes(toBytes)
}

object Ebf {
  val MAGIC: Int = 0x45424632 // "EBF2" — v2 wire format (mode byte +
  // optional sparse counts section); v1 bytes fail the magic check
  // loudly instead of being misparsed

  // Defaults: ~10 buckets/key at threshold (alpha = 1/8), k = 5
  // => bound FPR (1 - e^(-5/8))^5 ~= 2.2e-2 worst-case right at the
  // threshold, dropping after each expansion. l0 = 16 allows 16
  // doublings (m0 * 65536 buckets).
  val DefaultM0 = 1024
  val DefaultK = 5
  val DefaultL0 = 16
  val DefaultAlphaNum = 1
  val DefaultAlphaDen = 8
  val DefaultSeed = 42L

  def empty(m0: Int = DefaultM0, k: Int = DefaultK, l0: Int = DefaultL0,
            alphaNum: Int = DefaultAlphaNum, alphaDen: Int = DefaultAlphaDen,
            seed: Long = DefaultSeed): Ebf =
    new Ebf(m0, k, l0, alphaNum, alphaDen, seed)

  private val HeaderBytes = 44

  /** A filter's canonical order: its packed keys sorted, and per
    * occupied bucket (ascending) its fingerprint count; `bytes` is the
    * length of its wire form. */
  private final class Canonical(val keys: Array[Long], val buckets: Array[Int], val runs: Array[Int],
                                val occupied: Int, val bytes: Int)

  /** Below this many keys the JDK sort beats the radix passes' fixed
    * cost of clearing and summing their digit histograms. */
  private val RadixMin = 512
  /** Widest radix digit: 2^11 histogram slots stay in L1. */
  private val RadixDigit = 11

  /** The first `len` of the `bits`-wide addresses as packed keys
    * `(bucket << w) | fp`, the address's low `b` bits (the bucket)
    * swapped above its `w = bits - b` high ones (the fingerprint), sorted
    * ascending into a fresh array: an LSD radix sort of
    * `ceil(bits / 11)` stable passes of equal width. Packing counts the
    * first digit, and each scatter counts the next one, so no pass reads
    * the keys only to count them. */
  private def sortedKeys(addrs: Array[Long], len: Int, b: Int, bits: Int): Array[Long] = {
    var src = new Array[Long](len)
    val w = bits - b
    val low = (1L << b) - 1
    val passes = (bits + RadixDigit - 1) / RadixDigit
    if (len < RadixMin || passes == 0) {
      var i = 0
      while (i < len) { val a = addrs(i); src(i) = ((a & low) << w) | (a >>> b); i += 1 }
      java.util.Arrays.sort(src)
      return src
    }
    val digit = (bits + passes - 1) / passes
    val mask = (1 << digit) - 1
    var hist = new Array[Int](mask + 1)
    var next = new Array[Int](mask + 1)
    var i = 0
    while (i < len) {
      val a = addrs(i)
      val key = ((a & low) << w) | (a >>> b)
      src(i) = key
      hist(key.toInt & mask) += 1
      i += 1
    }
    var dst = new Array[Long](len)
    var shift = 0
    while (shift < passes * digit) {
      // counts -> start offset of each digit value
      var sum = 0
      var d = 0
      while (d <= mask) { val c = hist(d); hist(d) = sum; sum += c; d += 1 }
      val nextShift = shift + digit
      val counting = nextShift < passes * digit
      java.util.Arrays.fill(next, 0)
      i = 0
      while (i < len) {
        val key = src(i)
        val at = (key >>> shift).toInt & mask
        dst(hist(at)) = key
        hist(at) += 1
        if (counting) next((key >>> nextShift).toInt & mask) += 1
        i += 1
      }
      val t = src; src = dst; dst = t
      val h = hist; hist = next; next = h
      shift = nextShift
    }
    src
  }

  /** Decodes [[Ebf.toBytes]] in one pass over the counts section, which
    * writes each bucket's index in place as its addresses' low bits, then
    * one local loop that puts each packed fingerprint above its bucket's
    * bits. The header goes through the constructor; the
    * body must then be exactly what that header implies: a level the
    * filter can reach, `k * n` stored fingerprints, and their packed
    * bytes to the end of the blob. The pair array is sized by the bytes
    * left, which bound the fingerprints of any nonzero width; at width 0
    * it grows only as the counts section claims pairs. The bucket array
    * is allocated once the whole body has checked out. */
  def fromBytes(bytes: Array[Byte]): Ebf = {
    val in = WireReader(bytes, "EBF2", MAGIC)
    val m0 = in.int("m0"); val k = in.int("k"); val l0 = in.int("l0"); val level = in.int("level")
    val alphaNum = in.int("alphaNum"); val alphaDen = in.int("alphaDen")
    val seed = in.long("seed"); val n = in.long("n")
    val e = in.construct(new Ebf(m0, k, l0, alphaNum, alphaDen, seed))
    in.check(level >= 0 && level <= e.maxLevel, "level", s"$level outside [0, ${e.maxLevel}]")
    in.check(n >= 0 && n <= Int.MaxValue / k, "n", s"$n keys exceed the pair capacity")
    val m = m0 << level
    val w = l0 - level
    val total = (n * k).toInt
    val fpLen = (total.toLong * w + 7) / 8
    in.check(fpLen < in.remaining, "fingerprints",
      s"${in.remaining} bytes left for the counts and $total fingerprints of $w bits")
    var pairs = new Array[Long](math.max(64L, math.min(total, 8L * in.remaining)).toInt)
    var stored = 0
    in.cells("counts", m, 0, signed = false)(_ => ()) { (b, c) =>
      if (c <= 0 || c > total - stored) in.fail("counts", s"bad count $c: over $total fingerprints for $n keys of $k")
      val end = stored + c.toInt
      if (end > pairs.length) pairs = java.util.Arrays.copyOf(pairs, math.min(total, math.max(2L * pairs.length, end)).toInt)
      while (stored < end) { pairs(stored) = b; stored += 1 }
    }
    in.check(stored == total, "counts", s"$stored fingerprints stored for $n keys of $k")
    in.check(in.remaining == fpLen, "fingerprints",
      s"${in.remaining} bytes for $total fingerprints of $w bits")
    val counts = new Array[Int](m)
    var at = in.skip("fingerprints", fpLen.toInt)
    val mask = (1L << w) - 1
    val shift = Integer.numberOfTrailingZeros(m)
    var acc = 0L
    var accBits = 0
    var i = 0
    while (i < total) {
      val b = pairs(i)
      if (w > 0) {
        while (accBits < w) {
          acc |= (bytes(at) & 0xffL) << accBits
          at += 1
          accBits += 8
        }
        pairs(i) = b | ((acc & mask) << shift)
        acc >>>= w
        accBits -= w
      }
      counts(b.toInt) += 1
      i += 1
    }
    in.finish()
    e.level = level
    e.n = n
    e.counts = counts
    e.pairs = pairs
    e.numPairs = total
    e
  }
}
