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
  * `m = m0 * 2^level` buckets. For each of `k` derived hash functions,
  * a key consumes `log2(m0)` bits for base addressing and up to `l0`
  * further bits as a fingerprint. At `level` L the bucket index is
  * `b0 + (fp & (2^L - 1)) * m0` and the remaining stored fingerprint is
  * `fp >>> L` — so expansion (L -> L+gap) routes each stored fingerprint
  * `f` in bucket `b` to bucket `b + (f & (2^gap - 1)) * m` with
  * fingerprint `f >>> gap` ("fingerprint-preserving rehash"), and
  * compression is its exact inverse. A bucket is "set" iff it holds
  * >= 1 fingerprint, so expansion clears bits in child buckets that
  * receive no fingerprints and the false-positive rate drops after
  * growth.
  *
  * == Normal form (the distributed-merge theorem) ==
  * After every insert/merge the filter expands while `n > alpha * m`
  * (and `level < maxLevel`). Because expansion routes fingerprints by
  * their own content, the state at level L is a pure function of the
  * inserted key multiset — `expand(union(A,B)) == union(expand(A),
  * expand(B))` — hence merge is associative and commutative and the
  * serialized bytes are identical under arbitrary partition merge
  * orderings.
  *
  * == Physical layout (GC-aware, learned from the 1M-row bench) ==
  * Fingerprints live in ONE flat `Array[Long]` of `(bucket << 32) | fp`
  * pairs plus one per-bucket count array — O(1) heap objects per
  * filter. The previous per-bucket `Array[Array[Int]]` layout allocated
  * millions of small arrays; at 32 aggregation threads G1 degraded
  * progressively (humongous-region fragmentation: identical runs went
  * 3.7s -> 16.9s within one JVM). Expansion, compression, merge,
  * serialization and decoding each cost O(pairs). The canonical order
  * (bucket asc, fp asc) is that of the packed key
  * `(bucket << fpWidth) | fp`, which has `log2(m0) + l0` bits at every
  * level (fingerprint-preserving rehash moves bits between the two
  * halves, never adds any), so an LSD radix sort produces it; a merge
  * routes the other filter's pairs straight to the merged level.
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
  // flat (bucket << 32 | fp) pairs, unsorted; counts(b) = #fps in bucket b
  private[core] var pairs: Array[Long] = new Array[Long](64)
  private[core] var numPairs: Int = 0
  private[core] var counts: Array[Int] = new Array[Int](m0)

  @inline def numBuckets: Int = m0 << level
  @inline def fpWidth: Int = l0 - level

  @inline private def bucketOf(h: Hash128.H, i: Int): Int = {
    val hi = h.derived(i)
    val b0 = (hi & (m0 - 1)).toInt
    val fpFull = ((hi >>> log2m0) & ((1L << l0) - 1)).toInt
    b0 + ((fpFull & ((1 << level) - 1)) * m0)
  }

  @inline private def pairOf(h: Hash128.H, i: Int): Long = {
    val hi = h.derived(i)
    val b0 = (hi & (m0 - 1)).toInt
    val fpFull = ((hi >>> log2m0) & ((1L << l0) - 1)).toInt
    val b = b0 + ((fpFull & ((1 << level) - 1)) * m0)
    (b.toLong << 32) | (fpFull >>> level).toLong
  }

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
      val p = pairOf(h, i)
      appendPair(p)
      counts((p >>> 32).toInt) += 1
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
      if (counts(bucketOf(h, i)) == 0) return false
      i += 1
    }
    true
  }

  def mightContain(key: String): Boolean = mightContainHash(Hash128.hashString(key, seed))
  def mightContain(key: Array[Byte]): Boolean = mightContainHash(Hash128.hashBytes(key, seed))
  def mightContain(key: Long): Boolean = mightContainHash(Hash128.hashLong(key, seed))

  /** Expand to the load threshold's target level — the
    * content-determined normal form that makes merge associative.
    * Routes every fingerprint in ONE pass regardless of the level gap. */
  private def normalize(): Unit = {
    val target = levelFor(n, level)
    if (target > level) expandTo(target)
  }

  /** The normal-form level of `keys` keys, starting from `from`. */
  private def levelFor(keys: Long, from: Int): Int = {
    var target = from
    while (target < maxLevel && keys * alphaDen > alphaNum.toLong * (m0.toLong << target)) target += 1
    target
  }

  /** Double the bucket array; route each fingerprint by its low bit. */
  def expand(): Unit = expandTo(level + 1)

  /** Single-pass expansion to `target`: pair (b, f) at level L maps to
    * (b + (f & (2^gap - 1)) * m, f >>> gap), gap = target - L. */
  def expandTo(target: Int): Unit = {
    require(target > level, s"target $target must exceed level $level")
    require(target <= maxLevel,
      s"cannot expand past level $maxLevel (fingerprint or address space exhausted)")
    val gap = target - level
    val m = numBuckets.toLong
    val mask = (1L << gap) - 1
    val newCounts = new Array[Int]((m0 << target).toInt)
    var i = 0
    while (i < numPairs) {
      val p = pairs(i)
      val b = p >>> 32
      val f = p & 0xffffffffL
      val nb = b + (f & mask) * m
      pairs(i) = (nb << 32) | (f >>> gap)
      newCounts(nb.toInt) += 1
      i += 1
    }
    counts = newCounts
    level = target
  }

  /** Halve the bucket array; fingerprints regain their routing bit.
    * Exact inverse of [[expand]] on the fingerprint multiset. */
  def compress(): Unit = {
    require(level > 0, "cannot compress below level 0")
    val half = numBuckets / 2
    val newCounts = new Array[Int](half)
    var i = 0
    while (i < numPairs) {
      val p = pairs(i)
      val b = (p >>> 32).toInt
      val f = p & 0xffffffffL
      val t = if (b >= half) 1L else 0L
      val nb = b - t * half
      pairs(i) = (nb.toLong << 32) | ((f << 1) | t)
      newCounts(nb.toInt) += 1
      i += 1
    }
    counts = newCounts
    level -= 1
  }

  /** Remove one inserted key (O(pairs) scan; local post-merge use only —
    * NOT merge-safe across partitions). Returns false and leaves the
    * filter unchanged if the key's fingerprints are not all present. */
  def delete(key: String): Boolean = deleteHash(Hash128.hashString(key, seed))
  def delete(key: Long): Boolean = deleteHash(Hash128.hashLong(key, seed))

  def deleteHash(h: Hash128.H): Boolean = {
    // targets (with multiplicity: two hash fns can produce the same pair)
    val targets = new Array[Long](k)
    var i = 0
    while (i < k) { targets(i) = pairOf(h, i); i += 1 }
    deleteTargets(targets)
  }

  /** Exact multiset delete: verify all targets present, then remove. */
  private def deleteTargets(targets: Array[Long]): Boolean = {
    val need = new java.util.HashMap[java.lang.Long, Integer]()
    var i = 0
    while (i < targets.length) {
      need.merge(targets(i), Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
      i += 1
    }
    // count available occurrences
    val have = new java.util.HashMap[java.lang.Long, Integer]()
    var j = 0
    while (j < numPairs) {
      val p = pairs(j)
      if (need.containsKey(p))
        have.merge(p, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
      j += 1
    }
    val it = need.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val avail = have.get(e.getKey)
      if (avail == null || avail < e.getValue) return false
    }
    // remove one occurrence per target instance
    val remaining = new java.util.HashMap[java.lang.Long, Integer](need)
    val idxs = new Array[Int](targets.length)
    var nIdx = 0
    j = 0
    while (j < numPairs && nIdx < targets.length) {
      val p = pairs(j)
      val r = remaining.get(p)
      if (r != null && r > 0) {
        remaining.put(p, Integer.valueOf(r - 1))
        idxs(nIdx) = j
        nIdx += 1
      }
      j += 1
    }
    removeIndexes(idxs, nIdx)
    n -= 1
    true
  }

  /** Remove pairs at the given (ascending) indexes by back-filling. */
  private def removeIndexes(idxs: Array[Int], count: Int): Unit = {
    // process from the highest index so swaps don't disturb lower ones
    val sorted = java.util.Arrays.copyOf(idxs, count)
    java.util.Arrays.sort(sorted)
    var i = count - 1
    while (i >= 0) {
      val idx = sorted(i)
      counts((pairs(idx) >>> 32).toInt) -= 1
      pairs(idx) = pairs(numPairs - 1)
      numPairs -= 1
      i -= 1
    }
  }

  /** In-place merge in one pass over `other`'s pairs: expand this
    * filter once to the normal-form level of the combined key count,
    * then route each of `other`'s pairs straight to that level and count
    * it where it lands. `other` is only read, so it may be an instance
    * other threads share; `a.merge(a)` doubles the multiset. Associative
    * and commutative (see class doc). */
  def merge(other: Ebf): Ebf = {
    require(m0 == other.m0 && k == other.k && l0 == other.l0 &&
      alphaNum == other.alphaNum && alphaDen == other.alphaDen && seed == other.seed,
      "cannot merge EBFs with different parameters")
    val total = n + other.n
    val target = levelFor(total, math.max(level, other.level))
    if (target > level) expandTo(target)
    // read after the expansion, which re-levels `other` too when it is `this`
    val add = other.numPairs
    val gap = target - other.level
    val m = other.numBuckets.toLong
    val mask = (1L << gap) - 1
    if (numPairs + add > pairs.length)
      pairs = java.util.Arrays.copyOf(pairs, math.max(pairs.length * 2, numPairs + add))
    val src = other.pairs
    var i = 0
    while (i < add) {
      val p = src(i)
      val f = p & 0xffffffffL
      val nb = (p >>> 32) + (f & mask) * m
      pairs(numPairs + i) = (nb << 32) | (f >>> gap)
      counts(nb.toInt) += 1
      i += 1
    }
    numPairs += add
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
    val sorted = Ebf.sortedKeys(pairs, numPairs, w, log2m0 + l0)
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

  /** The first `len` pairs as packed keys `(bucket << w) | fp`, each
    * below `2^bits`, sorted ascending into a fresh array: an LSD radix
    * sort of `ceil(bits / 11)` stable passes of equal width. Packing
    * counts the first digit, and each scatter counts the next one, so
    * no pass reads the keys only to count them. */
  private def sortedKeys(pairs: Array[Long], len: Int, w: Int, bits: Int): Array[Long] = {
    var src = new Array[Long](len)
    val passes = (bits + RadixDigit - 1) / RadixDigit
    if (len < RadixMin || passes == 0) {
      var i = 0
      while (i < len) { val p = pairs(i); src(i) = ((p >>> 32) << w) | (p & 0xffffffffL); i += 1 }
      java.util.Arrays.sort(src)
      return src
    }
    val digit = (bits + passes - 1) / passes
    val mask = (1 << digit) - 1
    var hist = new Array[Int](mask + 1)
    var next = new Array[Int](mask + 1)
    var i = 0
    while (i < len) {
      val p = pairs(i)
      val key = ((p >>> 32) << w) | (p & 0xffffffffL)
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

  /** The heap [[fromBytes]] allocates for `bytes`, read off the header
    * within the limits `fromBytes` enforces: the filter object, its
    * bucket counts and its fingerprint pairs. Null reads as an empty
    * default filter, a header too short to read as nothing. */
  private[graft] def heapBytes(bytes: Array[Byte]): Long = {
    def of(buckets: Long, pairs: Long): Long =
      96L + Heap.array(16L + 4L * math.max(buckets, 0L)) + Heap.array(16L + 8L * math.max(pairs, 64L))
    if (bytes == null) of(DefaultM0, 0L)
    else if (bytes.length < HeaderBytes) 0L
    else {
      val h = java.nio.ByteBuffer.wrap(bytes)
      of(math.min(h.getInt(4).toLong << math.min(math.max(h.getInt(16), 0), 30), 1L << 30),
        math.min(math.min(h.getLong(36), Int.MaxValue) * h.getInt(8), Int.MaxValue))
    }
  }

  /** Decodes [[Ebf.toBytes]] in one pass over the counts section, which
    * writes each bucket's pairs in place, then one local loop over the
    * packed fingerprints. The header goes through the constructor; the
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
      val pair = b.toLong << 32
      val end = stored + c.toInt
      if (end > pairs.length) pairs = java.util.Arrays.copyOf(pairs, math.min(total, math.max(2L * pairs.length, end)).toInt)
      while (stored < end) { pairs(stored) = pair; stored += 1 }
    }
    in.check(stored == total, "counts", s"$stored fingerprints stored for $n keys of $k")
    in.check(in.remaining == fpLen, "fingerprints",
      s"${in.remaining} bytes for $total fingerprints of $w bits")
    val counts = new Array[Int](m)
    var at = in.skip("fingerprints", fpLen.toInt)
    val mask = (1L << w) - 1
    var acc = 0L
    var accBits = 0
    var i = 0
    while (i < total) {
      val p = pairs(i)
      if (w > 0) {
        while (accBits < w) {
          acc |= (bytes(at) & 0xffL) << accBits
          at += 1
          accBits += 8
        }
        pairs(i) = p | (acc & mask)
        acc >>>= w
        accBits -= w
      }
      counts((p >>> 32).toInt) += 1
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
