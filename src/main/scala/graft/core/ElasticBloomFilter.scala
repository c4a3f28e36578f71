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
  * 3.7s -> 16.9s within one JVM). Expansion/compression/merge are
  * single passes over the flat array; canonical serialization is one
  * primitive sort (pairs order = bucket asc, fp asc).
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
  private var pairs: Array[Long] = new Array[Long](64)
  private var numPairs: Int = 0
  private var counts: Array[Int] = new Array[Int](m0)

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
    var target = level
    while (target < maxLevel && n * alphaDen > alphaNum.toLong * (m0.toLong << target)) target += 1
    if (target > level) expandTo(target)
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

  /** In-place merge: align levels upward (one pass each), concatenate
    * pair arrays, add counts, re-normalize. Associative and commutative
    * (see class doc). */
  def merge(other: Ebf): Ebf = {
    require(m0 == other.m0 && k == other.k && l0 == other.l0 &&
      alphaNum == other.alphaNum && alphaDen == other.alphaDen && seed == other.seed,
      "cannot merge EBFs with different parameters")
    if (level < other.level) expandTo(other.level)
    if (other.level < level) other.expandTo(level)
    // append pairs
    if (numPairs + other.numPairs > pairs.length) {
      val grown = new Array[Long](math.max(pairs.length * 2, numPairs + other.numPairs))
      System.arraycopy(pairs, 0, grown, 0, numPairs)
      pairs = grown
    }
    System.arraycopy(other.pairs, 0, pairs, numPairs, other.numPairs)
    numPairs += other.numPairs
    var b = 0
    val m = numBuckets
    while (b < m) { counts(b) += other.counts(b); b += 1 }
    n += other.n
    normalize()
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

  /** Canonical serialization: one primitive sort of the pair array
    * yields (bucket asc, fp asc); the counts section, then the
    * fingerprints bit-packed at the current width. Byte-identical for
    * equal content. */
  def toBytes: Array[Byte] = {
    val w = fpWidth
    val sorted = java.util.Arrays.copyOf(pairs, numPairs)
    java.util.Arrays.sort(sorted)
    val out = new WireWriter(Ebf.HeaderBytes + 16 + fpBytes)
      .int(Ebf.MAGIC).int(m0).int(k).int(l0).int(level).int(alphaNum).int(alphaDen)
      .long(seed).long(n)
      .cells(numBuckets, 0, signed = false, null)(countAt)
    var acc = 0L
    var accBits = 0
    var i = 0
    while (i < numPairs && w > 0) {
      acc |= (sorted(i) & ((1L << w) - 1)) << accBits
      accBits += w
      while (accBits >= 8) {
        out.byte((acc & 0xff).toInt)
        acc >>>= 8
        accBits -= 8
      }
      i += 1
    }
    if (accBits > 0) out.byte((acc & 0xff).toInt)
    out.toBytes
  }

  // Counts section: dense varints, or a sparse (nnz, then
  // index-delta/count pairs) list when that is byte-cheaper. The web's
  // long tail makes most per-host filters nearly empty, where the dense
  // form pays one byte per EMPTY bucket (1 KiB at m0=1024); sparse
  // costs ~2 bytes per occupied bucket.
  private def countAt: Int => Long = b => counts(b).toLong

  private def fpBytes: Int = ((numPairs.toLong * fpWidth + 7) / 8).toInt

  /** [[toBytes]]`.length`, without the sort or the bytes. */
  def sizeBytes: Int =
    Ebf.HeaderBytes + WireWriter.cellsSize(numBuckets, 0, signed = false, null)(countAt) + fpBytes

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

  /** Decodes [[Ebf.toBytes]]. The header goes through the constructor;
    * the body must then be exactly what that header implies: a level
    * the filter can reach, `k * n` stored fingerprints, and their packed
    * bytes to the end of the blob, all checked before the bucket array
    * is allocated. */
  def fromBytes(bytes: Array[Byte]): Ebf = {
    val in = WireReader(bytes, "EBF2", MAGIC)
    val m0 = in.int("m0"); val k = in.int("k"); val l0 = in.int("l0"); val level = in.int("level")
    val alphaNum = in.int("alphaNum"); val alphaDen = in.int("alphaDen")
    val seed = in.long("seed"); val n = in.long("n")
    val e = in.construct(new Ebf(m0, k, l0, alphaNum, alphaDen, seed))
    in.check(level >= 0 && level <= e.maxLevel, "level", s"$level outside [0, ${e.maxLevel}]")
    in.check(n >= 0 && n <= Int.MaxValue / k, "n", s"$n keys exceed the pair capacity")
    val m = m0 << level
    // (bucket << 32 | count) per occupied bucket, ascending
    var occupied: Array[Long] = null
    var nOccupied = 0
    var total = 0L
    in.cells("counts", m, 0, signed = false)(bound => occupied = new Array[Long](bound)) { (b, c) =>
      if (c <= 0 || c > Int.MaxValue) in.fail("counts", s"bad count $c")
      occupied(nOccupied) = (b.toLong << 32) | c
      nOccupied += 1
      total += c
    }
    in.check(total == n * k, "counts", s"$total fingerprints stored for $n keys of $k")
    val w = l0 - level
    in.check(in.remaining == (total * w + 7) / 8, "fingerprints",
      s"${in.remaining} bytes for $total fingerprints of $w bits")
    e.level = level
    e.n = n
    e.counts = new Array[Int](m)
    e.pairs = new Array[Long](math.max(64, total.toInt))
    e.numPairs = total.toInt
    var acc = 0L
    var accBits = 0
    var idx = 0
    var o = 0
    while (o < nOccupied) {
      val b = occupied(o) >>> 32
      val c = (occupied(o) & 0xffffffffL).toInt
      e.counts(b.toInt) = c
      var j = 0
      while (j < c) {
        var f = 0L
        if (w > 0) {
          while (accBits < w) {
            acc |= in.byte("fingerprints").toLong << accBits
            accBits += 8
          }
          f = acc & ((1L << w) - 1)
          acc >>>= w
          accBits -= w
        }
        e.pairs(idx) = (b << 32) | f
        idx += 1
        j += 1
      }
      o += 1
    }
    in.finish()
    e
  }
}
