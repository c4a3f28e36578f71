package graft.core

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Misra-Gries heavy-hitter ("frequent items") sketch over strings,
  * following the mergeable-summaries formulation (Agarwal, Cormode,
  * Huang, Phillips, Wei, Yi, "Mergeable Summaries", PODS'12) — the same
  * family as the Apache DataSketches `frequencies` package.
  *
  * At most `capacity` counters are kept. Inserting a tracked item
  * increments its counter; inserting an untracked item into a full
  * sketch decrements every counter (by the inserted weight, clamped to
  * the smallest live counter, dropping zeros — the classic by-1 sweep
  * generalized to weighted inserts) — amortized O(1) per insertion,
  * since each sweep consumes at least `capacity` previously-inserted
  * count units. Merging sums counters
  * pointwise and, if more than `capacity` survive, subtracts the
  * (capacity+1)-th largest count from all and drops the non-positive.
  *
  * Guarantees (maintained across arbitrary merge orderings):
  *   - `estimate(x)` never overestimates: estimate <= true count;
  *   - `true count - estimate <= maxError`, where [[maxError]] is the
  *     cumulative decrement tracked by the sketch itself, and
  *     `maxError <= n / (capacity + 1)`;
  *   - hence every item with true count > n/(capacity+1) is tracked
  *     (no false negatives among heavy hitters).
  *
  * Like KLL/t-digest — and unlike EBF/HLL/CMS — the exact counter values
  * depend on merge order; the guarantees above are what is
  * order-independent. Serialization is canonical for a given state
  * (entries sorted by item), so serde round-trips are byte-stable.
  *
  * Why this exists next to CMS: a CMS answers point frequency queries
  * but cannot *enumerate* the heavy hitters — extracting a top-k from a
  * CMS requires a pass over the distinct-item relation, which at web
  * scale is exactly the relation the sketch was supposed to avoid
  * materializing. Misra-Gries carries its candidate set with it.
  *
  * Storage is an open-addressing table over UTF-8 byte keys with
  * primitive `long` counts — NOT a `HashMap[String, Long]`. The hot
  * path ([[addTextTokens]] over 10^2 tokens per document at 10^9+
  * documents) is allocation-free on tracked-item hits: tokens are
  * hashed as byte ranges of one UTF-8 encoding of the document (the
  * same trick as [[Cms.addTextTokens]]); a `String`/byte-copy is
  * materialized only when a NEW item enters the tracked set, which the
  * capacity bounds. The boxed-HashMap form measured ~1.5x the CMS
  * kernel on the 4.8G-token flagship phase (the per-token `substring`
  * + `java.lang.Long` churn was the entire gap); this form closes it.
  */
final class FreqSketch(var capacity: Int,
                       var seed: Long = FreqSketch.HashSeed) extends BytesSerde {
  require(capacity >= 1 && capacity <= 1000000,
    s"capacity must be in [1, 1000000], got $capacity")

  // open addressing, linear probing; load factor <= 0.5 at `capacity`
  // entries (merge can temporarily hold up to 2x capacity — grow handles
  // it). keys/hashes/cnts are parallel arrays; keys(i) == null -> free.
  private var tableBits = FreqSketch.bitsFor(capacity)
  private var keys = new Array[Array[Byte]](1 << tableBits)
  private var hashes = new Array[Long](1 << tableBits)
  private var cnts = new Array[Long](1 << tableBits)
  private var used = 0
  // swap buffers for decrementAll's rebuild: a sweep fires up to
  // n/(capacity+1) times, so allocating fresh arrays per sweep would
  // produce GBs of garbage on token-heavy streams — rebuild into these
  // and swap instead (lazily sized with the table)
  @transient private var keys2: Array[Array[Byte]] = _
  @transient private var hashes2: Array[Long] = _
  @transient private var cnts2: Array[Long] = _

  var n: Long = 0L
  var maxError: Long = 0L

  def numTracked: Int = used

  @inline private def mask: Int = keys.length - 1

  private def hashRange(bytes: Array[Byte], off: Int, len: Int): Long =
    Hash128.hashBytesRange(bytes, off, len, seed).h1

  /** Slot of (hash, key-range) or the free slot where it would insert. */
  @inline private def slotOf(h: Long, bytes: Array[Byte], off: Int, len: Int): Int = {
    var i = (h.toInt) & mask
    while (true) {
      val k = keys(i)
      if (k == null) return i
      if (hashes(i) == h && k.length == len && FreqSketch.rangeEquals(k, bytes, off, len))
        return i
      i = (i + 1) & mask
    }
    -1 // unreachable
  }

  /** Insert a key known to be absent (caller found a free slot). */
  private def insertAt(slot: Int, key: Array[Byte], h: Long, c: Long): Unit = {
    keys(slot) = key
    hashes(slot) = h
    cnts(slot) = c
    used += 1
    if (used * 2 > keys.length) grow()
  }

  private def grow(): Unit = {
    val ok = keys; val oh = hashes; val oc = cnts
    tableBits += 1
    keys = new Array[Array[Byte]](1 << tableBits)
    hashes = new Array[Long](1 << tableBits)
    cnts = new Array[Long](1 << tableBits)
    var i = 0
    while (i < ok.length) {
      val k = ok(i)
      if (k != null) {
        var j = (oh(i).toInt) & mask
        while (keys(j) != null) j = (j + 1) & mask
        keys(j) = k; hashes(j) = oh(i); cnts(j) = oc(i)
      }
      i += 1
    }
  }

  def add(item: String): Unit = add(item, 1L)

  def add(item: String, w: Long): Unit = {
    if (item == null || w <= 0) return
    val b = item.getBytes(StandardCharsets.UTF_8)
    addRange(b, 0, b.length, w)
  }

  /** The allocation-free hot path: add the token at `bytes[off, off+len)`
    * with weight `w`. Copies the range only if the item newly enters the
    * tracked set. */
  def addRange(bytes: Array[Byte], off: Int, len: Int, w: Long): Unit = {
    if (len <= 0) return
    addRangeHashed(bytes, off, len, w, hashRange(bytes, off, len))
  }

  /** [[addRange]] with the 64-bit hash already computed — `h` MUST be
    * `Hash128.hashBytesRange(bytes, off, len, seed).h1`. Lets a fused
    * caller (one tokenization walk feeding CMS and MG together) pay for
    * a single 128-bit hash per token; see `CmsTopkTokensAgg`. */
  def addRangeHashed(bytes: Array[Byte], off: Int, len: Int, w: Long, h: Long): Unit = {
    if (len <= 0 || w <= 0) return
    n += w
    val slot = slotOf(h, bytes, off, len)
    if (keys(slot) != null) { cnts(slot) += w; return }
    if (used < capacity) {
      insertAt(slot, java.util.Arrays.copyOfRange(bytes, off, off + len), h, w)
      return
    }
    // full + untracked: absorb what fits as error. Decrement every
    // counter by min(w, smallest counter that survives the sweep) — the
    // classic by-1 sweep generalized to weights so weighted inserts and
    // merge-added counts stay amortized.
    val dec = math.min(w, minCount())
    maxError += dec
    decrementAll(dec)
    if (w > dec) {
      val s = slotOf(h, bytes, off, len) // table was rebuilt
      insertAt(s, java.util.Arrays.copyOfRange(bytes, off, off + len), h, w - dec)
    }
  }

  /** Tokenize on single spaces (empty tokens skipped — same semantics
    * as [[Cms.addTextTokens]]) and add each token: one UTF-8 encoding
    * per document, zero allocations per already-tracked token. */
  def addTextTokens(text: String): Unit =
    if (text != null) addTokens(text.getBytes(StandardCharsets.UTF_8))

  /** [[addTextTokens]] over the text's UTF-8 bytes. */
  def addTokens(bytes: Array[Byte]): Unit = {
    var start = 0
    var i = 0
    val len = bytes.length
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        if (i > start) addRange(bytes, start, i - start, 1L)
        start = i + 1
      }
      i += 1
    }
  }

  private def minCount(): Long = {
    var m = Long.MaxValue
    var i = 0
    while (i < keys.length) {
      if (keys(i) != null && cnts(i) < m) m = cnts(i)
      i += 1
    }
    if (m == Long.MaxValue) 0L else m
  }

  /** Subtract `by` from every counter, dropping non-positive entries.
    * Rebuilds the probe table (removal under linear probing would
    * otherwise break chains) into the preallocated swap buffers;
    * amortized by the sweep-frequency bound. */
  private def decrementAll(by: Long): Unit = {
    if (by <= 0) return
    if (keys2 == null || keys2.length != keys.length) {
      keys2 = new Array[Array[Byte]](keys.length)
      hashes2 = new Array[Long](keys.length)
      cnts2 = new Array[Long](keys.length)
    } else {
      java.util.Arrays.fill(keys2.asInstanceOf[Array[AnyRef]], null)
    }
    val ok = keys; val oh = hashes; val oc = cnts
    keys = keys2; hashes = hashes2; cnts = cnts2
    keys2 = ok; hashes2 = oh; cnts2 = oc
    used = 0
    var i = 0
    while (i < ok.length) {
      if (ok(i) != null && oc(i) > by) {
        var j = (oh(i).toInt) & mask
        while (keys(j) != null) j = (j + 1) & mask
        keys(j) = ok(i); hashes(j) = oh(i); cnts(j) = oc(i) - by
        used += 1
      }
      i += 1
    }
  }

  /** Lower-bound frequency estimate: in [true - maxError, true]. */
  def estimate(item: String): Long = {
    if (item == null) return 0L
    val b = item.getBytes(StandardCharsets.UTF_8)
    val slot = slotOf(hashRange(b, 0, b.length), b, 0, b.length)
    if (keys(slot) == null) 0L else cnts(slot)
  }

  /** Upper-bound frequency estimate. */
  def upperBound(item: String): Long = estimate(item) + maxError

  /** Top `k` tracked items by estimated count, ties broken by item
    * ascending (deterministic output for a given sketch state). */
  def topK(k: Int): Seq[(String, Long)] = {
    val all = new Array[(String, Long)](used)
    var i = 0
    var j = 0
    while (i < keys.length) {
      if (keys(i) != null) {
        all(j) = (new String(keys(i), StandardCharsets.UTF_8), cnts(i))
        j += 1
      }
      i += 1
    }
    all.sortBy { case (item, c) => (-c, item) }.take(k).toSeq
  }

  def merge(other: FreqSketch): FreqSketch = {
    require(capacity == other.capacity && seed == other.seed,
      "cannot merge FreqSketch with different capacities or seeds")
    // pointwise sum; the table may briefly hold up to 2x capacity
    // entries (grow() keeps the load factor), then the (capacity+1)-th
    // largest count is subtracted from everything — exactly `capacity`
    // or fewer strictly-positive counters survive
    var i = 0
    while (i < other.keys.length) {
      val k = other.keys(i)
      if (k != null) {
        val h = other.hashes(i)
        val slot = slotOf(h, k, 0, k.length)
        if (keys(slot) != null) cnts(slot) += other.cnts(i)
        else insertAt(slot, k, h, other.cnts(i))
      }
      i += 1
    }
    n += other.n
    maxError += other.maxError
    if (used > capacity) {
      val vals = new Array[Long](used)
      var v = 0
      i = 0
      while (i < keys.length) {
        if (keys(i) != null) { vals(v) = cnts(i); v += 1 }
        i += 1
      }
      java.util.Arrays.sort(vals)
      val kth = vals(vals.length - capacity - 1)
      maxError += kth
      decrementAll(kth)
    }
    this
  }

  def toBytes: Array[Byte] = {
    // canonical: entries sorted by item (byte-stable serde round trips)
    val items = topK(used).sortBy(_._1)
    var payload = 0
    items.foreach { case (s, _) => payload += 4 + s.getBytes(StandardCharsets.UTF_8).length + 8 }
    val buf = ByteBuffer.allocate(4 + 4 + 8 + 8 + 8 + 4 + payload)
    buf.putInt(FreqSketch.MAGIC)
    buf.putInt(capacity)
    buf.putLong(seed)
    buf.putLong(n)
    buf.putLong(maxError)
    buf.putInt(items.size)
    items.foreach { case (s, c) =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      buf.putInt(b.length)
      buf.put(b)
      buf.putLong(c)
    }
    buf.array()
  }

  private[core] def loadBytes(bytes: Array[Byte]): Unit = {
    val in = ByteBuffer.wrap(bytes)
    val magic = in.getInt()
    // FQS1 is also accepted: the round-4 build that introduced the
    // seed field shipped it briefly under the old magic, so
    // structurally-seeded FQS1 blobs exist (ADVICE r4). Layout is
    // identical from the capacity field on, and misparse of a genuine
    // pre-seed FQS1 blob is impossible in practice: it would read the
    // old n as seed and land sz on garbage, failing the buffer-bounds
    // reads below loudly rather than silently.
    require(magic == FreqSketch.MAGIC || magic == FreqSketch.MagicV1,
      f"bad FreqSketch magic 0x$magic%08x")
    capacity = in.getInt()
    seed = in.getLong()
    n = in.getLong()
    maxError = in.getLong()
    val sz = in.getInt()
    tableBits = FreqSketch.bitsFor(math.max(capacity, sz))
    keys = new Array[Array[Byte]](1 << tableBits)
    hashes = new Array[Long](1 << tableBits)
    cnts = new Array[Long](1 << tableBits)
    used = 0
    var i = 0
    while (i < sz) {
      val len = in.getInt()
      val b = new Array[Byte](len)
      in.get(b)
      val c = in.getLong()
      val h = hashRange(b, 0, b.length)
      val slot = slotOf(h, b, 0, b.length)
      insertAt(slot, b, h, c)
      i += 1
    }
  }
}

object FreqSketch {
  val MAGIC: Int = 0x46515332 // "FQS2" — v2 wire format (8-byte seed
  // field between capacity and n)
  val MagicV1: Int = 0x46515331 // "FQS1" — accepted on read for the
  // interim blobs that carried the seeded layout under the old magic
  // (see loadBytes); always written as FQS2
  val DefaultCapacity = 256
  private[core] val HashSeed = 0x4d47534bL // "MGSK"

  /** Table bits so `entries` fits at load factor <= 0.5 (min 16 slots). */
  private[core] def bitsFor(entries: Int): Int =
    math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(entries.toLong * 2 - 1).toInt)

  @inline private[core] def rangeEquals(key: Array[Byte], bytes: Array[Byte],
                                        off: Int, len: Int): Boolean = {
    var i = 0
    while (i < len) {
      if (key(i) != bytes(off + i)) return false
      i += 1
    }
    true
  }

  def empty(capacity: Int = DefaultCapacity, seed: Long = HashSeed): FreqSketch =
    new FreqSketch(capacity, seed)

  def fromBytes(bytes: Array[Byte]): FreqSketch = {
    val f = new FreqSketch(1)
    f.loadBytes(bytes)
    f
  }
}
