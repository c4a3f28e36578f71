package graft.core

/** Count Sketch (Charikar, Chen & Farach-Colton 2002, "Finding frequent
  * items in data streams"), the UNBIASED twin of [[Cms]] and the last
  * member of the frequency-sketch family here:
  *
  *   - CMS (conservative, one-sided): never under-estimates, over by
  *     <= eps*N whp; its inner product likewise only over-estimates —
  *     the right tool when a guarantee direction matters (membership
  *     pruning, bound gates).
  *   - Count Sketch (signed, two-sided): every per-row estimate is an
  *     UNBIASED random variable; the median over rows concentrates.
  *     Point error is O(sqrt(F2/width)) — much tighter than eps*N on
  *     skewed (Zipf) token streams whose F2 is dominated by a few heavy
  *     hitters — and the inner-product / F2 estimators are the AMS
  *     (Alon-Matias-Szegedy 1996) unbiased join-size / self-join-size
  *     estimators, the classic sketch input to join planning where an
  *     always-over CMS systematically inflates.
  *   - Being signed makes it a TURNSTILE sketch: `add(key, -c)` exactly
  *     cancels `add(key, c)` (cell arithmetic is plain addition), so
  *     retractions/corrections are first-class — the capability CMS
  *     trades away for its one-sided bound.
  *
  * Per row r, a key's 128-bit hash derives bucket = h.derived(r+1) mod
  * width and sign = parity of h.derived(r+1+depth) (Kirsch-Mitzenmacher
  * derivation, a DIFFERENT derived index so sign bits are not functions
  * of bucket bits). Update: cell += sign * count.
  *
  * Merge = element-wise add — the sketch is LINEAR in the input
  * multiset, so merge is exactly associative/commutative and serialized
  * bytes are identical under arbitrary partition merge orderings (the
  * same byte-stability contract as CMS/HLL/EBF; spec-asserted).
  *
  * In-memory representation is the dense table only: the engine's
  * CountSketch use sites are per-snapshot/per-partition GLOBAL sketches
  * (join-size estimation, drift) counted in dozens, not the 10^7-group
  * tail-buffer regime that forced the CMS/HLL sparse duals (O38/O44);
  * the wire format is still content-sparse when cheaper, so tiny
  * sketches ship small.
  */
final class CountSketch(val depth: Int, val width: Int, val seed: Long)
    extends BytesSerde {
  require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
  require(width >= 8 && width <= Cms.MaxCells / depth,
    s"width must be in [8, ${Cms.MaxCells / depth}] at depth $depth, got $width")

  private[core] var table: Array[Long] = new Array[Long](depth * width)
  /** Net signed mass added (sum of counts; deletes subtract). */
  var total: Long = 0L

  @inline private def cellOf(hr: Long): Int = {
    val m = (hr % width).toInt
    if (m < 0) m + width else m
  }

  /** Sign in {-1, +1} for row `r`: parity of an INDEPENDENTLY derived
    * hash (index r+1+depth, never used for a bucket). */
  @inline private def signOf(h: Hash128.H, r: Int): Long =
    ((h.derived(r + 1 + depth) & 1L) << 1) - 1L

  def addHash(h: Hash128.H, count: Long): Unit = {
    var r = 0
    while (r < depth) {
      table(r * width + cellOf(h.derived(r + 1))) += signOf(h, r) * count
      r += 1
    }
    total += count
  }

  def add(key: String, count: Long = 1L): Unit =
    addHash(Hash128.hashString(key, seed), count)
  def add(key: Long, count: Long): Unit =
    addHash(Hash128.hashLong(key, seed), count)

  /** Median of the per-row unbiased estimates sign*cell. Published
    * guarantee: |estimate - true| <= 3*sqrt(F2/width) with probability
    * >= 1 - exp(-Omega(depth)). Even depth takes the lower-middle order
    * statistic (depth defaults odd). The median scratch is a
    * THREAD-LOCAL (not an instance field): this runs per probe row, and
    * `SketchCache` shares one decoded instance across task threads —
    * instance state would race where a per-thread array costs one
    * allocation per thread. */
  def estimateHash(h: Hash128.H): Long = {
    val vs = CountSketch.medianScratch.get()
    var r = 0
    while (r < depth) {
      vs(r) = signOf(h, r) * table(r * width + cellOf(h.derived(r + 1)))
      r += 1
    }
    java.util.Arrays.sort(vs, 0, depth)
    vs((depth - 1) / 2)
  }

  def estimate(key: String): Long = estimateHash(Hash128.hashString(key, seed))
  def estimate(key: Long): Long = estimateHash(Hash128.hashLong(key, seed))

  /** Add every space-separated token of `text` (count 1 each) without
    * materializing per-token strings — the [[Cms.addTextTokens]]
    * pattern: tokens hash as byte ranges of one UTF-8 encoding, one
    * allocation per document instead of one per token. By linearity
    * the resulting sketch is BYTE-identical to adding each non-empty
    * token via [[add]] (spec-asserted). */
  def addTextTokens(text: String): Unit =
    if (text != null) addTokens(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[addTextTokens]] over the text's UTF-8 bytes. */
  def addTokens(bytes: Array[Byte]): Unit = {
    var start = 0
    var i = 0
    val n = bytes.length
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (i > start) addHash(Hash128.hashBytesRange(bytes, start, i - start, seed), 1L)
        start = i + 1
      }
      i += 1
    }
  }

  def merge(other: CountSketch): CountSketch = {
    require(depth == other.depth && width == other.width && seed == other.seed,
      "cannot merge CountSketch with different parameters")
    var i = 0
    while (i < table.length) { table(i) += other.table(i); i += 1 }
    total += other.total
    this
  }

  /** Elementwise subtraction — the turnstile capability at multiset
    * granularity: linearity gives bytes(sketch(A)) - bytes(sketch(B))
    * == bytes(sketch(A \ B)) EXACTLY when B is a sub-multiset of A
    * (retracting a whole partition/day/batch from a global sketch
    * without rebuilding it). Mutates and returns the receiver. */
  def subtract(other: CountSketch): CountSketch = {
    require(depth == other.depth && width == other.width && seed == other.seed,
      "cannot subtract CountSketch with different parameters")
    var i = 0
    while (i < table.length) { table(i) -= other.table(i); i += 1 }
    total -= other.total
    this
  }

  /** Unbiased equi-join-size estimate sum_k fA(k)*fB(k): each row's dot
    * product is unbiased with variance <= 2*F2(A)*F2(B)/width (AMS);
    * the median over rows concentrates. Accumulated in Double — the
    * estimator is a real-valued random variable either way, and at
    * 10^12-row totals a signed Long row-dot would wrap. */
  def innerProduct(other: CountSketch): Double = {
    require(depth == other.depth && width == other.width && seed == other.seed,
      "cannot inner-product CountSketch with different parameters")
    val vs = new Array[Double](depth)
    var r = 0
    while (r < depth) {
      var s = 0.0
      var j = r * width
      val end = j + width
      while (j < end) {
        s += table(j).toDouble * other.table(j).toDouble
        j += 1
      }
      vs(r) = s
      r += 1
    }
    java.util.Arrays.sort(vs)
    vs((depth - 1) / 2)
  }

  /** Unbiased second-moment (self-join size) estimate F2 = sum_k f(k)^2
    * — the AMS estimator: each row's sum of squared cells is unbiased
    * for F2, median over rows. */
  def f2: Double = innerProduct(this)

  // Wire format: like CMS v2 — dense fixed 8-byte cells, or a sparse
  // (nnz, gap-varint/ZIGZAG-varint) list when byte-cheaper (see
  // WireWriter.cells). Cells are SIGNED, hence the zigzag.
  def toBytes: Array[Byte] =
    new WireWriter()
      .int(CountSketch.MAGIC).int(depth).int(width).long(seed).long(total)
      .cells(table.length, 8, signed = true, null)(table(_))
      .toBytes
}

object CountSketch {
  val MAGIC: Int = 0x43534b31 // "CSK1"

  /** Per-thread median scratch (depth <= 16 by construction). */
  private val medianScratch: ThreadLocal[Array[Long]] =
    new ThreadLocal[Array[Long]] {
      override def initialValue(): Array[Long] = new Array[Long](16)
    }

  val DefaultDepth = 7    // median-of-7: failure prob exp(-Omega(7))
  val DefaultWidth = 4096 // point err ~ 3*sqrt(F2)/64
  val DefaultSeed = 42L

  def empty(depth: Int = DefaultDepth, width: Int = DefaultWidth,
            seed: Long = DefaultSeed): CountSketch =
    new CountSketch(depth, width, seed)

  def fromBytes(bytes: Array[Byte]): CountSketch = {
    val in = WireReader(bytes, "CSK1", MAGIC)
    val depth = in.int("depth"); val width = in.int("width"); val seed = in.long("seed")
    val c = in.construct(new CountSketch(depth, width, seed))
    c.total = in.long("total")
    in.cells("cells", c.table.length, 8, signed = true)(_ => ())(c.table(_) = _)
    in.finish()
    c
  }
}
