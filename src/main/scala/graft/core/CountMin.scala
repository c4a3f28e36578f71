package graft.core

import java.nio.ByteBuffer

/** Count-Min sketch, implemented from the published algorithm
  * (Cormode & Muthukrishnan 2005). `depth` rows x `width` counters;
  * row hashes derived from one 128-bit hash (Kirsch-Mitzenmacher).
  * Merge = element-wise add: associative and commutative, so serialized
  * bytes are identical under arbitrary partition merge orderings.
  *
  * Guarantees (N = total added count):
  *   true <= estimate              (never under-estimates)
  *   estimate <= true + eps * N    with prob >= 1 - delta,
  * where eps = e / width and delta = e^(-depth).
  */
final class Cms(var depth: Int, var width: Int, var seed: Long) extends BytesSerde {
  require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
  require(width >= 8, s"width must be >= 8, got $width")

  // In-memory representation is DUAL (the O38 sparse-HLL twin): a
  // fresh sketch starts as an open-addressed (cellIdx -> count) map and
  // PROMOTES to the dense row-major table once occupancy passes
  // depth*width/8. Rationale: a default 7x4096 table is 229 KB of
  // zeroed longs PER GROUP BUFFER — at 10^7-group cms-per-group
  // aggregations that is terabytes of heap for tables whose tails hold
  // a handful of keys, and it is the partial-agg heap that drives
  // ObjectHashAggregate's sort-fallback. Token-counting sketches blow
  // past the threshold almost immediately and run dense as before.
  // Wire bytes are UNCHANGED by construction: toBytes serializes from
  // CONTENT in cell-index order whichever representation holds it
  // (spec-asserted byte-equal both ways).
  private[core] var table: Array[Long] = _ // null while sparse
  private var sIdx: Array[Int] = _         // -1 = empty slot
  private var sCnt: Array[Long] = _
  private var sUsed: Int = 0
  var total: Long = 0L

  sparseInit(16)

  private def sparseInit(cap: Int): Unit = {
    sIdx = new Array[Int](cap)
    java.util.Arrays.fill(sIdx, -1)
    sCnt = new Array[Long](cap)
    sUsed = 0
  }

  @inline private def promoteAt: Int = math.max(8, (depth * width) >>> 3)

  private def promote(): Unit = {
    val t = new Array[Long](depth * width)
    var p = 0
    while (p < sIdx.length) {
      if (sIdx(p) >= 0) t(sIdx(p)) = sCnt(p)
      p += 1
    }
    table = t
    sIdx = null
    sCnt = null
    sUsed = 0
  }

  private def sparseGrow(): Unit = {
    val oi = sIdx
    val oc = sCnt
    sparseInit(oi.length << 1)
    var p = 0
    while (p < oi.length) {
      if (oi(p) >= 0) sparsePut(oi(p), oc(p))
      p += 1
    }
  }

  @inline private def slotMix(cell: Int): Int = (cell * 0x9E3779B9) >>> 1

  /** Add `c` to `cell` in the sparse map (no promote check). */
  private def sparsePut(cell: Int, c: Long): Unit = {
    val mask = sIdx.length - 1
    var p = slotMix(cell) & mask
    while (true) {
      val k = sIdx(p)
      if (k == cell) { sCnt(p) += c; return }
      if (k == -1) {
        sIdx(p) = cell
        sCnt(p) = c
        sUsed += 1
        if (sUsed * 2 > sIdx.length) sparseGrow()
        return
      }
      p = (p + 1) & mask
    }
  }

  @inline private def sparseGet(cell: Int): Long = {
    val mask = sIdx.length - 1
    var p = slotMix(cell) & mask
    while (true) {
      val k = sIdx(p)
      if (k == cell) return sCnt(p)
      if (k == -1) return 0L
      p = (p + 1) & mask
    }
    0L
  }

  /** Add to one cell in whichever representation holds the table. */
  @inline private def addCell(cell: Int, c: Long): Unit =
    if (table != null) table(cell) += c
    else {
      sparsePut(cell, c)
      if (sUsed > promoteAt) promote()
    }

  @inline private def cellGet(cell: Int): Long =
    if (table != null) table(cell) else sparseGet(cell)

  /** Test hook (CmsSparseMemSpec): promote immediately so the dense
    * path can be exercised at any fill level. */
  private[graft] def forceDense(): Unit = if (table == null) promote()

  /** True while the sparse map holds the content (CmsSparseMemSpec /
    * heap measurement). */
  private[graft] def isSparse: Boolean = table == null

  /** Content scattered into a dense array — `table` itself when already
    * dense (callers must not mutate), a fresh copy when sparse. For the
    * full-table analysis paths (inner product), not the hot add path. */
  private[core] def denseView: Array[Long] =
    if (table != null) table
    else {
      val t = new Array[Long](depth * width)
      var p = 0
      while (p < sIdx.length) {
        if (sIdx(p) >= 0) t(sIdx(p)) = sCnt(p)
        p += 1
      }
      t
    }

  @inline private def idx(h: Hash128.H, row: Int): Int = {
    val hr = h.derived(row + 1)
    // non-negative mod
    val m = (hr % width).toInt
    row * width + (if (m < 0) m + width else m)
  }

  def addHash(h: Hash128.H, count: Long): Unit = {
    var r = 0
    while (r < depth) {
      addCell(idx(h, r), count)
      r += 1
    }
    total += count
  }

  /** Single-row count bump from an already-derived row hash
    * (`h.derived(row + 1)`) — the row-major batched kernel's inner
    * step (see BatchedTokenBuf): the caller iterates rows in the OUTER
    * loop so each pass touches only one width-sized row slice, and
    * adds the batch size to `total` itself after all rows. Equivalent
    * to `addHash` per element by commutativity of addition. (The
    * sparse-mode branch is cold here: token sketches promote within
    * the first batch.) */
  @inline def bumpRow(row: Int, hr: Long): Unit = {
    val m = (hr % width).toInt
    addCell(row * width + (if (m < 0) m + width else m), 1L)
  }

  def add(key: String, count: Long = 1L): Unit = addHash(Hash128.hashString(key, seed), count)
  def add(key: Long, count: Long): Unit = addHash(Hash128.hashLong(key, seed), count)

  def estimateHash(h: Hash128.H): Long = {
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      val v = cellGet(idx(h, r))
      if (v < min) min = v
      r += 1
    }
    min
  }

  def estimate(key: String): Long = estimateHash(Hash128.hashString(key, seed))
  def estimate(key: Long): Long = estimateHash(Hash128.hashLong(key, seed))

  /** Add every space-separated token of `text` (count 1 each) without
    * materializing per-token strings: tokens are hashed as byte ranges
    * of one UTF-8 encoding of the document. Equivalent to exploding the
    * text and adding each non-empty token — but with one allocation per
    * document instead of one per token, which is what lets the token
    * phase scale with cores instead of with the allocator (measured on
    * the 152M-token bench: the exploded-row pipeline was
    * allocation-bound and did not speed up from 8 to 32 threads). */
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

  def merge(other: Cms): Cms = {
    require(depth == other.depth && width == other.width && seed == other.seed,
      "cannot merge CMS with different parameters")
    if (other.table != null) {
      // dense RHS: result occupancy >= RHS's (already past threshold)
      if (table == null) promote()
      var i = 0
      while (i < table.length) { table(i) += other.table(i); i += 1 }
    } else {
      // sparse RHS: fold its occupied cells into whichever mode we hold
      var p = 0
      while (p < other.sIdx.length) {
        if (other.sIdx(p) >= 0) addCell(other.sIdx(p), other.sCnt(p))
        p += 1
      }
    }
    total += other.total
    this
  }

  /** Inner-product (equi-join size) estimate between two frequency
    * sketches over the same parameters: min over rows of the row-wise
    * dot product (Cormode & Muthukrishnan 2005, section on inner
    * products). Estimates sum_k fA(k) * fB(k) — the cardinality of the
    * equi-join between the two sketched key multisets — from the
    * sketches ALONE: never under-estimates (collision cross-terms are
    * non-negative), and over-estimates by at most eps * totalA * totalB
    * with prob >= 1 - delta. This is join-size estimation for free off
    * sketches the engine already collects per partition/snapshot. */
  def innerProduct(other: Cms): Long = {
    require(depth == other.depth && width == other.width && seed == other.seed,
      "cannot inner-product CMS with different parameters")
    val table = denseView
    val otherTable = other.denseView
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      // saturating arithmetic: at 10^12-row totals a row's dot product
      // can exceed Long range; wrapping would return a small/negative
      // value and silently break the never-under-estimates guarantee.
      // A saturated row reads as Long.MaxValue ("at least this"), so
      // the returned estimate stays >= the true inner product.
      var s = 0L
      var j = r * width
      val end = j + width
      while (j < end && s != Long.MaxValue) {
        val a = table(j)
        val b = otherTable(j)
        if (a != 0L && b != 0L) {
          if (a > Long.MaxValue / b) s = Long.MaxValue
          else {
            val p = a * b
            s = if (s + p < s) Long.MaxValue else s + p
          }
        }
        j += 1
      }
      if (s < min) min = s
      r += 1
    }
    min
  }

  def eps: Double = math.E / width
  def delta: Double = math.exp(-depth.toDouble)

  // Wire format v2: dense fixed 8-byte cells, or a sparse
  // (nnz, index-delta/count varints) list when byte-cheaper — chosen by
  // exact byte cost, a pure function of table content, so equal tables
  // serialize identically under any merge ordering. The win case is
  // categorical counting (cms_agg over a low-cardinality column):
  // ~n_keys*depth occupied cells out of depth*width, e.g. a 10-source
  // CMS ships ~600 B instead of 229 KB through the merge exchange.
  // Token-counting CMS tables are near-full and stay dense.
  def toBytes: Array[Byte] = {
    // in-memory-sparse path: occupied cells in index order, so the
    // emitted bytes are IDENTICAL to the dense path's for equal content
    var idxs: Array[Int] = null
    var cnts: Array[Long] = null
    val nCells = depth * width
    if (table == null) {
      idxs = new Array[Int](sUsed)
      cnts = new Array[Long](sUsed)
      var p = 0
      var o = 0
      while (p < sIdx.length) {
        if (sIdx(p) >= 0) { idxs(o) = sIdx(p); o += 1 }
        p += 1
      }
      java.util.Arrays.sort(idxs)
      var s = 0
      while (s < idxs.length) { cnts(s) = sparseGet(idxs(s)); s += 1 }
    }
    @inline def cellAt(e: Int): Long = if (table != null) table(e) else cnts(e)
    val nIter = if (table != null) nCells else idxs.length
    @inline def idxAt(e: Int): Int = if (table != null) e else idxs(e)

    var nnz = 0
    var sparseCost = 0
    var prev = -1
    var e = 0
    while (e < nIter) {
      val c = cellAt(e)
      if (c != 0L) {
        val i = idxAt(e)
        nnz += 1
        sparseCost += Cms.varintLen(i - prev - 1) + Cms.varintLen(c)
        prev = i
      }
      e += 1
    }
    sparseCost += Cms.varintLen(nnz.toLong)
    val dense = 8 * nCells
    val sparseMode = sparseCost < dense
    val buf = ByteBuffer.allocate(4 + 4 + 4 + 8 + 8 + 1 + (if (sparseMode) sparseCost else dense))
    buf.putInt(Cms.MAGIC)
    buf.putInt(depth)
    buf.putInt(width)
    buf.putLong(seed)
    buf.putLong(total)
    buf.put(if (sparseMode) 1.toByte else 0.toByte)
    if (sparseMode) {
      Cms.writeVarint(buf, nnz.toLong)
      prev = -1
      e = 0
      while (e < nIter) {
        val c = cellAt(e)
        if (c != 0L) {
          val i = idxAt(e)
          Cms.writeVarint(buf, (i - prev - 1).toLong)
          Cms.writeVarint(buf, c)
          prev = i
        }
        e += 1
      }
    } else {
      // dense wire from sparse memory is possible (many small counts);
      // walk cells in order emitting zeros for the gaps
      if (table != null) {
        var i = 0
        while (i < nCells) { buf.putLong(table(i)); i += 1 }
      } else {
        var i = 0
        var o = 0
        while (i < nCells) {
          if (o < idxs.length && idxs(o) == i) { buf.putLong(cnts(o)); o += 1 }
          else buf.putLong(0L)
          i += 1
        }
      }
    }
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  private[core] def loadBytes(bytes: Array[Byte]): Unit = {
    val in = ByteBuffer.wrap(bytes)
    val magic = in.getInt()
    require(magic == Cms.MAGIC, f"bad CMS magic 0x$magic%08x")
    depth = in.getInt()
    width = in.getInt()
    seed = in.getLong()
    total = in.getLong()
    // re-initializes a placeholder instance (fromBytes): EVERY field
    // must be set here
    val mode = in.get()
    if (mode == 1.toByte) {
      val nnz = Cms.readVarint(in)
      if (nnz <= promoteAt) {
        // wire-sparse AND small: load straight into sparse memory (the
        // merge-of-collected-tails case never materializes the dense
        // table at all)
        table = null
        var cap = 16
        while (cap < nnz * 2) cap <<= 1
        sparseInit(cap.toInt)
        var prev = -1
        var e = 0L
        while (e < nnz) {
          val idx = prev + 1 + Cms.readVarint(in).toInt
          sparsePut(idx, Cms.readVarint(in))
          prev = idx
          e += 1
        }
      } else {
        table = new Array[Long](depth * width)
        sIdx = null; sCnt = null; sUsed = 0
        var prev = -1
        var e = 0L
        while (e < nnz) {
          val idx = prev + 1 + Cms.readVarint(in).toInt
          table(idx) = Cms.readVarint(in)
          prev = idx
          e += 1
        }
      }
    } else {
      require(mode == 0.toByte, s"bad CMS wire mode $mode")
      table = new Array[Long](depth * width)
      sIdx = null; sCnt = null; sUsed = 0
      var i = 0
      while (i < table.length) { table(i) = in.getLong(); i += 1 }
    }
  }
}

object Cms {
  val MAGIC: Int = 0x434d5332 // "CMS2" — v2 wire format (mode byte +
  // optional sparse cell list); v1 bytes fail the magic check loudly
  // instead of being misparsed

  private[core] def varintLen(v0: Long): Int = {
    var v = v0
    var len = 1
    while ((v & ~0x7fL) != 0L) { v >>>= 7; len += 1 }
    len
  }
  private[core] def writeVarint(buf: ByteBuffer, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { buf.put(((v & 0x7f) | 0x80).toByte); v >>>= 7 }
    buf.put(v.toByte)
  }
  private[core] def readVarint(in: ByteBuffer): Long = {
    var v = 0L
    var shift = 0
    var b = in.get()
    while ((b & 0x80) != 0) {
      v |= (b & 0x7fL) << shift
      shift += 7
      b = in.get()
    }
    v | ((b & 0x7fL) << shift)
  }
  val DefaultDepth = 7        // delta ~= 9.1e-4
  val DefaultWidth = 4096     // eps ~= 6.6e-4
  val DefaultSeed = 42L

  def empty(depth: Int = DefaultDepth, width: Int = DefaultWidth,
            seed: Long = DefaultSeed): Cms = new Cms(depth, width, seed)

  def fromBytes(bytes: Array[Byte]): Cms = {
    val c = new Cms(1, 8, 0L)
    c.loadBytes(bytes)
    c
  }
}
