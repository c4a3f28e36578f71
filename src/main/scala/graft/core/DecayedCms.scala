package graft.core

/** Exponentially time-decayed Count-Min sketch — the "trending now"
  * frequency structure: every event's contribution decays as
  * `exp(-lambda * age)`, so `estimate(key, tNow)` approximates
  * `sum_i exp(-lambda * (tNow - ts_i))` over that key's events.
  * With lambda = ln(2)/halfLife an event loses half its weight per
  * half-life — the standard recency weighting of trending-topic and
  * rate-limiter pipelines, here in one mergeable blob instead of a
  * per-key time-series store.
  *
  * Representation: each cell stores the key's decayed mass REFERENCED
  * AT `t0` (an event at ts contributes `exp(lambda * (ts - t0))`), so
  * insertion is one multiply-add per row with NO table rescan; the
  * table is rebased (one O(d*w) rescale) only when the running
  * exponent would threaten double overflow (exponent > 200, i.e.
  * every ~290 half-lives of forward time travel) — amortized free on
  * time-ordered or shuffled-batch inputs alike. Reads rescale by
  * `exp(-lambda * (tNow - t0))` once per estimate.
  *
  * Merge aligns both sides to the later t0 and adds cells — the same
  * conservative-overestimate argument as plain CMS applies to the
  * decayed masses (cells only ever ADD non-negative weight), so
  * `estimate >= exact` up to float rounding and
  * `estimate <= exact + eps * totalMass(tNow)` with the usual
  * eps = e/width w.h.p. Floating-point rescaling makes merge
  * VALUE-associative but not byte-stable (the [[Fd]]/[[TDigest]]
  * precedent: gates are bound checks, never byte equality).
  *
  * Wire format (DCM1): magic, depth, width, seed, lambda, t0, total,
  * then the d*w cell doubles. Hashing is the library's [[Hash128]]
  * row derivation, identical to [[Cms]].
  *
  * Sizing note: cells are dense doubles (80 KB at the 5x2048
  * default), sized for GLOBAL or coarse-group trending. Using it as a
  * per-group aggregate at 10^6+ group cardinality would want the
  * sparse-start treatment [[Cms]] got (O44) — not built because no
  * current workload groups it finely; recorded here rather than
  * silently assumed away.
  */
final class DecayedCms(val depth: Int, val width: Int, val seed: Long,
                       val lambda: Double) extends BytesSerde {
  require(depth >= 1 && width >= 2 && width <= Cms.MaxCells / depth, s"bad dims: $depth x $width")

  /** Reference epoch of the stored masses; NaN marks an empty sketch
    * (no event seen — NaN survives wire roundtrips unambiguously
    * where a sentinel time could collide with real data). */
  var t0: Double = Double.NaN
  var table: Array[Double] = new Array[Double](depth * width)
  /** Total decayed mass referenced at t0. */
  var total: Double = 0.0

  @inline private def isEmpty: Boolean = t0.isNaN

  @inline private def idx(h: Hash128.H, row: Int): Int = {
    val hr = h.derived(row + 1)
    val m = (hr % width).toInt
    row * width + (if (m < 0) m + width else m)
  }

  /** Rescale every stored mass to reference `tNew` (> t0). */
  private def rebase(tNew: Double): Unit = {
    val f = math.exp(-lambda * (tNew - t0))
    var i = 0
    while (i < table.length) { table(i) *= f; i += 1 }
    total *= f
    t0 = tNew
  }

  def add(key: String, ts: Double, count: Double = 1.0): Unit =
    addHash(Hash128.hashString(key, seed), ts, count)

  /** [[add]] with the key's `Hash128` already computed. */
  def addHash(h: Hash128.H, ts: Double, count: Double): Unit = {
    require(count >= 0.0 && !ts.isNaN, s"bad event: count=$count ts=$ts")
    if (isEmpty) t0 = ts
    else if (lambda * (ts - t0) > 200.0) rebase(ts)
    val w = count * math.exp(lambda * (ts - t0))
    var r = 0
    while (r < depth) { table(idx(h, r)) += w; r += 1 }
    total += w
  }

  /** Decayed-mass estimate of `key` as of `tNow` (>= any inserted ts
    * for a meaningful reading; earlier tNow just up-weights). */
  def estimate(key: String, tNow: Double): Double = {
    if (isEmpty) return 0.0
    val h = Hash128.hashString(key, seed)
    var mn = Double.MaxValue
    var r = 0
    while (r < depth) {
      val v = table(idx(h, r))
      if (v < mn) mn = v
      r += 1
    }
    mn * math.exp(-lambda * (tNow - t0))
  }

  /** Total decayed mass as of `tNow`. */
  def totalAt(tNow: Double): Double =
    if (isEmpty) 0.0 else total * math.exp(-lambda * (tNow - t0))

  def eps: Double = math.E / width

  def merge(other: DecayedCms): DecayedCms = {
    require(depth == other.depth && width == other.width &&
      seed == other.seed && lambda == other.lambda,
      "cannot merge decayed sketches with different parameters")
    if (other.isEmpty) return this
    if (isEmpty) {
      t0 = other.t0
      table = other.table.clone()
      total = other.total
      return this
    }
    if (other.t0 > t0) rebase(other.t0)
    val f = math.exp(-lambda * (t0 - other.t0))
    var i = 0
    while (i < table.length) { table(i) += other.table(i) * f; i += 1 }
    total += other.total * f
    this
  }

  def toBytes: Array[Byte] = {
    val out = new WireWriter(44 + 8 * table.length)
      .int(DecayedCms.Magic).int(depth).int(width).long(seed).double(lambda)
      .double(t0).double(total)
    var i = 0
    while (i < table.length) { out.double(table(i)); i += 1 }
    out.toBytes
  }
}

object DecayedCms {
  val Magic: Int = 0x44434d31 // "DCM1"
  val DefaultDepth = 5
  val DefaultWidth = 2048 // eps ~= 1.3e-3

  def empty(depth: Int = DefaultDepth, width: Int = DefaultWidth,
            seed: Long = 42L, lambda: Double): DecayedCms =
    new DecayedCms(depth, width, seed, lambda)

  def fromBytes(bytes: Array[Byte]): DecayedCms = {
    val in = WireReader(bytes, "DCM1", Magic)
    val depth = in.int("depth"); val width = in.int("width")
    val seed = in.long("seed"); val lambda = in.double("lambda")
    val t0 = in.double("t0"); val total = in.double("total")
    in.count("cells", depth.toLong * width, 8) // before the constructor allocates them
    val c = in.construct(new DecayedCms(depth, width, seed, lambda))
    c.t0 = t0
    c.total = total
    var i = 0
    while (i < c.table.length) { c.table(i) = in.double("cells"); i += 1 }
    in.finish()
    c
  }
}
