package graft.core

import java.nio.ByteBuffer

/** KMV ("k minimum values") / theta sketch: distinct counting WITH set
  * algebra — the capability HLL lacks. An HLL union is exact, but
  * intersection/difference cardinalities can only be had by
  * inclusion-exclusion, whose error grows with the UNION size; the KMV
  * sketch retains the k smallest distinct key hashes, so two sketches
  * can be intersected directly on their retained samples below a
  * common threshold. Published algorithm: Beyer et al. 2007 ("On
  * Synopses for Distinct Value Estimation"), the theta generalization
  * as in the Apache DataSketches theta family.
  *
  * Representation: up to `k` smallest distinct 64-bit key hashes in
  * UNSIGNED order (stored sign-flipped so signed sort == unsigned
  * sort), canonical (sorted, distinct, trimmed) — so merge is
  * keep-k-smallest of the set union: exactly associative, commutative
  * and idempotent, and byte-identical under any merge tree (the same
  * guarantee contract as every other sketch here; spec-asserted).
  *
  * Estimators (u(h) = h as a uniform in [0,1)):
  *   full (|R| = k):   N^ = (k-1) / u(max retained)
  *   not full:         N^ = |R|            (exact: nothing discarded)
  *   intersection:     theta_c = min(theta_A, theta_B);
  *                     N^ = |{v in R_A and R_B : u(v) < theta_c}| / theta_c
  *   difference (A\B): N^ = |{v in R_A, not in R_B : u(v) < theta_c}| / theta_c
  * Relative standard error ~ 1 / sqrt(k - 2) for the full case
  * (~2.2% at the default k = 2048).
  */
final class Theta(var k: Int, var seed: Long) extends BytesSerde {
  require(k >= 8, s"k must be >= 8, got $k")

  // canonical retained set: sign-FLIPPED hashes, sorted ascending
  // (== unsigned ascending of the raw hashes), distinct, length <= k
  private[core] var vals: Array[Long] = Array.emptyLongArray
  // unsorted insert scratch, compacted on demand
  private var scratch: Array[Long] = _
  private var sUsed: Int = 0

  @inline private def flip(h: Long): Long = h ^ Long.MinValue

  /** u-value of a FLIPPED hash: uniform in [0,1), 53-bit precision. */
  @inline private def u(f: Long): Double =
    ((f ^ Long.MinValue) >>> 11).toDouble / (1L << 53).toDouble

  /** Current threshold: 1.0 until full, else u(max retained). */
  private def theta: Double =
    if (vals.length < k) 1.0 else u(vals(vals.length - 1))

  def addHash(h: Long): Unit = {
    val f = flip(h)
    // fast reject once full: values past the current max can never
    // enter the k smallest (scratch may hold smaller pending values,
    // which only lowers the bar further)
    if (vals.length == k && f > vals(vals.length - 1)) return
    if (scratch == null) scratch = new Array[Long](256)
    scratch(sUsed) = f
    sUsed += 1
    if (sUsed == scratch.length) compact()
  }

  def add(key: String): Unit = addHash(Hash128.hashString(key, seed).h1)
  def add(key: Long): Unit = addHash(Hash128.hashLong(key, seed).h1)
  def add(key: Array[Byte]): Unit = addHash(Hash128.hashBytes(key, seed).h1)

  /** Restore the canonical form: merge scratch into `vals`, distinct,
    * keep the k smallest. */
  private[core] def compact(): Unit = {
    if (sUsed == 0) return
    val merged = new Array[Long](vals.length + sUsed)
    System.arraycopy(vals, 0, merged, 0, vals.length)
    System.arraycopy(scratch, 0, merged, vals.length, sUsed)
    java.util.Arrays.sort(merged)
    var out = 0
    var i = 0
    while (i < merged.length && out < k) {
      if (out == 0 || merged(i) != merged(i - 1)) {
        merged(out) = merged(i)
        out += 1
      }
      i += 1
    }
    // NOTE the dedup writes in place ascending, so merged(0..out) is
    // the k smallest distinct; trim to exactly `out`
    vals = java.util.Arrays.copyOf(merged, out)
    sUsed = 0
  }

  def estimate: Double = {
    compact()
    if (vals.length < k) vals.length.toDouble
    else (k - 1).toDouble / theta
  }

  def merge(other: Theta): Theta = {
    require(seed == other.seed, "cannot merge theta sketches with different seeds")
    // k mismatch resolves to the smaller (the coarser sketch bounds
    // what the union can claim); same-k is the common path
    compact(); other.compact()
    if (other.k < k) k = other.k
    var i = 0
    while (i < other.vals.length) {
      if (scratch == null) scratch = new Array[Long](256)
      scratch(sUsed) = other.vals(i)
      sUsed += 1
      if (sUsed == scratch.length) compact()
      i += 1
    }
    compact()
    this
  }

  /** |A intersect B| estimate (see class doc). Exact when both sides
    * are below capacity (every distinct hash retained). */
  def intersectEstimate(other: Theta): Double =
    setOpEstimate(other, intersection = true)

  /** |A minus B| estimate. */
  def differenceEstimate(other: Theta): Double =
    setOpEstimate(other, intersection = false)

  private def setOpEstimate(other: Theta, intersection: Boolean): Double = {
    require(seed == other.seed, "cannot combine theta sketches with different seeds")
    compact(); other.compact()
    val thetaC = math.min(theta, other.theta)
    var i = 0
    var j = 0
    var n = 0
    while (i < vals.length && u(vals(i)) < thetaC) {
      val v = vals(i)
      while (j < other.vals.length && other.vals(j) < v) j += 1
      val inBoth = j < other.vals.length && other.vals(j) == v
      if (inBoth == intersection) n += 1
      i += 1
    }
    n.toDouble / thetaC
  }

  /** Jaccard similarity estimate |A&B| / |A|B| from the two sketches. */
  def jaccardEstimate(other: Theta): Double = {
    val inter = intersectEstimate(other)
    val uni = Theta.fromBytes(toBytes).merge(Theta.fromBytes(other.toBytes)).estimate
    if (uni == 0.0) 0.0 else inter / uni
  }

  def retained: Int = { compact(); vals.length }

  /** Relative standard error of the full-sketch estimator. */
  def rse: Double = 1.0 / math.sqrt((k - 2).toDouble)

  def toBytes: Array[Byte] = {
    compact()
    val buf = ByteBuffer.allocate(4 + 4 + 8 + 4 + 8 * vals.length)
    buf.putInt(Theta.MAGIC)
    buf.putInt(k)
    buf.putLong(seed)
    buf.putInt(vals.length)
    var i = 0
    while (i < vals.length) { buf.putLong(vals(i) ^ Long.MinValue); i += 1 }
    buf.array()
  }

  private[core] def loadBytes(bytes: Array[Byte]): Unit = {
    val in = ByteBuffer.wrap(bytes)
    val magic = in.getInt()
    require(magic == Theta.MAGIC, f"bad theta magic 0x$magic%08x")
    k = in.getInt()
    seed = in.getLong()
    val n = in.getInt()
    // re-initializes a placeholder instance (fromBytes): init every field
    vals = new Array[Long](n)
    scratch = null
    sUsed = 0
    var i = 0
    while (i < n) { vals(i) = in.getLong() ^ Long.MinValue; i += 1 }
  }
}

object Theta {
  val MAGIC: Int = 0x54485331 // "THS1"
  val DefaultK = 2048         // RSE ~ 2.2%
  val DefaultSeed = 42L

  def empty(k: Int = DefaultK, seed: Long = DefaultSeed): Theta = new Theta(k, seed)

  def fromBytes(bytes: Array[Byte]): Theta = {
    val t = new Theta(8, 0L)
    t.loadBytes(bytes)
    t
  }
}
