package graft.core

import breeze.linalg.{svd, DenseMatrix}

/** O57 — Frequent Directions: a mergeable matrix sketch whose Gram
  * matrix deterministically approximates the Gram (covariance) of ALL
  * vectors ever inserted, in `<= 2*ell` rows of storage.
  *
  * This is the matrix member of the engine's sketch tier — the
  * streaming answer to "the top principal directions of 10^11
  * embeddings" the way HLL answers distinct counts: one bounded
  * buffer per partition, an associative merge, no second pass. The
  * exact-Gram alternative shuffles d^2 floats per group and still
  * needs every row; FD keeps `2*ell*d` doubles per aggregation buffer
  * and gives a spectral-norm guarantee.
  *
  * Algorithm (Liberty 2013, "Simple and deterministic matrix
  * sketching"; analysis + mergeability Ghashami-Liberty-Phillips-
  * Woodruff 2016, SIAM J. Comput. 45(5)): rows accumulate in a
  * `2*ell`-row buffer; when full, an SVD rotates the buffer to its
  * right singular basis and every squared singular value is shrunk by
  * `delta = sigma_ell^2`, zeroing at least the ell-th direction and
  * leaving `< ell` rows. Each compaction removes `>= ell * delta` of
  * squared-Frobenius mass, so the total shrinkage — which bounds the
  * spectral error — telescopes to `||A||_F^2 / ell`:
  *
  *   0  <=  x^T (A^T A - B^T B) x  <=  ||A||_F^2 / ell   (unit x)
  *
  * (lower bound: shrinking never adds energy, so `B^T B <= A^T A` in
  * the PSD order). Merging concatenates the two sketches' rows through
  * the same compaction, preserving the bound for the union — the
  * property that makes it a `groupBy`-able aggregate. Merge is
  * associative in the BOUND, not byte-stable: different merge trees
  * give different (all valid) sketches, unlike the hash sketches —
  * gates on FD are bound checks, never byte equality.
  *
  * Below capacity (`count <= 2*ell`) no compaction has happened and
  * the sketch Gram is EXACT — mirroring theta's below-k exactness.
  *
  * `frobSq` tracks the squared Frobenius norm of the ORIGINAL inserted
  * rows (not the shrunk buffer): it is the quantity the error bound is
  * stated in, and it is additive under merge.
  */
final class Fd private (val ell: Int, val dim: Int) extends Serializable {

  private val cap = 2 * ell
  // grown on demand up to `cap` rows, so a decoded blob allocates only
  // the rows it carries
  private var buf: Array[Double] = Array.emptyDoubleArray
  private var nR: Int = 0

  /** Room for one more row (the caller compacts first at `cap`). */
  private def room(): Unit =
    if (buf.length == nR * dim) buf = java.util.Arrays.copyOf(buf, math.min(cap, math.max(4, 2 * nR)) * dim)
  var count: Long = 0L
  var frobSq: Double = 0.0

  def nRows: Int = nR

  def insert(v: Array[Double]): Unit = {
    require(v.length == dim, s"expected dim $dim, got ${v.length}")
    if (nR == cap) compact()
    room()
    System.arraycopy(v, 0, buf, nR * dim, dim)
    nR += 1
    count += 1L
    var i = 0
    var s = 0.0
    while (i < dim) { s += v(i) * v(i); i += 1 }
    frobSq += s
  }

  /** Append the other sketch's rows through the same compaction path.
    * Shrunk rows are valid FD input: the energy argument only needs
    * each buffered row to under-represent the original data, which
    * holds inductively. frobSq/count stay original-data quantities. */
  def merge(other: Fd): Fd = {
    require(other.dim == dim, s"dim mismatch: $dim vs ${other.dim}")
    require(other.ell == ell, s"ell mismatch: $ell vs ${other.ell}")
    // self-merge would read `buf` while compact() rewrites it (and the
    // loop bound would grow with each append) — snapshot the source
    val o = if (other eq this) Fd.fromBytes(other.toBytes) else other
    var r = 0
    while (r < o.nR) {
      if (nR == cap) compact()
      room()
      System.arraycopy(o.buf, r * dim, buf, nR * dim, dim)
      nR += 1
      r += 1
    }
    count += o.count
    frobSq += o.frobSq
    this
  }

  /** One shrinkage step: SVD, subtract sigma_ell^2 from every squared
    * singular value, keep the `< ell` survivors as rows of the new
    * buffer. No-op below ell rows (nothing would shrink). */
  def compact(): Unit = {
    if (nR < ell) return
    val m = DenseMatrix.zeros[Double](nR, dim)
    var r = 0
    while (r < nR) {
      var c = 0
      while (c < dim) { m(r, c) = buf(r * dim + c); c += 1 }
      r += 1
    }
    val s = svd.reduced(m)
    val rank = s.S.length
    val delta = {
      val i = math.min(ell, rank) - 1
      s.S(i) * s.S(i)
    }
    java.util.Arrays.fill(buf, 0.0)
    var out = 0
    var i = 0
    val keep = math.min(ell - 1, rank)
    while (i < keep) {
      val sv2 = s.S(i) * s.S(i) - delta
      if (sv2 > 1e-300) {
        val sv = math.sqrt(sv2)
        var c = 0
        while (c < dim) { buf(out * dim + c) = sv * s.Vt(i, c); c += 1 }
        out += 1
      }
      i += 1
    }
    nR = out
  }

  /** The sketch Gram `B^T B` as a row-major dim x dim array. */
  def gram: Array[Double] = {
    val g = new Array[Double](dim * dim)
    var r = 0
    while (r < nR) {
      val base = r * dim
      var i = 0
      while (i < dim) {
        val vi = buf(base + i)
        if (vi != 0.0) {
          var j = 0
          while (j < dim) { g(i * dim + j) += vi * buf(base + j); j += 1 }
        }
        i += 1
      }
      r += 1
    }
    g
  }

  /** The error bound the guarantee is stated in: `||A||_F^2 / ell`. */
  def errBound: Double = frobSq / ell

  def toBytes: Array[Byte] = {
    val out = new WireWriter(32 + nR * dim * 8)
      .int(Fd.Magic).int(ell).int(dim).int(nR).long(count).double(frobSq)
    var i = 0
    val n = nR * dim
    while (i < n) { out.double(buf(i)); i += 1 }
    out.toBytes
  }
}

object Fd {
  /** "FDS1" */
  val Magic = 0x46445331

  def empty(ell: Int, dim: Int): Fd = {
    require(ell >= 2, s"ell must be >= 2 ($ell)")
    require(dim >= 1, s"dim must be positive ($dim)")
    require(ell.toLong * 2L * dim <= Int.MaxValue / 16, s"sketch too large: ell=$ell dim=$dim")
    new Fd(ell, dim)
  }

  def fromBytes(bytes: Array[Byte]): Fd = {
    val in = WireReader(bytes, "FDS1", Magic)
    val ell = in.int("ell"); val dim = in.int("dim")
    val fd = in.construct(empty(ell, dim))
    val nR = in.int("rows")
    fd.count = in.long("count")
    fd.frobSq = in.double("frobSq")
    in.check(nR >= 0 && nR <= 2 * ell, "rows", s"$nR rows above 2*ell")
    val n = in.count("rows", nR.toLong * dim, 8)
    // raw rows (not insert: frobSq/count are already restored)
    fd.buf = Array.fill(n)(in.double("rows"))
    fd.nR = nR
    in.finish()
    fd
  }
}
