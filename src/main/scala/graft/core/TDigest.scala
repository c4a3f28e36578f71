package graft.core

/** t-digest quantile sketch, implemented from the published merging
  * t-digest algorithm (Dunning & Ertl, "Computing Extremely Accurate
  * Quantiles Using t-Digests"). Centroids (mean, weight) kept sorted by
  * mean; incoming points buffer and are merged in one sorted sweep that
  * greedily clusters under the k1 scale function
  * k(q) = (delta / 2pi) * asin(2q - 1), which concentrates small
  * centroids at the tails for tail-accurate quantiles.
  *
  * Merge concatenates centroid lists and re-clusters. Deterministic for
  * a given merge order; byte-identity across arbitrary merge orders is
  * NOT guaranteed (clustering history differs — same as the reference
  * DataSketches/Dunning implementations); estimate-level accuracy under
  * arbitrary merge orderings is validated in the test suite against the
  * DataSketches TDigestDouble oracle.
  */
final class TDigest(val compression: Double) extends BytesSerde {
  require(compression >= 10 && compression <= 10000,
    s"compression must be in [10,10000], got $compression")

  @inline private def maxCentroids = math.ceil(compression).toInt * 2 + 8
  @inline private def bufCap = math.max(64, maxCentroids * 4)

  // Buffers grow lazily from tiny initial arrays: a distributed
  // aggregation holds one TDigest per in-flight group — tens of
  // thousands per task — and eagerly allocating bufCap (~430 entries)
  // per group measurably blew partial-aggregation memory at high
  // parallelism. Most groups never exceed a few dozen values.
  private[core] var means: Array[Double] = new Array[Double](0)
  private[core] var weights: Array[Long] = new Array[Long](0)
  private[core] var numCentroids: Int = 0
  var n: Long = 0L
  var minV: Double = Double.NaN
  var maxV: Double = Double.NaN

  private var bufMeans: Array[Double] = new Array[Double](16)
  private var bufWeights: Array[Long] = new Array[Long](16)
  private var bufSize: Int = 0

  def add(v: Double): Unit = add(v, 1L)

  @inline private def pushBuf(v: Double, w: Long): Unit = {
    if (bufSize == bufMeans.length) {
      if (bufMeans.length < bufCap) {
        val nc = math.min(bufCap, math.max(16, bufMeans.length * 2))
        bufMeans = java.util.Arrays.copyOf(bufMeans, nc)
        bufWeights = java.util.Arrays.copyOf(bufWeights, nc)
      } else mergeBuffer()
    }
    bufMeans(bufSize) = v
    bufWeights(bufSize) = w
    bufSize += 1
  }

  def add(v: Double, w: Long): Unit = {
    if (java.lang.Double.isNaN(v) || w <= 0) return
    pushBuf(v, w)
    n += w
    if (java.lang.Double.isNaN(minV) || v < minV) minV = v
    if (java.lang.Double.isNaN(maxV) || v > maxV) maxV = v
  }

  def merge(other: TDigest): TDigest = {
    require(compression == other.compression,
      "cannot merge t-digests with different compression")
    other.mergeBuffer()
    var i = 0
    while (i < other.numCentroids) {
      pushBuf(other.means(i), other.weights(i))
      i += 1
    }
    n += other.n
    if (!java.lang.Double.isNaN(other.minV) &&
        (java.lang.Double.isNaN(minV) || other.minV < minV)) minV = other.minV
    if (!java.lang.Double.isNaN(other.maxV) &&
        (java.lang.Double.isNaN(maxV) || other.maxV > maxV)) maxV = other.maxV
    mergeBuffer()
    this
  }

  // k1 scale function and inverse
  @inline private def kOf(q: Double): Double =
    compression / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)
  @inline private def qOf(kv: Double): Double =
    (math.sin(kv * 2.0 * math.Pi / compression) + 1.0) / 2.0

  /** One sorted sweep over existing centroids + buffered points,
    * greedily clustering while the cluster stays within the k-size limit. */
  private[core] def mergeBuffer(): Unit = {
    if (bufSize == 0) return
    val total = numCentroids + bufSize
    val ms = new Array[Double](total)
    val ws = new Array[Long](total)
    System.arraycopy(means, 0, ms, 0, numCentroids)
    System.arraycopy(weights, 0, ws, 0, numCentroids)
    System.arraycopy(bufMeans, 0, ms, numCentroids, bufSize)
    System.arraycopy(bufWeights, 0, ws, numCentroids, bufSize)
    bufSize = 0
    // indirect sort by mean (stable)
    val order = (0 until total).sortBy(ms)
    val totalW = ws.sum.toDouble

    val outM = new Array[Double](maxCentroids)
    val outW = new Array[Long](maxCentroids)
    var outN = 0

    // qOf wraps non-monotonically once kLimit exceeds kOf(1.0) near the
    // upper tail; clamp to 1.0 so the limit stays a valid quantile
    @inline def qLimitOf(kLimit: Double): Double =
      if (kLimit >= kOf(1.0)) 1.0 else qOf(kLimit)

    var curMean = ms(order(0))
    var curW = ws(order(0))
    var wSoFar = 0L // weight fully emitted before current cluster
    var qLimit = qLimitOf(kOf(0.0) + 1.0)

    var j = 1
    while (j < total) {
      val idx = order(j)
      val m = ms(idx)
      val w = ws(idx)
      val qRight = (wSoFar + curW + w).toDouble / totalW
      // force absorption once the output array is full: emitting every
      // remaining point as its own centroid would overflow outM/outW
      if (qRight <= qLimit || outN >= maxCentroids - 1) {
        // absorb into current cluster (weighted mean)
        val nw = curW + w
        curMean = curMean + (m - curMean) * (w.toDouble / nw)
        curW = nw
      } else {
        outM(outN) = curMean; outW(outN) = curW; outN += 1
        wSoFar += curW
        qLimit = qLimitOf(kOf(wSoFar.toDouble / totalW) + 1.0)
        curMean = m; curW = w
      }
      j += 1
    }
    outM(outN) = curMean; outW(outN) = curW; outN += 1
    means = outM
    weights = outW
    numCentroids = outN
  }

  /** Quantile estimate with linear interpolation between centroid means. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0,1], got $q")
    mergeBuffer()
    if (n == 0L) return Double.NaN
    if (q <= 0.0) return minV
    if (q >= 1.0) return maxV
    if (numCentroids == 1) return means(0)
    val target = q * n
    // positions: centroid i spans cumulative weight (cum, cum + w_i];
    // its mean sits at cum + w_i/2
    var cum = 0.0
    var i = 0
    while (i < numCentroids) {
      val w = weights(i).toDouble
      val center = cum + w / 2.0
      if (target < center) {
        if (i == 0) {
          // interpolate between min and first centroid
          val firstCenter = weights(0) / 2.0
          if (firstCenter <= 0) return means(0)
          val t = target / firstCenter
          return minV + t * (means(0) - minV)
        } else {
          val prevW = weights(i - 1).toDouble
          val prevCenter = cum - prevW / 2.0
          val t = (target - prevCenter) / (center - prevCenter)
          return means(i - 1) + t * (means(i) - means(i - 1))
        }
      }
      cum += w
      i += 1
    }
    // beyond last centroid center: interpolate to max
    val lastW = weights(numCentroids - 1).toDouble
    val lastCenter = n - lastW / 2.0
    val denom = n - lastCenter
    if (denom <= 0) return maxV
    val t = (target - lastCenter) / denom
    means(numCentroids - 1) + t * (maxV - means(numCentroids - 1))
  }

  /** CDF estimate: fraction of mass <= v. */
  def cdf(v: Double): Double = {
    mergeBuffer()
    if (n == 0L) return Double.NaN
    if (v < minV) return 0.0
    if (v >= maxV) return 1.0
    var cum = 0.0
    var i = 0
    while (i < numCentroids) {
      val center = cum + weights(i) / 2.0
      if (means(i) > v) {
        if (i == 0) return 0.0
        val prevCenter = cum - weights(i - 1) / 2.0
        val t = (v - means(i - 1)) / (means(i) - means(i - 1))
        return (prevCenter + t * (center - prevCenter)) / n
      }
      cum += weights(i)
      i += 1
    }
    1.0
  }

  def centroidCount: Int = { mergeBuffer(); numCentroids }

  def toBytes: Array[Byte] = {
    mergeBuffer()
    val out = new WireWriter(4 + 8 + 8 + 8 + 8 + 4 + 16 * numCentroids)
      .int(TDigest.MAGIC).double(compression).long(n).double(minV).double(maxV).int(numCentroids)
    var i = 0
    while (i < numCentroids) { out.double(means(i)).long(weights(i)); i += 1 }
    out.toBytes
  }
}

object TDigest {
  val MAGIC: Int = 0x54444731 // "TDG1"
  val DefaultCompression = 100.0

  def empty(compression: Double = DefaultCompression): TDigest = new TDigest(compression)

  def fromBytes(bytes: Array[Byte]): TDigest = {
    val in = WireReader(bytes, "TDG1", MAGIC)
    val t = in.construct(new TDigest(in.double("compression")))
    t.n = in.long("n")
    t.minV = in.double("minV")
    t.maxV = in.double("maxV")
    val c = in.count("centroids", in.int("centroids"), 16)
    in.check(c <= t.maxCentroids, "centroids", s"$c centroids above ${t.maxCentroids}")
    t.means = new Array[Double](c)
    t.weights = new Array[Long](c)
    t.numCentroids = c
    var i = 0
    while (i < c) { t.means(i) = in.double("centroids"); t.weights(i) = in.long("centroids"); i += 1 }
    in.finish()
    t
  }
}
