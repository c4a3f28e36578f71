package graft.core

import java.nio.charset.StandardCharsets

/** Mergeable bottom-k uniform sample of DISTINCT keys.
  *
  * The payload-carrying sibling of [[Theta]]: keep the k keys whose
  * md5 is smallest. Because md5 is a fixed public function of the key
  * (not a seeded/derived hash), the retained set is a deterministic
  * function of the key SET — exactly reproducible in any engine with
  * md5 (`ORDER BY md5(key) LIMIT k` per group), which makes the driver
  * gate VALUE-EXACT rather than a distributional bound.
  *
  * Properties (all spec-pinned):
  *  - uniform over distinct keys: md5 is uniform on inputs, so the k
  *    smallest hashes are a simple random sample of the distinct-key
  *    set (the KMV argument; duplicates collapse by construction);
  *  - merge = keep-k-smallest of the set union: associative,
  *    commutative, idempotent, and BYTE-stable under any merge tree
  *    (canonical hash-sorted wire order) — the strongest merge law in
  *    the library, same as Theta;
  *  - one pass, map-side partial aggregation, O(log k) per insert —
  *    the grouped-sampling form that needs no per-group sort/window
  *    (a `row_number() OVER (ORDER BY md5)` plan sorts EVERY row of
  *    every group; this keeps k per partial buffer).
  *
  * Distinct md5 collisions between different keys would alias two keys
  * (2^-64-ish at the 16-byte compare; we compare the full digest) —
  * the standard KMV caveat, negligible at any real k and corpus.
  */
final class BottomKSample(val k: Int) extends BytesSerde {
  require(k >= 1, s"k must be >= 1, got $k")

  // md5 hex (32 chars, lexicographic == bytewise order) -> key
  private val m = new java.util.TreeMap[String, String]()

  def size: Int = m.size

  def add(key: String): Unit = {
    if (key != null) addHashed(BottomKSample.md5Hex(key), key)
  }

  private def addHashed(h: String, key: String): Unit = {
    if (m.containsKey(h)) return
    if (m.size < k) { m.put(h, key); return }
    if (h.compareTo(m.lastKey) < 0) {
      m.put(h, key)
      m.remove(m.lastKey)
    }
  }

  def merge(other: BottomKSample): BottomKSample = {
    require(k == other.k, "cannot merge bottom-k samples with different k")
    other.m.forEach((h, key) => addHashed(h, key))
    this
  }

  /** Retained keys in hash order (the canonical order). */
  def keys: Array[String] = {
    val out = new Array[String](m.size)
    var i = 0
    val it = m.values.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def toBytes: Array[Byte] = {
    val out = new WireWriter().int(BottomKSample.MAGIC).int(k).int(m.size)
    keys.foreach(key => out.blob(key.getBytes(StandardCharsets.UTF_8)))
    out.toBytes
  }
}

object BottomKSample {
  val MAGIC: Int = 0x424b5331 // "BKS1"
  val DefaultK = 64

  def empty(k: Int = DefaultK): BottomKSample = new BottomKSample(k)

  def fromBytes(bytes: Array[Byte]): BottomKSample = {
    val in = WireReader(bytes, "BKS1", MAGIC)
    val s = in.construct(new BottomKSample(in.int("k")))
    val n = in.count("keys", in.int("keys"), 4)
    in.check(n <= s.k, "keys", s"$n keys above k = ${s.k}")
    var i = 0
    while (i < n) {
      val key = new String(in.blob("keys"), StandardCharsets.UTF_8)
      s.m.put(md5Hex(key), key)
      i += 1
    }
    in.finish()
    s
  }

  private[core] def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }
}
