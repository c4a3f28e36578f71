package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The EBF encode, merge and decode kernels against the ones they
  * replaced, kept here as the oracle: a `toBytes` that sorts the
  * `(bucket << 32) | fp` pairs with the JDK sort and reads the counts
  * section off the dense counts array, and a two-step `merge` that
  * re-levels both sides, adds the counts arrays and normalizes after.
  * The filter stores one level-free address per derived hash; the
  * oracle reads each as the paper's bucket and fingerprint at the
  * filter's level, by the paper's formula rather than the filter's own
  * mask, and the built filters' pairs are checked against that formula
  * applied to the keys' hashes. Round-trip and split-merge specs cannot
  * catch an encoding that changed the same way on both sides; this one
  * compares every filter's bytes with the oracle's, at every level a
  * filter can walk to and back. */
class EbfKernelSpec extends AnyFunSuite {

  private val m0s = Seq(1, 2, 64, 1024)
  private val l0s = Seq(0, 3, 16)
  private val ns = Seq(0, 1, 2, 5, 17, 100, 1000, 5000, 40000)
  private val ks = Seq(1, 5)
  /** (m0, l0, ns): the grid, plus m0 = 2^20 at l0 = 16, whose addresses
    * are 36 bits wide, at small n: its counts array alone is 4 MiB. */
  private val grid = (for (m0 <- m0s; l0 <- l0s) yield (m0, l0, ns)) :+ ((1 << 20, 16, ns.filter(_ <= 100)))
  /** A level walk stops at this many buckets where `maxLevel` has more:
    * the dense oracle writes one cell per bucket. */
  private val walkBuckets = 1 << 16

  /** The paper's bucket `b0 + (fp & (2^L - 1)) * m0` and fingerprint
    * `fp >>> L` at `e`'s level L, as `(bucket << 32) | fp`. */
  private def paperPair(e: Ebf, b0: Long, fp: Long): Long =
    ((b0 + (fp & ((1L << e.level) - 1)) * e.m0) << 32) | (fp >>> e.level)

  /** `e`'s stored addresses `a` as paper pairs: `b0 = a & (m0 - 1)`,
    * `fp = a >>> log2(m0)`. */
  private def storedPairs(e: Ebf): Array[Long] = {
    val log2m0 = Integer.numberOfTrailingZeros(e.m0)
    Array.tabulate(e.numPairs)(i => paperPair(e, e.pairs(i) & (e.m0 - 1), e.pairs(i) >>> log2m0))
  }

  /** The paper pairs of `keys` at `e`'s level, sorted, from their hashes:
    * `b0` is a derived hash's low `log2(m0)` bits, `fp` the `l0` above. */
  private def hashedPairs(e: Ebf, keys: Iterable[String]): Array[Long] = {
    val log2m0 = Integer.numberOfTrailingZeros(e.m0)
    val out = keys.iterator.flatMap { key =>
      val h = Hash128.hashString(key, e.seed)
      (0 until e.k).map(i => paperPair(e, h.derived(i) & (e.m0 - 1), (h.derived(i) >>> log2m0) & ((1L << e.l0) - 1)))
    }.toArray
    java.util.Arrays.sort(out)
    out
  }

  private def oracleBytes(e: Ebf): Array[Byte] = {
    val w = e.fpWidth
    val sorted = storedPairs(e)
    java.util.Arrays.sort(sorted)
    val out = new WireWriter(64)
      .int(Ebf.MAGIC).int(e.m0).int(e.k).int(e.l0).int(e.level).int(e.alphaNum).int(e.alphaDen)
      .long(e.seed).long(e.n)
      .cells(e.numBuckets, 0, signed = false, null)(b => e.counts(b).toLong)
    var acc = 0L
    var accBits = 0
    var i = 0
    while (i < e.numPairs && w > 0) {
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

  /** The two-step merge: it re-levels `b` in place as it always did. */
  private def oracleMerge(a: Ebf, b: Ebf): Ebf = {
    if (a.level < b.level) a.expandTo(b.level)
    if (b.level < a.level) b.expandTo(a.level)
    val add = b.numPairs
    if (a.numPairs + add > a.pairs.length) {
      val grown = new Array[Long](math.max(a.pairs.length * 2, a.numPairs + add))
      System.arraycopy(a.pairs, 0, grown, 0, a.numPairs)
      a.pairs = grown
    }
    System.arraycopy(b.pairs, 0, a.pairs, a.numPairs, add)
    a.numPairs += add
    var i = 0
    while (i < a.numBuckets) { a.counts(i) += b.counts(i); i += 1 }
    a.n += b.n
    var target = a.level
    while (target < a.maxLevel && a.n * a.alphaDen > a.alphaNum.toLong * (a.m0.toLong << target)) target += 1
    if (target > a.level) a.expandTo(target)
    a
  }

  /** A private copy of `e`'s state, made without the codec under test. */
  private def twin(e: Ebf): Ebf = {
    val t = new Ebf(e.m0, e.k, e.l0, e.alphaNum, e.alphaDen, e.seed)
    t.level = e.level
    t.n = e.n
    t.pairs = e.pairs.clone()
    t.numPairs = e.numPairs
    t.counts = e.counts.clone()
    t
  }

  private def filter(m0: Int, l0: Int, k: Int, keys: Iterable[String]): Ebf = {
    val e = Ebf.empty(m0 = m0, k = k, l0 = l0, seed = 11L)
    keys.foreach(e.insert)
    e
  }

  private def keys(n: Int, tag: String = "key"): IndexedSeq[String] = (0 until n).map(i => s"$tag-$i")

  private def sameBytes(a: Array[Byte], b: Array[Byte]): Boolean = java.util.Arrays.equals(a, b)

  private val modes = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()

  /** The kernels' contract on one filter; `None` when it holds. */
  private def check(what: String, e: Ebf): Option[String] = {
    val bytes = e.toBytes
    val expected = oracleBytes(e)
    modes.add(bytes(44) & 0xff)
    if (!sameBytes(bytes, expected)) Some(s"$what: toBytes differs from the sort-based oracle")
    else if (e.sizeBytes != bytes.length) Some(s"$what: sizeBytes ${e.sizeBytes} != ${bytes.length}")
    else {
      val back = Ebf.fromBytes(bytes)
      if (!sameBytes(back.toBytes, bytes) || !sameBytes(oracleBytes(back), bytes))
        Some(s"$what: fromBytes does not round-trip")
      else if (back.level != e.level || back.n != e.n || back.bitsSet != e.bitsSet)
        Some(s"$what: decoded header or occupancy differs")
      else None
    }
  }

  private def sweep(body: (Int, Int, Int, Int) => Seq[Option[String]]): Unit = {
    val bad = for ((m0, l0, ns) <- grid; k <- ks; n <- ns; v <- body(m0, l0, k, n).flatten)
      yield s"m0=$m0 l0=$l0 k=$k n=$n: $v"
    assert(bad.isEmpty, bad.take(10).mkString("\n", "\n", ""))
  }

  /** Check `e`, expand it to `maxLevel` (or [[walkBuckets]]) in one
    * step, then compress it one level at a time to level 0, checking it
    * at every level. */
  private def walk(e: Ebf, keys: Iterable[String]): Seq[Option[String]] = {
    var top = e.maxLevel
    while (top > e.level && (e.m0.toLong << top) > walkBuckets) top -= 1
    val start = atLevel(e, keys)
    if (top > e.level) e.expandTo(top)
    start +: (top to 0 by -1).map { l => if (l < e.level) e.compress(); atLevel(e, keys) }
  }

  private def atLevel(e: Ebf, keys: Iterable[String]): Option[String] =
    if (!java.util.Arrays.equals(storedPairs(e).sorted, hashedPairs(e, keys)))
      Some(s"level ${e.level}: stored pairs differ from the paper's")
    else check(s"level ${e.level}", e)

  test("toBytes, sizeBytes and fromBytes match the oracle after inserts, compress and delete") {
    sweep { (m0, l0, k, n) =>
      val ks0 = keys(n)
      val built = filter(m0, l0, k, ks0)
      val dup = filter(m0, l0, k, Seq.fill(n)("same-key"))
      val deleted = filter(m0, l0, k, ks0)
      val gone = ks0.indices.filter(_ % 7 == 3).take(5).map(ks0)
      val deletes = gone.map(deleted.delete)
      val kept = deleted.toBytes
      val absent = deleted.delete("absent-key")
      val squeezed = filter(m0, l0, k, ks0)
      if (squeezed.level > 0) squeezed.compress()
      val decoded = Ebf.fromBytes(built.toBytes)
      Seq(
        check("built", built),
        check("all duplicates", dup),
        if (deletes.forall(identity)) check("after delete", deleted) else Some("a delete failed"),
        if (absent || sameBytes(deleted.toBytes, kept)) None else Some("a refused delete changed the filter"),
        check("after compress", squeezed),
        if (ks0.forall(decoded.mightContain)) None else Some("decoded filter lost a member")) ++
        walk(filter(m0, l0, k, ks0), ks0)
    }
    assert(modes.contains(0) && modes.contains(1), s"cell section modes seen: $modes")
  }

  test("delete needs one stored copy per repeated address, and a refused one changes nothing") {
    // m0 = 2, l0 = 0: a key's address is its derived hash's low bit
    val e = Ebf.empty(m0 = 2, k = 2, l0 = 0, seed = 11L)
    def addrs(key: String) = (0 until 2).map(i => Hash128.hashString(key, 11L).derived(i) & 1).sorted
    val mixed = keys(100, "mixed").find(addrs(_) == Seq(0L, 1L)).get
    val twice = keys(100, "twice").find(addrs(_) == Seq(0L, 0L)).get
    e.insert(mixed)
    val bytes = e.toBytes
    assert(!e.delete(twice), "deleted a key whose address 0 is stored once, not twice")
    assert(sameBytes(e.toBytes, bytes) && e.n == 1 && e.numPairs == 2)
    e.insert(mixed)
    assert(e.delete(twice) && e.n == 1 && e.bitsSet == 1, "address 0 stored twice must serve both of its hashes")
  }

  test("random merge trees in both orders, and a.merge(a), match the two-step oracle") {
    sweep { (m0, l0, k, n) =>
      val rnd = new scala.util.Random(m0 * 31L + l0 * 7L + k * 1000003L + n)
      val ks0 = keys(n)
      val parts = 1 + rnd.nextInt(5)
      val byPart = ks0.groupBy(_ => rnd.nextInt(parts))
      val pieces = (0 until parts).map(p => filter(m0, l0, k, byPart.getOrElse(p, Nil)))
      // one random tree, merged by the kernel and by the oracle on twins
      var live = pieces.map(twin)
      var twins = pieces.map(twin)
      while (live.size > 1) {
        val i = rnd.nextInt(live.size)
        val j = (i + 1 + rnd.nextInt(live.size - 1)) % live.size
        val (a, b) = if (rnd.nextBoolean()) (i, j) else (j, i)
        live(a).merge(live(b))
        oracleMerge(twins(a), twins(b))
        live = live.patch(b, Nil, 1)
        twins = twins.patch(b, Nil, 1)
      }
      val whole = filter(m0, l0, k, ks0).toBytes
      val ab = twin(pieces.head).merge(twin(pieces.last)).toBytes
      val ba = twin(pieces.last).merge(twin(pieces.head)).toBytes
      val self = twin(pieces.head).merge(twin(pieces.head))
      val selfOracle = oracleMerge(twin(pieces.head), twin(pieces.head))
      val alias = twin(pieces.head)
      alias.merge(alias)
      Seq(
        if (sameBytes(live.head.toBytes, oracleBytes(twins.head))) None else Some("merge tree differs from the oracle"),
        if (sameBytes(live.head.toBytes, whole)) None else Some("merge tree differs from one sequential build"),
        check("merge tree", live.head),
        if (sameBytes(ab, ba)) None else Some("a.merge(b) and b.merge(a) differ"),
        if (sameBytes(self.toBytes, oracleBytes(selfOracle))) None else Some("merge with a copy differs from the oracle"),
        if (alias.n == 2L * pieces.head.n && sameBytes(alias.toBytes, self.toBytes)) None
        else Some("a.merge(a) does not double the multiset"),
        check("a.merge(a)", alias))
    }
  }

  test("merge leaves its argument's level and bytes unchanged") {
    sweep { (m0, l0, k, n) =>
      val big = filter(m0, l0, k, keys(n, "big"))
      val small = filter(m0, l0, k, keys(n / 10, "small"))
      val level = small.level
      val bytes = small.toBytes
      big.merge(small)
      Seq(if (small.level == level && sameBytes(small.toBytes, bytes)) None
        else Some(s"argument changed: level $level -> ${small.level}"))
    }
  }
}
