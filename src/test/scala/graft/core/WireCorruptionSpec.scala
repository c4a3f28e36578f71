package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Hostile and corrupt wire bytes, over every format: decoding (and
  * then using the sketch) either succeeds or throws
  * `IllegalArgumentException`; no other exception escapes. Covers
  * header fields patched to out-of-range or inconsistent values,
  * every truncation length, one trailing byte, and a seeded bit-flip
  * sweep. Truncated blobs and blobs with trailing bytes must be
  * rejected outright.
  */
class WireCorruptionSpec extends AnyFunSuite {

  private def keys(tag: String, n: Int): Seq[String] = (0 until n).map(i => s"$tag-$i")

  /** A valid blob and a decode-then-use function for it. */
  private case class Format(name: String, bytes: Array[Byte], use: Array[Byte] => Any)

  private def ebfBytes(m0: Int, alphaDen: Int, n: Int): Array[Byte] = {
    val e = Ebf.empty(m0 = m0, k = 3, alphaDen = alphaDen, seed = 5L)
    keys("e", n).foreach(e.insert)
    e.toBytes
  }

  private val useEbf: Array[Byte] => Any = b => {
    val e = Ebf.fromBytes(b); e.mightContain("probe"); e.fprBound; e.toBytes
  }
  private val useCms: Array[Byte] => Any = b => {
    val c = Cms.fromBytes(b); c.estimate("probe"); c.add("x", 2L); c.toBytes
  }
  private val useCs: Array[Byte] => Any = b => {
    val c = CountSketch.fromBytes(b); c.estimate("probe"); c.toBytes
  }
  private val useHll: Array[Byte] => Any = b => {
    val h = Hll.fromBytes(b); h.estimate; h.add("x"); h.toBytes
  }

  private lazy val formats: Seq[Format] = Seq(
    Format("EBF2 sparse", ebfBytes(256, 8, 30), useEbf),
    Format("EBF2 dense", ebfBytes(16, 1, 90), useEbf),
    Format("EBF2 empty", ebfBytes(64, 8, 0), useEbf),
    Format("HLL2 sparse", { val h = Hll.empty(10); keys("h", 20).foreach(h.add); h.toBytes }, useHll),
    Format("HLL2 dense", { val h = Hll.empty(6); keys("h", 400).foreach(h.add); h.toBytes }, useHll),
    Format("CMS2 sparse", { val c = Cms.empty(3, 64); keys("c", 5).foreach(c.add(_, 3L)); c.toBytes },
      useCms),
    Format("CMS2 dense", { val c = Cms.empty(2, 8); keys("c", 40).foreach(c.add(_, 1L << 50)); c.toBytes },
      useCms),
    Format("CSK1 sparse", {
      val c = CountSketch.empty(3, 64); keys("s", 5).foreach(c.add(_, -2L)); c.toBytes
    }, useCs),
    Format("CSK1 dense", {
      val c = CountSketch.empty(2, 8); keys("s", 40).foreach(c.add(_, 1L << 52)); c.toBytes
    }, useCs),
    Format("KLL1", { val s = Kll.empty(8); (0 until 60).foreach(i => s.add(i * 1.5)); s.toBytes },
      b => { val s = Kll.fromBytes(b); s.quantile(0.5); s.add(1.0); s.toBytes }),
    Format("TDG1", { val t = TDigest.empty(10.0); (0 until 80).foreach(i => t.add(i % 17)); t.toBytes },
      b => { val t = TDigest.fromBytes(b); t.quantile(0.9); t.add(2.0); t.toBytes }),
    Format("THS1", { val t = Theta.empty(16); keys("t", 40).foreach(t.add); t.toBytes },
      b => { val t = Theta.fromBytes(b); t.estimate; t.add("x"); t.toBytes }),
    Format("FQS2", {
      val f = FreqSketch.empty(4); keys("f", 9).foreach(f.add(_, 2L)); f.toBytes
    }, b => { val f = FreqSketch.fromBytes(b); f.topK(3); f.add("x"); f.toBytes }),
    Format("BKS1", { val s = BottomKSample.empty(4); keys("b", 9).foreach(s.add); s.toBytes },
      b => { val s = BottomKSample.fromBytes(b); s.add("x"); s.toBytes }),
    Format("DCM1", {
      val d = DecayedCms.empty(2, 4, 3L, 0.1); keys("d", 6).foreach(d.add(_, 1.0)); d.toBytes
    }, b => { val d = DecayedCms.fromBytes(b); d.estimate("probe", 2.0); d.toBytes }),
    Format("FDS1", { val f = Fd.empty(2, 2); f.insert(Array(1.0, 2.0)); f.insert(Array(3.0, -1.0)); f.toBytes },
      b => { val f = Fd.fromBytes(b); f.gram; f.insert(Array(0.5, 0.5)); f.toBytes })
  )

  private def format(name: String): Format = formats.find(_.name == name).get

  /** Some(message) if `use` threw anything but IllegalArgumentException
    * or succeeded when `mustFail`; None when the outcome is allowed. */
  private def violation(f: Format, b: Array[Byte], mustFail: Boolean): Option[String] =
    try {
      f.use(b)
      if (mustFail) Some("accepted") else None
    } catch {
      case _: IllegalArgumentException => None
      case t: Throwable => Some(t.toString)
    }

  private def patched(b: Array[Byte], off: Int, v: Long, width: Int): Array[Byte] = {
    val c = b.clone()
    var i = 0
    while (i < width) { c(off + i) = (v >>> (8 * (width - 1 - i))).toByte; i += 1 }
    c
  }

  private def int(name: String, off: Int, v: Int) = (name, off, v.toLong, 4)
  private def long(name: String, off: Int, v: Long) = (name, off, v, 8)

  // (format, byte offset, value, width): each must be rejected
  private lazy val headerPatches: Seq[(String, Int, Long, Int)] = Seq(
    int("EBF2 sparse", 8, 0),                 // k = 0: would accept every key
    int("EBF2 sparse", 8, 17),                // k above its range
    int("EBF2 sparse", 4, 256 | Int.MinValue), // m0 with its sign bit set
    int("EBF2 sparse", 4, Int.MinValue),      // m0 = -2^31, one bit set
    int("EBF2 sparse", 12, 31),               // l0 above 30
    int("EBF2 sparse", 16, 17),               // level above maxLevel
    int("EBF2 sparse", 16, -1),
    int("EBF2 sparse", 24, 0),                // alphaDen = 0
    long("EBF2 sparse", 36, 31L),             // n disagrees with the stored pairs
    long("EBF2 sparse", 36, -1L),
    int("EBF2 dense", 16, 0),                 // level down: counts no longer fill the section
    int("HLL2 sparse", 4, 30),                // p out of range
    int("HLL2 sparse", 4, 4),                 // register index beyond 2^p
    int("HLL2 sparse", 17, 1 << 30),          // sparse entry count
    int("HLL2 dense", 4, 7),                  // dense registers no longer fill the blob
    int("CMS2 sparse", 8, 0x7f001000),        // width: silent undercount before
    int("CMS2 sparse", 4, 0),
    int("CMS2 sparse", 8, 32),                // cell index beyond depth*width
    int("CMS2 dense", 4, 5),                  // dense cells beyond the bytes present
    int("CMS2 dense", 8, 1 << 20),
    int("CSK1 sparse", 8, 0x7f001000),
    int("CSK1 dense", 8, 1 << 20),
    int("KLL1", 4, 0),
    int("KLL1", 40, 1 << 30),                 // level count
    int("KLL1", 40, 0),
    int("KLL1", 44, 1 << 30),                 // items in level 0
    long("TDG1", 4, java.lang.Double.doubleToRawLongBits(Double.NaN)),
    int("TDG1", 36, 1 << 30),                 // centroid count
    int("THS1", 4, 0),
    int("THS1", 16, 1 << 30),                 // retained count
    int("THS1", 16, 39),
    int("FQS2", 4, 0),
    int("FQS2", 32, 1 << 30),                 // item count
    int("FQS2", 36, 1 << 30),                 // first item length
    int("BKS1", 4, 0),
    int("BKS1", 8, 1 << 30),
    int("BKS1", 12, -5),                      // first key length
    int("DCM1", 8, 0x7f001000),
    int("DCM1", 4, 3),                        // cells beyond the bytes present
    int("FDS1", 8, 0),
    int("FDS1", 12, 5)                        // rows beyond 2*ell
  )

  test("patched header fields are rejected with IllegalArgumentException") {
    val bad = headerPatches.flatMap { case (name, off, v, w) =>
      violation(format(name), patched(format(name).bytes, off, v, w), mustFail = true)
        .map(m => s"$name @$off = $v: $m")
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("every valid fixture decodes and is usable") {
    formats.foreach(f => f.use(f.bytes))
  }

  test("every truncation length is rejected with IllegalArgumentException") {
    val bad = formats.flatMap { f =>
      (0 until f.bytes.length).flatMap { len =>
        violation(f, java.util.Arrays.copyOf(f.bytes, len), mustFail = true)
          .map(m => s"${f.name} cut to $len/${f.bytes.length}: $m")
      }
    }
    assert(bad.isEmpty, bad.take(20).mkString("\n", "\n", ""))
  }

  test("a trailing byte is rejected with IllegalArgumentException") {
    val bad = formats.flatMap { f =>
      Seq(1, 7).flatMap { extra =>
        violation(f, java.util.Arrays.copyOf(f.bytes, f.bytes.length + extra), mustFail = true)
          .map(m => s"${f.name} + $extra bytes: $m")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("seeded bit flips: decode succeeds or throws IllegalArgumentException") {
    val rnd = new scala.util.Random(20261017L)
    val bad = formats.flatMap { f =>
      val n = f.bytes.length * 8
      // every header bit, then random bits over the whole blob
      val bits = (0 until math.min(n, 48 * 8)) ++ Seq.fill(200)(rnd.nextInt(n))
      bits.flatMap { bit =>
        val c = f.bytes.clone()
        c(bit / 8) = (c(bit / 8) ^ (1 << (bit % 8))).toByte
        violation(f, c, mustFail = false).map(m => s"${f.name} bit $bit: $m")
      }
    }
    assert(bad.isEmpty, bad.take(20).mkString("\n", "\n", ""))
  }
}
