package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pins the wire bytes of every format: for one fixed, seeded input per
  * format the SHA-256 of the encoded bytes is committed here, and
  * decoding then re-encoding must give the same bytes back. The
  * round-trip and merge-order specs only check self-consistency, so an
  * encoding changed consistently on both sides would pass them; this
  * spec would not. Run it unchanged on two commits to check byte
  * identity between them. The sparse/dense fixtures assert their mode
  * byte, so each form of each adaptive section stays covered.
  */
class WireGoldenSpec extends AnyFunSuite {

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  private def keys(tag: String, n: Int): Seq[String] = (0 until n).map(i => s"$tag-$i")

  private def doubles(seed: Long, n: Int): Seq[Double] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.nextGaussian() * 100.0 + r.nextInt(7))
  }

  /** (name, encoded bytes, decode-then-encode, expected SHA-256). */
  private case class Golden(name: String, bytes: Array[Byte],
                            reencode: Array[Byte] => Array[Byte], sha: String)

  private def ebf(m0: Int, k: Int, alphaDen: Int, n: Int): Array[Byte] = {
    val e = Ebf.empty(m0 = m0, k = k, alphaDen = alphaDen, seed = 7L)
    keys("ebf", n).foreach(e.insert)
    e.toBytes
  }

  private def hll(p: Int, n: Int): Array[Byte] = {
    val h = Hll.empty(p, 11L); keys("hll", n).foreach(h.add); h.toBytes
  }

  // `big` counts make every sparse entry cost more than a dense 8-byte
  // cell, which is what selects the dense form
  private def cms(depth: Int, width: Int, n: Int, big: Long): Array[Byte] = {
    val c = Cms.empty(depth, width, 13L)
    keys("cms", n).zipWithIndex.foreach { case (s, i) => c.add(s, big + i % 5) }
    c.toBytes
  }

  private def cs(depth: Int, width: Int, n: Int, big: Long): Array[Byte] = {
    val c = CountSketch.empty(depth, width, 17L)
    keys("cs", n).zipWithIndex.foreach { case (s, i) => c.add(s, big + (i % 7) - 3L) }
    c.toBytes
  }

  private lazy val fqs2: Array[Byte] = {
    val f = FreqSketch.empty(16, 19L)
    (0 until 600).foreach(i => f.add(s"item-${(i * i) % 37}", 1L + i % 3))
    f.toBytes
  }

  private lazy val ebfShard: Array[Byte] = ebf(64, 3, 8, 40)

  private def modeAt(b: Array[Byte], off: Int): Int = b(off).toInt

  private lazy val goldens: Seq[Golden] = Seq(
    Golden("EBF2 sparse counts", ebf(1024, 5, 8, 40), Ebf.fromBytes(_).toBytes,
      "df5d9221e9176034962b949b7db05b62558e1e8e330f8ea12e353ccc7cd1100d"),
    Golden("EBF2 dense counts", ebf(64, 4, 1, 600), Ebf.fromBytes(_).toBytes,
      "f4486f33347167473ec1dfabe76d124b7c115f1714d288ed4986b1ebe9061dad"),
    Golden("HLL2 sparse", hll(12, 50), Hll.fromBytes(_).toBytes,
      "c05aab90750b86c715135a1a9dc812e82549a67b4fbc9858e91c52b41de23d36"),
    Golden("HLL2 dense", hll(8, 3000), Hll.fromBytes(_).toBytes,
      "00cf04fb166eb4e3b92628f211209ef7bc2c4f2b439c112636336d104f57e4b4"),
    Golden("CMS2 sparse", cms(5, 256, 12, 1L), Cms.fromBytes(_).toBytes,
      "80135bf54f71bfca49ebd8e88b6fa2e612d7cbf04ef5e668eab286d83174e027"),
    Golden("CMS2 dense", cms(3, 64, 2000, 1L << 50), Cms.fromBytes(_).toBytes,
      "cc05a579b51a834139f0e0b8cdd8f76ca2c7a535de7c3fae886cf8afa5948023"),
    Golden("CSK1 sparse", cs(5, 256, 12, 0L), CountSketch.fromBytes(_).toBytes,
      "58a5235e3586a665759c7c00e989b297ae0eb7edd21c31910a5eb8f922a1f8cd"),
    Golden("CSK1 dense", cs(3, 64, 2000, 1L << 52), CountSketch.fromBytes(_).toBytes,
      "084bd1a9b54007c48d29b3daa5503b470fd8cefa33d1f99e3e7f1b71d572ab44"),
    Golden("KLL1", {
      val s = Kll.empty(16); doubles(23L, 1500).foreach(s.add); s.toBytes
    }, Kll.fromBytes(_).toBytes, "231d0f2a1753e65e8986700f2f268a7e9a9f0fd05ca1079e5d3f411065088719"),
    Golden("TDG1", {
      val t = TDigest.empty(50.0); doubles(29L, 2500).foreach(t.add); t.toBytes
    }, TDigest.fromBytes(_).toBytes, "469cf3b3d981fb4a6b31c975a7590c01c0896b64843ced3da571df79dda07ef6"),
    Golden("THS1", {
      val t = Theta.empty(64, 31L); keys("theta", 500).foreach(t.add); t.toBytes
    }, Theta.fromBytes(_).toBytes, "f7237fe0cc918871b356e9ec61ce9a65778bf0020b3dbbfa89dede5c7e616cc7"),
    Golden("FQS2", fqs2, FreqSketch.fromBytes(_).toBytes, "640ea71c6b09495d0cd2f05930394ae1efdbe3a96228496283e1348537f18686"),
    Golden("BKS1", {
      val s = BottomKSample.empty(16); keys("bks", 200).foreach(s.add); s.toBytes
    }, BottomKSample.fromBytes(_).toBytes, "08c2b1f6fe0271bb9fd802d750fd5c631fccec2b346518b9128565684b2e8114"),
    Golden("DCM1", {
      val d = DecayedCms.empty(3, 16, 37L, math.log(2.0) / 10.0)
      keys("dcm", 60).zipWithIndex.foreach { case (s, i) => d.add(s, i * 0.5, 1.0 + i % 3) }
      d.toBytes
    }, DecayedCms.fromBytes(_).toBytes, "abd0c3fcb4eeeff50c4a05b2ca3354bf73e8b9c16803721925526f12b6a86bb1"),
    Golden("SEB1", ShardedEbf.fromShardBytes(Seq(0 -> ebfShard, 2 -> ebf(64, 3, 8, 7)), 3,
      routeSeed = 41L).toWire, ShardedEbf.fromWire(_).toWire, "198489a8b92914c29fb46adc0d016e783db235e322140f3225d13ed4bec13099"),
    Golden("FDS1", {
      val f = Fd.empty(4, 3)
      doubles(43L, 18).grouped(3).foreach(r => f.insert(r.toArray))
      f.toBytes
    }, Fd.fromBytes(_).toBytes, "faf4f6c5cdc2721dff2008452ffcb49f751f0d0b36fa5ea056c9a2e63e1fb209")
  )

  test("every adaptive fixture is in the section form it is named for") {
    val g = goldens.map(x => x.name -> x.bytes).toMap
    assert(modeAt(g("EBF2 sparse counts"), 44) == 1)
    assert(modeAt(g("EBF2 dense counts"), 44) == 0)
    assert(modeAt(g("HLL2 sparse"), 16) == 1)
    assert(modeAt(g("HLL2 dense"), 16) == 0)
    assert(modeAt(g("CMS2 sparse"), 28) == 1)
    assert(modeAt(g("CMS2 dense"), 28) == 0)
    assert(modeAt(g("CSK1 sparse"), 28) == 1)
    assert(modeAt(g("CSK1 dense"), 28) == 0)
  }

  test("encoded bytes match the committed SHA-256 for every format") {
    val wrong = goldens.filter(g => sha256(g.bytes) != g.sha)
    if (wrong.nonEmpty) fail(wrong.map(g => s"${g.name}: ${sha256(g.bytes)}").mkString("\n"))
  }

  test("decode then re-encode gives the same bytes for every format") {
    goldens.foreach { g =>
      assert(java.util.Arrays.equals(g.reencode(g.bytes), g.bytes), g.name)
    }
  }

  test("FQS1 blobs are read and re-encoded as FQS2") {
    val v1 = fqs2.clone()
    v1(3) = 0x31 // "FQS2" -> "FQS1": same layout, legacy magic
    assert(java.util.Arrays.equals(FreqSketch.fromBytes(v1).toBytes, fqs2))
  }
}
