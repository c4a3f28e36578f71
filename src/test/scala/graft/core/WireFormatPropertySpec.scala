package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the v2 adaptive wire formats (sparse/dense HLL
  * registers, sparse/dense EBF counts): across random parameters and
  * set sizes, serialization must round-trip to identical bytes, and
  * splitting the key stream into random parts and merging (through
  * serde at every step) must reproduce the direct build byte-for-byte
  * — the canonical-representation claim under the representation
  * BOUNDARY, where a sketch flips between sparse and dense forms.
  */
class WireFormatPropertySpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(30)
    .withInitialSeed(org.scalacheck.rng.Seed(20260817L)) // deterministic CI gate
  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("HLL: round-trip + split-merge byte canonicality across sizes and p") {
    val gen = for {
      p <- Gen.chooseNum(6, 14)
      n <- Gen.chooseNum(0, 6000)
      seed <- Gen.chooseNum(1L, 1000000L)
      cut <- Gen.chooseNum(0, 100)
    } yield (p, n, seed, cut)
    check("hll-wire", Prop.forAll(gen) { case (p, n, seed, cut) =>
      val direct = Hll.empty(p, seed)
      val a = Hll.empty(p, seed)
      val b = Hll.empty(p, seed)
      var i = 0
      while (i < n) {
        val key = s"k$seed-$i"
        direct.add(key)
        (if (i % 100 < cut) a else b).add(key)
        i += 1
      }
      val bytes = direct.toBytes
      assert(java.util.Arrays.equals(bytes, Hll.fromBytes(bytes).toBytes), "round-trip")
      val merged = Hll.fromBytes(a.toBytes).merge(Hll.fromBytes(b.toBytes))
      assert(java.util.Arrays.equals(bytes, merged.toBytes), "split-merge canonical")
      assert(Hll.fromBytes(bytes).estimate == direct.estimate)
      true
    })
  }

  test("CMS: round-trip + split-merge byte canonicality; categorical tables go sparse") {
    val gen = for {
      depth <- Gen.chooseNum(2, 8)
      widthExp <- Gen.chooseNum(8, 13)
      nKeys <- Gen.chooseNum(0, 400)
      reps <- Gen.chooseNum(1, 20)
      seed <- Gen.chooseNum(1L, 1000000L)
      cut <- Gen.chooseNum(0, 100)
    } yield (depth, 1 << widthExp, nKeys, reps, seed, cut)
    check("cms-wire", Prop.forAll(gen) { case (depth, width, nKeys, reps, seed, cut) =>
      val direct = Cms.empty(depth, width, seed)
      val a = Cms.empty(depth, width, seed)
      val b = Cms.empty(depth, width, seed)
      var i = 0
      while (i < nKeys) {
        val key = s"k$seed-$i"
        val count = 1L + (i % reps)
        direct.add(key, count)
        (if (i % 100 < cut) a else b).add(key, count)
        i += 1
      }
      val bytes = direct.toBytes
      val back = Cms.fromBytes(bytes)
      assert(java.util.Arrays.equals(bytes, back.toBytes), "round-trip")
      assert(back.total == direct.total)
      val merged = Cms.fromBytes(a.toBytes).merge(Cms.fromBytes(b.toBytes))
      assert(java.util.Arrays.equals(bytes, merged.toBytes), "split-merge canonical")
      var j = 0
      while (j < nKeys) {
        assert(back.estimate(s"k$seed-$j") == direct.estimate(s"k$seed-$j"))
        j += 1
      }
      true
    })
    // the categorical win case: 10 distinct keys at default params must
    // ship a few hundred bytes, not the 229 KB dense table
    val cat = Cms.empty()
    (1 to 10).foreach(i => cat.add(s"source$i", 1000L))
    assert(cat.toBytes.length < 2000, s"categorical CMS wire is ${cat.toBytes.length}B")
  }

  test("EBF: round-trip + split-merge byte canonicality across sizes and params") {
    val gen = for {
      m0exp <- Gen.chooseNum(5, 11) // m0 in 32..2048
      k <- Gen.chooseNum(2, 7)
      n <- Gen.chooseNum(0, 4000)
      seed <- Gen.chooseNum(1L, 1000000L)
      cut <- Gen.chooseNum(0, 100)
    } yield (1 << m0exp, k, n, seed, cut)
    check("ebf-wire", Prop.forAll(gen) { case (m0, k, n, seed, cut) =>
      val direct = Ebf.empty(m0 = m0, k = k, seed = seed)
      val a = Ebf.empty(m0 = m0, k = k, seed = seed)
      val b = Ebf.empty(m0 = m0, k = k, seed = seed)
      var i = 0
      while (i < n) {
        val key = s"k$seed-$i"
        direct.insert(key)
        (if (i % 100 < cut) a else b).insert(key)
        i += 1
      }
      val bytes = direct.toBytes
      assert(direct.sizeBytes == bytes.length, "sizeBytes")
      val back = Ebf.fromBytes(bytes)
      assert(java.util.Arrays.equals(bytes, back.toBytes), "round-trip")
      assert(back.n == direct.n && back.level == direct.level)
      val merged = Ebf.fromBytes(a.toBytes).merge(Ebf.fromBytes(b.toBytes))
      assert(java.util.Arrays.equals(bytes, merged.toBytes), "split-merge canonical")
      // no false negatives survive the wire
      var j = 0
      var ok = true
      while (j < n && ok) { ok = back.mightContain(s"k$seed-$j"); j += 1 }
      assert(ok, "false negative after round-trip")
      true
    })
  }
}
