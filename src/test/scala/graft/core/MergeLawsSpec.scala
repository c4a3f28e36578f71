package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property suite for the merge-monoid laws the north rule
  * demands ("associative merge buffers", "arbitrary partition merge
  * orderings"): for arbitrary key sets, arbitrary 3-way splits, and
  * both association orders, (A + B) + C == A + (B + C) == sequential,
  * byte-identically for the content-determined sketches (EBF, HLL,
  * CMS) and estimate-identically within bounds for KLL / t-digest.
  */
class MergeLawsSpec extends AnyFunSuite {

  // Fixed seed: this suite is a CI GATE, and two of the properties
  // assert PROBABILISTIC rank-error bounds (KLL 3-sigma, t-digest
  // 0.06) — a random seed makes the gate flaky by construction, and a
  // rare failing case once sent scalacheck's Stream shrinker into a
  // 20+-minute minimization of a 2000-element list mid-suite. A seed
  // sweep (1500 seeds, by a one-off tool whose source is in the git
  // history as src/main/scala/graft/tools/KllTdProbe.scala) measured
  // worst margins of 0.008/0.040 (KLL) and 0.019/0.060 (t-digest), so the properties
  // are sound; the fixed seed + NoShrink below make the gate
  // deterministic and fast-failing.
  private val params = SCTest.Parameters.default.withMinSuccessfulTests(40)
    .withInitialSeed(org.scalacheck.rng.Seed(20260817L))

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val keysGen: Gen[List[String]] =
    Gen.chooseNum(1, 800).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 100000).map(i => s"k$i")))

  private val splitGen: Gen[(List[String], List[Int])] = for {
    ks <- keysGen
    assign <- Gen.listOfN(ks.length, Gen.chooseNum(0, 2))
  } yield (ks, assign)

  test("EBF merge is associative and split-invariant (byte-identical)") {
    check("ebf", Prop.forAllNoShrink(splitGen) { case (ks, assign) =>
      def mk() = Ebf.empty(m0 = 32, k = 3, l0 = 12)
      val parts = Array(mk(), mk(), mk())
      ks.zip(assign).foreach { case (k, p) => parts(p).insert(k) }
      val seq = mk(); ks.foreach(seq.insert)
      val leftAssoc = mk().merge(Ebf.fromBytes(parts(0).toBytes))
        .merge(Ebf.fromBytes(parts(1).toBytes)).merge(Ebf.fromBytes(parts(2).toBytes))
      val rightAssoc = Ebf.fromBytes(parts(0).toBytes)
        .merge(Ebf.fromBytes(parts(1).toBytes).merge(Ebf.fromBytes(parts(2).toBytes)))
      java.util.Arrays.equals(seq.toBytes, leftAssoc.toBytes) &&
        java.util.Arrays.equals(seq.toBytes, rightAssoc.toBytes)
    })
  }

  test("HLL and CMS merges are associative and split-invariant (byte-identical)") {
    check("hll+cms", Prop.forAllNoShrink(splitGen) { case (ks, assign) =>
      val hp = Array.fill(3)(Hll.empty(p = 8))
      val cp = Array.fill(3)(Cms.empty(depth = 3, width = 64))
      ks.zip(assign).foreach { case (k, p) => hp(p).add(k); cp(p).add(k) }
      val hs = Hll.empty(p = 8); val cs = Cms.empty(depth = 3, width = 64)
      ks.foreach { k => hs.add(k); cs.add(k) }
      val hm = hp(0).merge(hp(1).merge(hp(2)))
      val cm = cp(2).merge(cp(0)).merge(cp(1))
      java.util.Arrays.equals(hs.toBytes, hm.toBytes) &&
        java.util.Arrays.equals(cs.toBytes, cm.toBytes)
    })
  }

  test("KLL / t-digest merges stay within error bounds for any split") {
    val valsGen = for {
      n <- Gen.chooseNum(50, 2000)
      vs <- Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6))
      assign <- Gen.listOfN(n, Gen.chooseNum(0, 2))
    } yield (vs, assign)
    check("kll+td", Prop.forAllNoShrink(valsGen) { case (vs, assign) =>
      val kp = Array.fill(3)(Kll.empty(200))
      val tp = Array.fill(3)(TDigest.empty(100))
      vs.zip(assign).foreach { case (v, p) => kp(p).add(v); tp(p).add(v) }
      val km = kp(0).merge(kp(1).merge(kp(2)))
      val tm = tp(2).merge(tp(0)).merge(tp(1))
      val sorted = vs.sorted
      // with duplicated values the empirical rank is a step function;
      // a returned value's valid rank is the whole interval
      // [count(<x), count(<=x)] / n — measure distance to it
      def rankDist(x: Double, q: Double): Double = {
        val lo = sorted.count(_ < x).toDouble / vs.size
        val hi = sorted.count(_ <= x).toDouble / vs.size
        if (q < lo) lo - q else if (q > hi) q - hi else 0.0
      }
      Seq(0.25, 0.5, 0.75).forall { q =>
        rankDist(km.quantile(q), q) <= 3 * km.normalizedRankError &&
          rankDist(tm.quantile(q), q) <= 0.06
      } && km.n == vs.size && tm.n == vs.size &&
        km.quantile(0.0) == sorted.head && tm.quantile(1.0) == sorted.last
    })
  }

  test("empty sketch is a merge identity for every type") {
    check("identity", Prop.forAllNoShrink(keysGen) { ks =>
      val e = Ebf.empty(m0 = 32, k = 3, l0 = 12); ks.foreach(e.insert)
      val h = Hll.empty(p = 8); ks.foreach(h.add)
      val c = Cms.empty(depth = 3, width = 64); ks.foreach(c.add(_))
      java.util.Arrays.equals(e.toBytes,
        Ebf.fromBytes(e.toBytes).merge(Ebf.empty(m0 = 32, k = 3, l0 = 12)).toBytes) &&
        java.util.Arrays.equals(h.toBytes, Hll.fromBytes(h.toBytes).merge(Hll.empty(p = 8)).toBytes) &&
        java.util.Arrays.equals(c.toBytes,
          Cms.fromBytes(c.toBytes).merge(Cms.empty(depth = 3, width = 64)).toBytes)
    })
  }
}
