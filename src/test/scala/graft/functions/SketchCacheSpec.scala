package graft.functions

import graft.core.{Ebf, Theta}
import org.scalatest.funsuite.AnyFunSuite

/** SketchCache contracts: one decoded copy per executor, shared across
  * task threads, for every blob size (a per-thread cache multiplied a
  * 1.3 GB filter by core count, measured OOM at a 50M-key join-prune
  * build, BENCH/PLANS.md PLAN18); a content-equal copy served the same
  * instance; and the type token (the same bytes probed as two sketch
  * types must never serve a mis-typed cached instance). Its budget and
  * eviction are [[SketchCacheBoundSpec]]'s. */
class SketchCacheSpec extends AnyFunSuite {

  /** A multi-megabyte EBF: the size a per-thread cache multiplied by
    * the core count. */
  private lazy val bigBytes: Array[Byte] = {
    val e = Ebf.empty(seed = Graft.SketchSeed)
    var i = 0
    while (i < 900000) { e.insert(s"big-key-$i".getBytes("UTF-8")); i += 1 }
    val b = e.toBytes
    assert(b.length >= (8 << 20), s"fixture too small: ${b.length} bytes")
    b
  }

  test("a multi-MB blob decodes ONCE per JVM, shared across threads") {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Ebf]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 16).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = results.add(SketchCache.ebf(bigBytes))
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val distinct = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Ebf, java.lang.Boolean]())
    results.forEach(e => { distinct.add(e); () })
    assert(distinct.size === 1,
      s"expected ONE shared instance, got ${distinct.size} — the per-core memory multiplier is back")
    assert(results.peek().mightContain("big-key-123".getBytes("UTF-8")))
  }

  test("content level: a copied blob reuses the deserialized instance") {
    val copy = bigBytes.clone()
    assert(SketchCache.ebf(copy) eq SketchCache.ebf(bigBytes))
  }

  test("type token: same bytes as a different sketch type fails loudly, not with a bad cast") {
    // prime the cache with the Ebf deserialization of these bytes,
    // then ask for them as a Theta: must raise the honest wire error
    // from Theta.fromBytes, NOT serve the cached Ebf (pre-fix, the
    // reference fast path returned it and the caller blew up on an
    // unrelated ClassCastException)
    val small = {
      val e = Ebf.empty(seed = Graft.SketchSeed)
      (1 to 100).foreach(i => e.insert(s"k$i".getBytes("UTF-8")))
      e.toBytes
    }
    assert(SketchCache.ebf(small).n === 100)
    val err = intercept[IllegalArgumentException] { SketchCache.theta(small) }
    assert(err.getMessage.contains("magic"))
    // and the original type still serves fine afterwards
    assert(SketchCache.ebf(small).n === 100)
  }

  test("small sketches come from the one JVM-wide cache too") {
    val t = Theta.empty(64)
    (1 to 50).foreach(i => t.add(s"v$i"))
    val b = t.toBytes
    assert(SketchCache.theta(b) eq SketchCache.theta(b))
  }

  test("decayed sketch: cached getter + type token hold for the new type too") {
    val d = graft.core.DecayedCms.empty(lambda = math.log(2.0) / 3600.0)
    (1 to 50).foreach(i => d.add(s"v$i", 1700000000.0 + i))
    val b = d.toBytes
    assert(SketchCache.dcms(b) eq SketchCache.dcms(b))
    // probing decayed bytes as a plain CMS must fail on the wire
    // magic, not serve the cached DecayedCms through a bad cast
    val err = intercept[Exception] { SketchCache.cms(b) }
    assert(err.getMessage != null)
    assert(SketchCache.dcms(b).estimate("v50", 1700000050.0) >= 0.9)
  }

  test("bottom-k sample: cached getter + type token hold for the new type too") {
    val s = graft.core.BottomKSample.empty(16)
    (1 to 50).foreach(i => s.add(s"v$i"))
    val b = s.toBytes
    assert(SketchCache.bks(b) eq SketchCache.bks(b))
    val err = intercept[Exception] { SketchCache.theta(b) }
    assert(err.getMessage != null)
    assert(SketchCache.bks(b).keys.length === 16)
  }
}
