package graft.functions

import graft.core.Ebf
import org.apache.spark.util.SizeEstimator
import org.scalatest.funsuite.AnyFunSuite

import java.lang.ref.WeakReference

/** The bound of a [[SketchCache]], on instances with small budgets:
  * what it charges, what it keeps, and that what it evicts is freed. */
class SketchCacheBoundSpec extends AnyFunSuite {

  private def ebfBytes(tag: Int, keys: Int): Array[Byte] = {
    val e = Ebf.empty()
    (0 until keys).foreach(i => e.insert(s"t$tag-$i"))
    e.toBytes
  }

  private lazy val blobs: IndexedSeq[Array[Byte]] = (0 until 48).map(t => ebfBytes(t, 200 + 40 * t))

  /** What `read` adds to an unbounded cache's charge. */
  private def chargeOf(read: SketchCache => AnyRef): Long = {
    val c = new SketchCache(Long.MaxValue)
    read(c)
    c.resident
  }

  test("the executor's cache has an eighth of the heap") {
    assert(SketchCache.budget === Runtime.getRuntime.maxMemory / 8)
  }

  test("an entry is charged for its bytes and decoded sketch") {
    val b = blobs(7)
    assert(chargeOf(_.ebf(b)) === b.length + SizeEstimator.estimate(Ebf.fromBytes(b)))

    // a bucket array of half a G1 region or more takes whole regions
    val region = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption("G1HeapRegionSize").getValue.toLong
    val wide = { val e = Ebf.empty(m0 = 1 << 20); e.insert("k"); e.toBytes }
    val counts = 16L + 4L * (1 << 20)
    val taken = if (region == 0) counts else (counts + region - 1) / region * region
    assert(chargeOf(_.ebf(wide)) ===
      wide.length + SizeEstimator.estimate(Ebf.fromBytes(wide)) - counts + taken)
  }

  test("8 writers keep the resident charge within the budget") {
    val budget = 4 * blobs.map(b => chargeOf(_.ebf(b))).max
    val cache = new SketchCache(budget)
    val over = new java.util.concurrent.atomic.AtomicLong
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (0 until 8).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = for (i <- 0 until 400) {
            val b = blobs((i * (t + 1) + t * 5) % blobs.size)
            assert(cache.ebf(b).n > 0)
            over.accumulateAndGet(cache.resident - budget, math.max)
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    assert(over.get <= 0, s"resident went ${over.get} bytes past a budget of $budget")
    assert(cache.resident > 0)
  }

  test("past the budget the least recently used goes, never the two most recent") {
    val Seq(a, b, c) = Seq(blobs(1), blobs(2), blobs(3))
    val cache = new SketchCache(1)
    val ea = cache.ebf(a)
    val eb = cache.ebf(b)
    assert(cache.ebf(a) eq ea)
    assert(cache.ebf(b) eq eb)
    // a is now the least recently used of three
    val ec = cache.ebf(c)
    assert(cache.ebf(b) eq eb)
    assert(cache.ebf(c) eq ec)
    assert(!(cache.ebf(a) eq ea))
  }

  test("an evicted sketch is collectable; a resident one is not") {
    val budget = 3 * blobs.take(12).map(b => chargeOf(_.ebf(b))).max
    val cache = new SketchCache(budget)
    val evicted = new WeakReference(cache.ebf(blobs(0)))
    (1 until 12).foreach(i => cache.ebf(blobs(i)))
    val resident = new WeakReference(cache.ebf(blobs(11)))
    var tries = 0
    while (evicted.get != null && tries < 10) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(evicted.get == null, "an evicted sketch is still reachable")
    assert(resident.get != null)
    assert(cache.ebf(blobs(11)) eq resident.get)
  }
}
