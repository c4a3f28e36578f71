package graft.core

import graft.functions.SketchCache
import graft.plans.{ScalarKind, SketchFn}
import org.apache.spark.sql.types.{BinaryType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** `SketchCache` hands one decoded instance to every task thread of the
  * JVM, so every read a scalar makes of a cached sketch must be pure.
  * Each non-mutating [[SketchFn]] kind here reads one shared instance
  * from 8 threads at once and must answer what a private copy answers.
  * The reads that tidy state first (`TDigest.mergeBuffer`,
  * `Theta.compact`) are no-ops only while a decoded instance's buffer is
  * empty; the last test pins that. An EBF merge only reads its
  * argument, so two cached filters merge into a fresh buffer while
  * other threads read them. */
class SharedReadSpec extends AnyFunSuite {

  private def filled[S <: BytesSerde](s: S)(add: (S, Int) => Unit): Array[Byte] = {
    (0 until 3000).foreach(i => add(s, i))
    s.toBytes
  }

  private def fixtures(salt: String): Map[String, Array[Byte]] =
    Map(
      "ebf" -> filled(Ebf.empty())((s, i) => s.insert(s"k$salt$i")),
      "hll" -> filled(Hll.empty())((s, i) => s.add(s"k$salt$i")),
      "sample" -> filled(BottomKSample.empty(64))((s, i) => s.add(s"k$salt$i")),
      "theta" -> filled(Theta.empty(256))((s, i) => s.add(s"k$salt${i * 2}")),
      "cms" -> filled(Cms.empty())((s, i) => s.add(s"k$salt${i % 700}")),
      "cs" -> filled(CountSketch.empty())((s, i) => s.add(s"k$salt${i % 700}")),
      "dcms" -> filled(DecayedCms.empty(lambda = 0.01))((s, i) => s.add(s"k$salt${i % 700}", i / 10.0)),
      "kll" -> filled(Kll.empty())((s, i) => s.add(((i * 7919) % 3001).toDouble)),
      "tdigest" -> filled(TDigest.empty())((s, i) => s.add(((i * 7919) % 3001).toDouble)),
      "topk" -> filled(FreqSketch.empty(64))((s, i) => s.add(s"k$salt${(i * i) % 500}")))

  private lazy val first = fixtures("a")
  private lazy val second = fixtures("b")

  private def prefix(kind: ScalarKind): String = kind.name.takeWhile(_ != '_')

  private val kinds: Seq[ScalarKind] = SketchFn.registered.filter(k => k.sketches > 0 && !k.mutates)

  /** Row `j` of `kind`'s inputs: its sketches shared or private. */
  private def inputs(kind: ScalarKind, j: Int, shared: Boolean): Array[Any] =
    kind.inputTypes.zipWithIndex.map {
      case (BinaryType, i) =>
        kind.decode((if (i == 0) first else second)(prefix(kind)), own = !shared): Any
      case (StringType, _) => UTF8String.fromString(s"ka${j * 271}")
      case (DoubleType, _) => j / 10.0
      case (IntegerType, _) => j + 1
      case (t, _) => fail(s"no input for $t")
    }.toArray

  test("every cached kind answers from one instance shared by 8 threads as from a private copy") {
    val covered = kinds.map(k => k.decode(first(prefix(k)), own = true).getClass.getSimpleName).toSet
    assert(covered === Set("Ebf", "Hll", "Theta", "Cms", "CountSketch",
      "DecayedCms", "Kll", "TDigest", "FreqSketch", "BottomKSample"))
    val expected = for (k <- kinds; j <- 0 to 10) yield k(inputs(k, j, shared = false))

    val threads = 8
    val start = new java.util.concurrent.CountDownLatch(1)
    val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Boolean]())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val done = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            for (round <- 0 until 20; ki <- kinds.indices; j <- 0 to 10) {
              // each thread walks the kinds from its own offset
              val at = (ki + t * 3 + round) % kinds.size
              val kind = kinds(at)
              val in = inputs(kind, j, shared = true)
              seen.add(System.identityHashCode(in(0)))
              val got = kind(in)
              if (got != expected(at * 11 + j)) wrong.add(s"${kind.name} row $j: $got")
            }
          }
        })
      }
      start.countDown()
      done.foreach(_.get())
    } finally pool.shutdown()
    assert(wrong.isEmpty, wrong.toArray.take(5).mkString("\n"))
    // one decoded instance per blob, read by every thread
    val blobs = kinds.map(prefix).distinct
    assert(seen.size === blobs.size, seen)
  }

  test("merging two cached EBFs into a fresh buffer leaves both readable") {
    // two levels apart, so a merge that re-levelled its argument would show
    val wide = filled(Ebf.empty())((s, i) => s.insert(s"w$i"))
    val narrow = { val e = Ebf.empty(); (0 until 40).foreach(i => e.insert(s"n$i")); e.toBytes }
    val a = SketchCache.ebf(wide)
    val b = SketchCache.ebf(narrow)
    assert(a.level > b.level)
    val expected = (0 until 200).map(i => (a.mightContain(s"w$i"), b.mightContain(s"n$i"), a.mightContain(s"x$i")))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val readers = (0 until 4).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = while (!stop.get()) {
            val got = (0 until 200).map(i => (a.mightContain(s"w$i"), b.mightContain(s"n$i"), a.mightContain(s"x$i")))
            if (got != expected) wrong.add("probe answers changed")
            if (!java.util.Arrays.equals(b.toBytes, narrow)) wrong.add("narrow bytes changed")
          }
        })
      }
      (0 until 50).foreach { _ =>
        val fresh = Ebf.empty().merge(a).merge(b)
        assert(fresh.n === a.n + b.n)
      }
      stop.set(true)
      readers.foreach(_.get())
    } finally pool.shutdown()
    assert(wrong.isEmpty, wrong.toArray.distinct.mkString("\n"))
    assert(java.util.Arrays.equals(a.toBytes, wide) && java.util.Arrays.equals(b.toBytes, narrow))
    assert(SketchCache.ebf(narrow).level === Ebf.fromBytes(narrow).level)
  }

  test("a decoded TDigest or Theta reads without tidying: its buffer is empty") {
    val td = SketchCache.td(first("tdigest"))
    val means = td.means
    td.quantile(0.3); td.cdf(1500.0)
    assert(td.means eq means)
    val th = SketchCache.theta(first("theta"))
    val other = SketchCache.theta(second("theta"))
    val vals = th.vals
    th.estimate; th.intersectEstimate(other); th.differenceEstimate(other); th.jaccardEstimate(other)
    assert(th.vals eq vals)
    // the reads do tidy a buffer that holds something
    val own = TDigest.fromBytes(first("tdigest"))
    val ownMeans = own.means
    own.add(1.0)
    own.quantile(0.3)
    assert(own.means ne ownMeans)
    val ownTheta = Theta.empty(256)
    val ownVals = ownTheta.vals
    ownTheta.add("new")
    ownTheta.estimate
    assert(ownTheta.vals ne ownVals)
  }
}
