package graft.functions

import graft.core._
import graft.plans.{GraftExtensions, SketchAgg, SketchFn}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.util.SizeEstimator

/** Session registration for the graft sketch library.
  *
  * `Graft.ensure(spark)` is idempotent per session. It installs the
  * optimizer rules of [[graft.plans.GraftExtensions]] and registers
  * every graft SQL function: the aggregates, each a
  * [[graft.plans.SketchAgg]], and the scalars — sketch reads, text
  * functions, key hash, shard router, z-order key — each a
  * [[graft.plans.SketchFn]]. It also tunes the one Catalyst config
  * that matters for object-buffer aggregation at scale (SURVEY.md §4): the
  * ObjectHashAggregate sort-based fallback threshold, which defaults to
  * 128 distinct groups per task — far below the per-task (lang, host)
  * group counts this engine aggregates — and would silently degrade
  * partial aggregation to sort-based with per-group spill churn.
  */
object Graft {

  val SketchSeed = 42L

  def ensure(spark: SparkSession): SparkSession = synchronized {
    if (!spark.conf.getOption("graft.registered").contains("true")) {
      // object-agg groups per task routinely exceed the 128 default;
      // sort-based fallback would serialize buffers per row
      spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      for (rule <- GraftExtensions.rules
           if !spark.experimental.extraOptimizations.contains(rule))
        spark.experimental.extraOptimizations :+= rule
      // the UDF registry can't host Expression builders; natives go
      // through the sessionState shim
      val natives = GraftExtensions.functions ++ SketchAgg.sqlDescriptors ++ SketchFn.sqlDescriptors
      for ((id, info, builder) <- natives)
        org.apache.spark.sql.graftshim.FunctionShim.register(spark, id.funcName, info, builder)
      spark.conf.set("graft.registered", "true")
    }
    spark
  }

  /** Probe UDF over a BROADCAST sketch: the E2 pattern — sketch built
    * once, shipped via TorrentBroadcast (deserialized once per executor
    * JVM, as its wire bytes through the Java-serialization proxy in
    * `BytesSerde`), zero
    * per-row and zero per-task deserialization. A plain closure capture
    * would instead re-ship and re-deserialize the sketch inside every
    * task binary — measured as the dominant cost of the probe phase at
    * 10^6 rows. Preferred over `ebf_might_contain(lit(bytes), col)` in
    * hot probe paths. */
  def ebfProbe(spark: SparkSession, sketch: Ebf): UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(sketch)
    // null key -> miss, not NPE: a null was never inserted (the
    // aggregators skip nulls), mirroring ebf_might_contain's guard —
    // and an inner join would drop the null-key row anyway, which is
    // what makes JoinPrune's null handling exact
    org.apache.spark.sql.functions.udf(
      (key: String) => key != null && bc.value.mightContain(key))
  }
}

/** The JVM-wide cache of decoded sketches: how [[graft.plans.SketchFn]]
  * reads a sketch input that is not a constant. Sketch bytes arriving
  * from a column are a new copy on every row, so the key is their
  * content: the length, murmur128 of up to four 256-byte windows
  * (header with n and level, middle, tail), and the decoded type, so
  * the same bytes read as two types never share an entry. A lookup is
  * O(1) in the sketch's size, and a hit is confirmed with
  * `Arrays.equals` before it is served.
  *
  * Each content decodes once per JVM: concurrent readers of one blob
  * wait for its one decode, and readers of other blobs never do. A
  * decoded sketch is only read from then on, by every task thread.
  *
  * The cache is bounded by the heap its entries take: the wire bytes
  * and the decoded sketch, sized by Spark's `SizeEstimator` with its
  * big arrays rounded up to whole G1 regions.
  * Past the budget the least recently used entries go first, but
  * never the two most recently used, because a two-sketch row reads
  * two. An evicted sketch is garbage once its last reader drops it.
  */
class SketchCache(val budget: Long) {
  import SketchCache.{Entry, Key}

  // access order: iteration starts at the least recently used
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var charged = 0L

  /** The bytes the cached entries are charged for. */
  def resident: Long = synchronized(charged)

  private def get[S <: AnyRef](bytes: Array[Byte], token: Class[S], from: Array[Byte] => S): S = {
    val key = SketchCache.keyOf(bytes, token)
    val e = synchronized {
      val hit = entries.get(key)
      if (hit != null) hit
      else { val e = new Entry(key, bytes); entries.put(key, e); e }
    }
    // the same sampled windows over different content: a private copy
    if (!java.util.Arrays.equals(bytes, e.bytes)) return from(bytes)
    var v = e.value
    if (v == null) e.synchronized {
      v = e.value
      if (v == null) {
        v = try from(bytes) catch { case t: Throwable => synchronized(entries.remove(key, e)); throw t }
        e.value = v
        admit(e, bytes.length + SketchCache.heapBytes(v))
      }
    }
    v.asInstanceOf[S]
  }

  private def admit(e: Entry, charge: Long): Unit = synchronized {
    if (entries.get(e.key) eq e) {
      e.charge = charge
      charged += charge
      val lru = entries.values.iterator
      var evictable = entries.size - 2
      while (charged > budget && evictable > 0) {
        charged -= lru.next().charge
        lru.remove()
        evictable -= 1
      }
    }
  }

  def ebf(b: Array[Byte]): Ebf = get(b, classOf[Ebf], Ebf.fromBytes)
  def freq(b: Array[Byte]): FreqSketch = get(b, classOf[FreqSketch], FreqSketch.fromBytes)
  def hll(b: Array[Byte]): Hll = get(b, classOf[Hll], Hll.fromBytes)
  def cms(b: Array[Byte]): Cms = get(b, classOf[Cms], Cms.fromBytes)
  def kll(b: Array[Byte]): Kll = get(b, classOf[Kll], Kll.fromBytes)
  def td(b: Array[Byte]): TDigest = get(b, classOf[TDigest], TDigest.fromBytes)
  def theta(b: Array[Byte]): Theta = get(b, classOf[Theta], Theta.fromBytes)
  def dcms(b: Array[Byte]): DecayedCms = get(b, classOf[DecayedCms], DecayedCms.fromBytes)
  def bks(b: Array[Byte]): BottomKSample = get(b, classOf[BottomKSample], BottomKSample.fromBytes)
  def cs(b: Array[Byte]): CountSketch = get(b, classOf[CountSketch], CountSketch.fromBytes)
}

/** The executor's one cache, with a budget of an eighth of the heap. */
object SketchCache extends SketchCache(Runtime.getRuntime.maxMemory / 8) {
  private final case class Key(len: Int, h1: Long, h2: Long, token: Class[_])

  // `value` is published once, by the decoding thread; `charge` is
  // guarded by the cache's lock
  private final class Entry(val key: Key, val bytes: Array[Byte]) {
    @volatile var value: AnyRef = _
    var charge = 0L
  }

  /** What `v` occupies: Spark's `SizeEstimator`, with each primitive
    * array `v` holds rounded up to the heap regions it takes. */
  private def heapBytes(v: AnyRef): Long =
    v.getClass.getDeclaredFields.iterator.filter { f =>
      f.getType.isArray && f.getType.getComponentType.isPrimitive &&
        !java.lang.reflect.Modifier.isStatic(f.getModifiers)
    }.foldLeft(SizeEstimator.estimate(v)) { (total, f) =>
      f.setAccessible(true)
      f.get(v) match {
        case null => total
        case a => val size = SizeEstimator.estimate(a); total - size + Heap.array(size)
      }
    }

  private def keyOf(bytes: Array[Byte], token: Class[_]): Key = {
    val n = bytes.length
    if (n <= 1024) {
      val h = Hash128.hashBytes(bytes, 0x5eed)
      Key(n, h.h1, h.h2, token)
    } else {
      var h1 = 0x5eedL
      var h2 = 0L
      var w = 0
      while (w < 4) {
        val off = (n - 256).toLong * w / 3
        val h = Hash128.hashBytesRange(bytes, off.toInt, 256, h1)
        h1 = h.h1
        h2 ^= h.h2
        w += 1
      }
      Key(n, h1, h2, token)
    }
  }
}
