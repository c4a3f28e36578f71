package graft.functions

import graft.core._
import graft.plans.{GraftExtensions, SketchAgg, SketchFn}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.UserDefinedFunction

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

/** Per-thread deserialized-sketch cache: how [[graft.plans.SketchFn]]
  * reads a sketch input that is not a constant. Sketch bytes arriving
  * from a column are re-materialized per row, so identity caching
  * fails; instead the key is (length, murmur128 of up to four
  * 256-byte windows) — O(1) regardless of sketch size, so probing rows
  * against multi-MB sketches doesn't hash the whole blob per row. The
  * windows cover header (with n and level), middle and tail; two
  * *distinct* sketches colliding on all four windows AND length is
  * negligible for cache-keying within a query. */
object SketchCache {
  // `token` (the deserialized class) is part of the identity: the same
  // byte blob probed as two different sketch types must never serve one
  // type's cached instance for the other (the tlLast fast path would
  // otherwise asInstanceOf-throw; the content-keyed map had the same
  // latent hazard)
  private final case class Key(len: Int, h1: Long, h2: Long, token: Class[_])
  // bytes kept alongside the deserialized value: a hit is confirmed with
  // Arrays.equals before being served, so two distinct sketches whose
  // differences all fall outside the sampled hash windows can never
  // alias to each other's deserialized form (deserialization — the
  // expensive part — is still skipped on a genuine hit)
  private final case class Entry(bytes: Array[Byte], value: AnyRef)

  private val tl = new ThreadLocal[java.util.HashMap[Key, Entry]] {
    override def initialValue(): java.util.HashMap[Key, Entry] = new java.util.HashMap()
  }

  private def sampleKey(bytes: Array[Byte], token: Class[_]): Key = {
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

  // reference fast path: when the SAME byte-array instance recurs row
  // after row (a scalar-subquery constant, a broadcast value, a literal
  // evaluated once per batch) the per-row content verification is pure
  // overhead — `eq` proves identity without reading a single byte. One
  // entry per thread suffices: the pattern this serves is a run of rows
  // probing one sketch.
  private val tlLast = new ThreadLocal[Entry]

  // JVM-global cache for BIG blobs (the scalar-subquery / broadcast
  // sharded-filter case): the per-thread cache below would deserialize
  // a 100 MB+ sketch once per task THREAD — core-count x blob bytes of
  // heap, the difference between "one 400 MB filter per executor" and
  // an OOM at 32 local threads (measured at a 50M-key join-prune
  // build, BENCH/PLANS.md PLAN18). Identity-keyed (array equals IS reference equality) with
  // WEAK keys, so a blob is freed when the stage that shipped it drops
  // the reference. All probe structures are read-only after
  // construction (ShardedEbf is explicitly thread-safe; Ebf probes are
  // pure reads) and the synchronized map publishes them safely.
  // Deserialization happens under the map lock: every thread wants the
  // same blob, so one builds and the rest wait instead of duplicating.
  private val BigBlobBytes: Int = 8 << 20
  private val globalBig = new java.util.WeakHashMap[Array[Byte], AnyRef]
  // second level for big blobs arriving as content-equal but DISTINCT
  // instances (a per-row UnsafeRow.getBinary copy): tiny bound — these
  // entries pin >=8MB blobs strongly, and more than a couple of live
  // big filters at once means the query is in trouble anyway
  private val globalBigByContent = new java.util.HashMap[Key, Entry]

  private def getBig[S <: AnyRef](bytes: Array[Byte], token: Class[S],
                                  from: Array[Byte] => S): S =
    globalBig.synchronized {
      val byId = globalBig.get(bytes)
      if (token.isInstance(byId)) byId.asInstanceOf[S]
      else {
        val key = sampleKey(bytes, token)
        val e = globalBigByContent.get(key)
        val v =
          if (e != null && java.util.Arrays.equals(bytes, e.bytes))
            e.value.asInstanceOf[S]
          else {
            if (globalBigByContent.size() > 4) globalBigByContent.clear()
            val built = from(bytes)
            globalBigByContent.put(key, Entry(bytes, built))
            built
          }
        globalBig.put(bytes, v)
        v
      }
    }

  private def get[S <: AnyRef](bytes: Array[Byte], token: Class[S],
                               from: Array[Byte] => S): S = {
    if (bytes.length >= BigBlobBytes) return getBig(bytes, token, from)
    val last = tlLast.get()
    if (last != null && (last.bytes eq bytes) && token.isInstance(last.value))
      return last.value.asInstanceOf[S]
    val key = sampleKey(bytes, token)
    val m = tl.get()
    val e = m.get(key)
    if (e != null && java.util.Arrays.equals(bytes, e.bytes)) {
      tlLast.set(e)
      e.value.asInstanceOf[S]
    } else {
      // 256: a 64-shard table probed alongside a handful of other
      // sketches must fit without evicting (eviction clears the map)
      if (m.size() > 256) m.clear()
      val v = from(bytes)
      val entry = Entry(bytes, v)
      m.put(key, entry)
      tlLast.set(entry)
      v.asInstanceOf[S]
    }
  }

  def ebf(b: Array[Byte]): Ebf = get(b, classOf[Ebf], Ebf.fromBytes)
  def freq(b: Array[Byte]): FreqSketch = get(b, classOf[FreqSketch], FreqSketch.fromBytes)
  def hll(b: Array[Byte]): Hll = get(b, classOf[Hll], Hll.fromBytes)
  def cms(b: Array[Byte]): Cms = get(b, classOf[Cms], Cms.fromBytes)
  def kll(b: Array[Byte]): Kll = get(b, classOf[Kll], Kll.fromBytes)
  def td(b: Array[Byte]): TDigest = get(b, classOf[TDigest], TDigest.fromBytes)
  def sharded(b: Array[Byte]): graft.core.ShardedEbf =
    get(b, classOf[graft.core.ShardedEbf], graft.core.ShardedEbf.fromWire)
  def theta(b: Array[Byte]): Theta = get(b, classOf[Theta], Theta.fromBytes)
  def dcms(b: Array[Byte]): DecayedCms = get(b, classOf[DecayedCms], DecayedCms.fromBytes)
  def bks(b: Array[Byte]): BottomKSample = get(b, classOf[BottomKSample], BottomKSample.fromBytes)
  def cs(b: Array[Byte]): CountSketch = get(b, classOf[CountSketch], CountSketch.fromBytes)
}
