package graft.core

/** A hash-sharded Elastic Bloom Filter — the web-scale form of the
  * global url set-membership artifact.
  *
  * Why sharding: a monolithic EBF over 10^12 urls is terabytes of
  * fingerprints — it cannot exist as one object, and even at bench
  * scale its final merge is a single-reducer serial tail (Amdahl) that
  * caps scaling. Sharding by a deterministic hash of the key turns the
  * build into an ordinary parallel `groupBy(shard).agg(ebf_agg(url))` —
  * every shard is an independent normal-form EBF, so all the merge /
  * byte-identity guarantees hold per shard — and a query touches
  * exactly one shard. FPR is unchanged: each key's membership bits live
  * in one shard whose load matches the global load (hash partitioning
  * is uniform), so the per-shard bound IS the global bound.
  *
  * At 10^12 rows the shard table stays as a (shard, sketch) DataFrame
  * and probes become broadcast-joins by shard id; at bench scale the
  * shards are collected and broadcast whole.
  */
final class ShardedEbf(private[graft] val shardBytes: Array[Array[Byte]], val routeSeed: Long)
    extends Serializable {
  require(shardBytes.nonEmpty, "need at least one shard")

  // Shards deserialize LAZILY, per JVM, on first probe: the wire bytes
  // travel through collect/broadcast untouched (assembling hundreds of
  // MB of filters on the driver was a serial tail), and each executor
  // pays only for the shards its keys actually route to.
  // AtomicReferenceArray (not a plain array + double-checked lock): a
  // plain non-volatile read outside the lock has no happens-before edge
  // with the writer, so a concurrent probe thread could observe a
  // partially constructed Ebf.
  @transient private lazy val cache =
    new java.util.concurrent.atomic.AtomicReferenceArray[Ebf](shardBytes.length)

  @inline def numShards: Int = shardBytes.length

  @inline def shardOf(key: String): Int = {
    val h = Hash128.hash64(key, routeSeed)
    val m = (h % numShards).toInt
    if (m < 0) m + numShards else m
  }

  def shard(i: Int): Ebf = {
    val cached = cache.get(i)
    if (cached != null) cached
    else {
      val e = if (shardBytes(i) == null) Ebf.empty() else Ebf.fromBytes(shardBytes(i))
      // lost race → another thread published first; use its (safely
      // published) instance so all threads share one deserialization
      if (cache.compareAndSet(i, null, e)) e else cache.get(i)
    }
  }

  /** The heap [[shard]] can add to this instance: every shard decoded,
    * and the array that holds them. */
  private[graft] def shardHeapBytes: Long =
    32L + 8L * numShards + shardBytes.iterator.map(Ebf.heapBytes).sum

  def mightContain(key: String): Boolean = shard(shardOf(key)).mightContain(key)

  /** Byte-key probe (UTF-8 bytes hash identically to the String form) —
    * lets callers holding UTF8String avoid a per-row String decode. */
  def mightContain(key: Array[Byte]): Boolean = {
    val h = Hash128.hashBytes(key, routeSeed).h1
    val m = (h % numShards).toInt
    shard(if (m < 0) m + numShards else m).mightContain(key)
  }

  def n: Long = (0 until numShards).map(shard(_).n).sum

  /** Conservative global bound: the worst per-shard bound. */
  def fprBound: Double = (0 until numShards).map(shard(_).fprBound).max

  def totalSizeBytes: Long =
    shardBytes.map(b => if (b == null) 0L else b.length.toLong).sum

  def maxLevel: Int = (0 until numShards).map(shard(_).level).max

  /** Whole-table wire form: `SEBF1 | routeSeed | numShards |
    * (len | bytes)*` with len = -1 for an absent (never-built) shard.
    * Lets the sharded filter travel as ONE binary value — the
    * scalar-subquery channel the join-prune rule uses past the
    * single-EBF window — and decode once per executor through
    * `SketchCache`.
    * Round-trips exactly (spec-asserted); shard order is positional so
    * equal tables are byte-equal. */
  def toWire: Array[Byte] = {
    val out = new WireWriter(16 + 4 * numShards + totalSizeBytes.toInt)
      .int(ShardedEbf.WireMagic).long(routeSeed).int(numShards)
    shardBytes.foreach(out.blob)
    out.toBytes
  }
}

object ShardedEbf {
  val DefaultRouteSeed: Long = 0x5a4d
  /** "SEB1" — sharded-table wire magic. */
  val WireMagic: Int = 0x53454231

  /** Decodes [[ShardedEbf.toWire]]; each shard's own bytes are checked
    * when [[ShardedEbf.shard]] first decodes it. */
  def fromWire(bytes: Array[Byte]): ShardedEbf = {
    val in = WireReader(bytes, "SEB1", WireMagic)
    val seed = in.long("routeSeed")
    val n = in.count("shards", in.int("shards"), 4)
    in.check(n >= 1, "shards", "no shards")
    val arr = Array.fill(n)(in.blob("shards", nullable = true))
    in.finish()
    new ShardedEbf(arr, seed)
  }

  /** Assemble from (shardId, serializedSketch) rows. A shard with no
    * rows is a legal empty filter. */
  def fromShardBytes(rows: Seq[(Int, Array[Byte])], numShards: Int,
                     routeSeed: Long = DefaultRouteSeed): ShardedEbf = {
    val arr = new Array[Array[Byte]](numShards)
    rows.foreach { case (id, bytes) =>
      require(id >= 0 && id < numShards, s"shard id $id out of range")
      arr(id) = bytes
    }
    new ShardedEbf(arr, routeSeed)
  }
}
