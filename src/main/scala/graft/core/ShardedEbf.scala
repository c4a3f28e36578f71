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
  * The shard table is a (shard, sketch) DataFrame
  * (`ShardedProbe.buildShardTable`). `ShardedProbe.probeBroadcast`
  * collects it into one broadcast instance of this class while it fits
  * an executor; `ShardedProbe.probeCogrouped` co-groups keys with their
  * shard's bytes beyond that.
  */
final class ShardedEbf(shardBytes: Array[Array[Byte]]) extends Serializable {
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

  @inline def shardOf(key: String): Int =
    ShardedEbf.route(key.getBytes(java.nio.charset.StandardCharsets.UTF_8), numShards)

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

  def mightContain(key: String): Boolean = shard(shardOf(key)).mightContain(key)

  /** Byte-key probe (UTF-8 bytes hash identically to the String form) —
    * lets callers holding UTF8String avoid a per-row String decode. */
  def mightContain(key: Array[Byte]): Boolean =
    shard(ShardedEbf.route(key, numShards)).mightContain(key)

  def n: Long = (0 until numShards).map(shard(_).n).sum

  /** Conservative global bound: the worst per-shard bound. */
  def fprBound: Double = (0 until numShards).map(shard(_).fprBound).max

  def totalSizeBytes: Long =
    shardBytes.map(b => if (b == null) 0L else b.length.toLong).sum

  def maxLevel: Int = (0 until numShards).map(shard(_).level).max
}

object ShardedEbf {
  val DefaultRouteSeed: Long = 0x5a4d
  /** The shard `key`'s UTF-8 bytes route to:
    * `hash64(key, DefaultRouteSeed) mod numShards`, non-negative. The one
    * route of the shard builds (`graft_shard`) and of every probe. */
  def route(key: Array[Byte], numShards: Int): Int =
    java.lang.Math.floorMod(Hash128.hashBytes(key, DefaultRouteSeed).h1, numShards.toLong).toInt

  /** Assemble from (shardId, serializedSketch) rows. A shard with no
    * rows is a legal empty filter. */
  def fromShardBytes(rows: Seq[(Int, Array[Byte])], numShards: Int): ShardedEbf = {
    val arr = new Array[Array[Byte]](numShards)
    rows.foreach { case (id, bytes) =>
      require(id >= 0 && id < numShards, s"shard id $id out of range")
      arr(id) = bytes
    }
    new ShardedEbf(arr)
  }
}
