package graft.plans

import graft.core.{Hash128, ShardedEbf}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The bytes a Catalyst string key hashes as — the one entry point
  * every native string path (sketch aggregates, probes, hash and shard
  * kinds) goes through, so that it agrees with the `String`
  * kernels (`Hash128.hashString`) and the Scala UDFs, which see the
  * decoded `String`. For valid UTF-8 these are the raw bytes (no copy
  * when the string owns its array); an invalid sequence is decoded and
  * re-encoded, since decoding replaces it with U+FFFD: `X'C328'` hashes
  * as `EF BF BD 28`, exactly as its decoded `String` does. */
object Utf8Key {
  def bytes(u: UTF8String): Array[Byte] = {
    val b = u.getBytes
    var i = 0
    while (i < b.length && b(i) >= 0) i += 1
    if (i == b.length || u.isValid) b
    else u.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  def hash(u: UTF8String, seed: Long): Hash128.H = Hash128.hashBytes(bytes(u), seed)
}

/** The library's own 128-bit string hash ([[Hash128]] — the hash every
  * sketch consumes), one Long half per kind (`part` 0 -> h1, 1 -> h2):
  * `graft_hash128_h1/h2(key[, seed])`.
  *
  * Why this exists: "shuffle hashes, not strings". The flagship's
  * clustering shuffle carried the raw url (~60 bytes) to the reduce
  * side only so the aggregator could hash it there — but EBF and HLL
  * consume `Hash128.H` directly (`insertHash`/`addHash`), so hashing
  * BEFORE the exchange is semantics-preserving (byte-identical
  * sketches, spec-asserted) and roughly halves the shuffled bytes. At
  * 10^12 rows that is the difference of shipping ~50 TB. Computing h1
  * and h2 as two expressions hashes the url twice; a 60-byte murmur
  * costs ~15 ns, which is noise next to the bytes it removes from the
  * exchange.
  *
  * Null urls hash to null (and the hash-fed aggregators skip null,
  * mirroring the string-fed aggregators' null-skip). A non-string key
  * is cast to string first (`graft_hash128_h1(doc_id)` works).
  */
case class Hash128Part(seed: Long, part: Int) extends ScalarKind {
  require(part == 0 || part == 1, s"part must be 0 (h1) or 1 (h2), got $part")
  def name: String = if (part == 0) "graft_hash128_h1" else "graft_hash128_h2"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = LongType
  def apply(in: Array[Any]): Any = {
    val h = Utf8Key.hash(in(0).asInstanceOf[UTF8String], seed)
    if (part == 0) h.h1 else h.h2
  }
}

object Hash128Expr {
  def h1(c: Column, seed: Long): Column = SketchFn.column(Hash128Part(seed, 0), c)
  def h2(c: Column, seed: Long): Column = SketchFn.column(Hash128Part(seed, 1), c)
}

/** The shard router `graft_shard(key, numShards)`: the key's shard by
  * `ShardedEbf.route`, the route every sharded probe takes; null key ->
  * null shard (joins no shard, probes as a miss). The router sits on
  * the map side of every shard build and probe (32M+ rows in the
  * flagship's phase 3 alone), so it runs inside whole-stage codegen.
  * A non-string key is cast to string first (`graft_shard(doc_id, 64)`
  * works). */
case class GraftShard(numShards: Int) extends ScalarKind {
  require(numShards >= 1, s"numShards must be >= 1, got $numShards")
  def name: String = "graft_shard"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = IntegerType
  def apply(in: Array[Any]): Any =
    ShardedEbf.route(Utf8Key.bytes(in(0).asInstanceOf[UTF8String]), numShards)
}

object GraftShardExpr {
  def apply(c: Column, numShards: Int): Column = SketchFn.column(GraftShard(numShards), c)
}
