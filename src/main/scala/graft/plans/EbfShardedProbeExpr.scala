package graft.plans

import graft.core.ShardedEbf
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Membership probe against a broadcast sharded EBF — the hot map-side
  * operator of the flagship pipeline, as a kind inside whole-stage
  * codegen instead of a Scala UDF.
  *
  * Why not a UDF: the UDF boundary costs a catalyst<->scala converter
  * per row (UTF8String -> String decode) plus a megamorphic function
  * call outside the whole-stage-codegen span. Here the key's
  * UTF8String feeds `ShardedEbf.mightContain(byte[])` directly through
  * [[Utf8Key]] (which hashes identically to the String form).
  *
  * Why not a broadcast hash JOIN on shard id carrying sketch bytes:
  * extracting a multi-MB `sk` binary column from the joined row costs a
  * full copy of the shard's bytes PER PROBED ROW (UnsafeRow.getBinary
  * copies) — measured catastrophic at 10^6+ probes of ~MB shards. The
  * kind holds only the broadcast HANDLE, so the shard table's bytes go
  * to each executor exactly once (the same data movement as a broadcast
  * join's build side — BroadcastExchange also collects to the driver
  * first), and shards deserialize lazily per JVM on first touch.
  *
  * Null keys probe as non-members (never null), mirroring the build
  * side's null-skipping aggregators.
  */
case class EbfShardedProbe(bc: Broadcast[ShardedEbf]) extends ScalarKind {
  def name: String = "ebf_sharded_probe"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = BooleanType
  override def onNullKey: Any = false
  def apply(in: Array[Any]): Any =
    bc.value.mightContain(Utf8Key.bytes(in(0).asInstanceOf[UTF8String]))
}

object EbfShardedProbeExpr {
  /** Column-API wrapper: `probeColumn(spark broadcast, $"url")`. */
  def probeColumn(bc: Broadcast[ShardedEbf], key: Column): Column =
    SketchFn.column(EbfShardedProbe(bc), key)
}
