package graft.plans

import graft.core.ShardedEbf
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst membership probe against a broadcast sharded EBF —
  * the hot map-side operator of the flagship pipeline, as a codegen'd
  * expression instead of a Scala UDF.
  *
  * Why not a UDF: the UDF boundary costs a catalyst<->scala converter
  * per row (UTF8String -> String decode) plus a megamorphic function
  * call outside the whole-stage-codegen span. This expression stays
  * inside the generated code: the child's UTF8String feeds
  * `ShardedEbf.mightContain(byte[])` directly through [[Utf8Key]]
  * (which hashes identically to the String form), no boxing.
  *
  * Why not a broadcast hash JOIN on shard id carrying sketch bytes:
  * extracting a multi-MB `sk` binary column from the joined row costs a
  * full copy of the shard's bytes PER PROBED ROW (UnsafeRow.getBinary
  * copies) — measured catastrophic at 10^6+ probes of ~MB shards. The
  * broadcast handle here ships the shard table's bytes to each executor
  * exactly once (the same data movement as a broadcast join's build
  * side — BroadcastExchange also collects to the driver first), and
  * shards deserialize lazily per JVM on first touch.
  *
  * Null keys probe as non-members (never null), mirroring the build
  * side's null-skipping aggregators.
  */
case class EbfShardedProbeExpr(child: Expression, bc: Broadcast[ShardedEbf])
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key, got ${child.dataType}")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "ebf_sharded_probe"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null && bc.value.mightContain(Utf8Key.bytes(v.asInstanceOf[UTF8String]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the broadcast HANDLE rides the references array (tiny); the shard
    // bytes move through the torrent protocol once per executor
    val bcRef = ctx.addReferenceObj("ebfShardsBc", bc,
      classOf[Broadcast[ShardedEbf]].getName)
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        boolean ${ev.value} = false;
        if (!${childGen.isNull}) {
          ${ev.value} = ((graft.core.ShardedEbf) $bcRef.value())
            .mightContain(graft.plans.Utf8Key.bytes(${childGen.value}));
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): EbfShardedProbeExpr =
    copy(child = newChild)
}

object EbfShardedProbeExpr {
  /** Column-API wrapper: `probeColumn(spark broadcast, $"url")`. */
  def probeColumn(bc: Broadcast[ShardedEbf], key: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      EbfShardedProbeExpr(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(key), bc))
}
