package graft.plans

import graft.core.Hash128
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The bytes a Catalyst string key hashes as — the one entry point
  * every native string path (sketch aggregates, probes, hash and shard
  * expressions) goes through, so that it agrees with the `String`
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

/** Codegen'd 128-bit string hash (the library's own [[Hash128]] — the
  * hash every sketch consumes), exposed as a Long column per half
  * (`part` 0 -> h1, 1 -> h2).
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
  * mirroring the string-fed aggregators' null-skip).
  */
// StringInputCast: implicit cast to string, matching what a registered
// Scala UDF with a String parameter accepted (graft_hash128_h1(doc_id)
// keeps working)
case class Hash128Expr(child: Expression, seed: Long, part: Int)
    extends UnaryExpression
    with org.apache.spark.sql.graftshim.StringInputCast {
  require(part == 0 || part == 1, s"part must be 0 (h1) or 1 (h2), got $part")

  override def dataType: DataType = LongType
  override def prettyName: String = if (part == 0) "graft_hash128_h1" else "graft_hash128_h2"

  /** Called from both interpreted eval and generated code. */
  def hashPart(u: UTF8String): Long = {
    val h = Utf8Key.hash(u, seed)
    if (part == 0) h.h1 else h.h2
  }

  override protected def nullSafeEval(input: Any): Any =
    hashPart(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hash128Expr", this, classOf[Hash128Expr].getName)
    defineCodeGen(ctx, ev, c => s"$self.hashPart($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Hash128Expr =
    copy(child = newChild)
}

/** Codegen'd shard router — `hash64(key, RouteSeed) mod numShards`,
  * non-negative, null key -> null shard (joins no shard, probes as a
  * miss). The native form of the `graft_shard` SQL function: the
  * router sits on the map side of every shard build and probe
  * (32M+ rows in the flagship's phase 3 alone), where a Scala UDF
  * pays a catalyst->scala converter crossing per row and breaks
  * whole-stage codegen. Routing is byte-identical to the UDF form
  * (same hash, same mod). */
// StringInputCast: implicit cast to string, matching what the former
// Scala UDF with a String parameter accepted (graft_shard(doc_id, 64)
// keeps working)
case class GraftShardExpr(child: Expression, numShards: Int)
    extends UnaryExpression
    with org.apache.spark.sql.graftshim.StringInputCast {
  require(numShards >= 1, s"numShards must be >= 1, got $numShards")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_shard"

  /** Called from both interpreted eval and generated code. */
  def route(u: UTF8String): Int = {
    val h = Utf8Key.hash(u, graft.core.ShardedEbf.DefaultRouteSeed).h1
    val m = (h % numShards).toInt
    if (m < 0) m + numShards else m
  }

  override protected def nullSafeEval(input: Any): Any =
    route(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftShardExpr", this, classOf[GraftShardExpr].getName)
    defineCodeGen(ctx, ev, c => s"$self.route($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): GraftShardExpr =
    copy(child = newChild)
}

object GraftShardExpr {
  def apply(c: Column, numShards: Int): Column =
    ColumnBridge.column(GraftShardExpr(ColumnBridge.expression(c), numShards))

  /** SQL registration triple for `graft_shard(key, numShards)` — the
    * shard count must be a foldable integral (it is a build-time
    * constant everywhere the router is used). */
  def sqlDescriptor: (
      org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) = {
    val builder = (args: Seq[Expression]) => {
      val n = args match {
        case Seq(_, s) if s.foldable => s.eval() match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_shard numShards must be an integral literal, got $other")
        }
        case _ => throw new IllegalArgumentException(
          s"graft_shard expects (key, numShards literal), got ${args.size} args")
      }
      // reject rather than truncate: 5e9 silently becoming 705032704
      // would route every row modulo a garbage shard count
      if (n < 1 || n > Int.MaxValue) throw new IllegalArgumentException(
        s"graft_shard numShards must be in [1, ${Int.MaxValue}], got $n")
      GraftShardExpr(args.head, n.toInt)
    }
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_shard"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GraftShardExpr].getName, "graft_shard"),
      builder)
  }
}

object Hash128Expr {
  def h1(c: Column, seed: Long): Column =
    ColumnBridge.column(Hash128Expr(ColumnBridge.expression(c), seed, 0))
  def h2(c: Column, seed: Long): Column =
    ColumnBridge.column(Hash128Expr(ColumnBridge.expression(c), seed, 1))

  /** SQL registration triple for `graft_hash128_h1/h2(str[, seed])` —
    * shared by the `GraftExtensions` injection path and
    * `Graft.ensure`'s session-level registration (FunctionShim). The
    * optional seed must be a foldable integral. */
  def sqlDescriptor(name: String, part: Int): (
      org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) = {
    val builder = (args: Seq[Expression]) => {
      val seed = args match {
        case Seq(_) => graft.functions.Graft.SketchSeed
        case Seq(_, s) if s.foldable => s.eval() match {
          case l: java.lang.Long => l.longValue()
          case i: java.lang.Integer => i.longValue()
          case other => throw new IllegalArgumentException(
            s"$name seed must be an integral literal, got $other")
        }
        case _ => throw new IllegalArgumentException(
          s"$name expects (str[, seed literal]), got ${args.size} args")
      }
      Hash128Expr(args.head, seed, part)
    }
    (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[Hash128Expr].getName, name),
      builder)
  }
}
