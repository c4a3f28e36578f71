package graft.plans

import graft.core.Ebf
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, ScalaUDF, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Membership probe against a LITERAL (plan-constant) serialized EBF,
  * deserialized lazily once per task and probed inside whole-stage
  * codegen.
  *
  * Why this exists: the generic `ebf_might_contain` scalar UDF must
  * treat its sketch argument as per-row data, so each row pays the
  * SketchCache lookup — which, since the cache verifies hits with
  * `Arrays.equals` (a correctness requirement; see SketchCache), is a
  * full memcmp of the sketch bytes PER ROW. When the sketch is a
  * foldable expression the bytes are known at optimization time: this
  * expression pins them once, deserializes once per task, and the
  * per-row cost drops to the pure probe. [[ReplaceLiteralEbfProbe]]
  * rewrites qualifying UDF calls automatically.
  */
case class EbfLiteralProbeExpr(child: Expression, sketchBytes: Array[Byte])
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key, got ${child.dataType}")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "ebf_literal_probe"

  @transient private lazy val ebf: Ebf = Ebf.fromBytes(sketchBytes)

  /** Called from both interpreted eval and generated code. */
  def probe(key: UTF8String): Boolean =
    key != null && ebf.mightContain(Utf8Key.bytes(key))

  override def eval(input: InternalRow): Any =
    probe(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ebfLiteralProbe", this,
      classOf[EbfLiteralProbeExpr].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        boolean ${ev.value} = $self.probe(${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): EbfLiteralProbeExpr =
    copy(child = newChild)
}

/** Optimizer rule for sketch scalar functions over foldable (plan-
  * constant) sketch arguments — the natural way to probe a collected
  * sketch in pure SQL (`X'…'` literals, scalar subqueries folded by
  * ConstantFolding). Three rewrites, strongest first:
  *
  *  1. The ENTIRE call is foldable (sketch and argument both constant,
  *     e.g. `kll_quantile(X'…', 0.5)`, or the zero-argument scalars
  *     `hll_estimate` / `cms_total` / `ebf_fpr` / `topk_error`): the
  *     UDF is evaluated once at plan time and replaced by a `Literal` —
  *     ConstantFolding cannot see into a ScalaUDF, this rule can.
  *  2. `ebf_might_contain(<foldable sketch>, key)` with a per-row key
  *     becomes [[EbfLiteralProbeExpr]] (null sketch folds to false,
  *     matching the UDF's null guard; null keys miss).
  *  3. `cms_estimate` / `topk_estimate` / `kll_quantile` / `kll_rank` /
  *     `tdigest_quantile` / `tdigest_cdf` with a foldable sketch and a
  *     per-row argument become [[SketchLiteralScalarExpr]], which pins
  *     the deserialized sketch once per task (the UDF path pays a
  *     SketchCache `Arrays.equals` memcmp of the sketch bytes per row).
  *
  * If a foldable argument cannot be evaluated at plan time (e.g. a
  * failing ANSI cast), the UDF is left alone — the optimizer must never
  * fail for an expression the query might not even execute.
  *
  * Active in any session after `Graft.ensure` (via
  * `spark.experimental.extraOptimizations`) or configured globally via
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object ReplaceLiteralEbfProbe extends Rule[LogicalPlan] {

  /** Deterministic sketch scalars safe to constant-fold when every
    * argument is foldable. ebf_expand/compress/delete are excluded on
    * purpose: they RETURN sketches, and folding would inline multi-MB
    * byte arrays into the plan. */
  private val constFoldable: Set[String] =
    SketchScalarKinds.all.keySet ++ Set("ebf_might_contain", "ebf_fpr",
      "hll_estimate", "cms_total", "topk_error")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case u: ScalaUDF
        if u.udfName.exists(constFoldable) && u.children.nonEmpty &&
          u.children.forall(_.foldable) && u.deterministic =>
      // internal and external forms coincide for Boolean/Long/Double
      try Literal.create(u.eval(null), u.dataType)
      catch { case _: Exception => u }

    case u: ScalaUDF
        if u.udfName.contains("ebf_might_contain") && u.children.size == 2 &&
          u.children.head.foldable && u.children.head.dataType == BinaryType &&
          u.children(1).dataType == StringType =>
      try {
        u.children.head.eval() match {
          case bytes: Array[Byte] => EbfLiteralProbeExpr(u.children(1), bytes)
          case null => Literal(false, BooleanType)
        }
      } catch { case _: Exception => u }

    case u: ScalaUDF
        if u.udfName.exists(SketchScalarKinds.all.contains) && u.children.size == 2 &&
          u.children.head.foldable && u.children.head.dataType == BinaryType &&
          u.children(1).dataType == SketchScalarKinds.all(u.udfName.get).argType =>
      try {
        u.children.head.eval() match {
          case bytes: Array[Byte] =>
            SketchLiteralScalarExpr(u.children(1), bytes,
              SketchScalarKinds.all(u.udfName.get))
          // a null sketch would NPE on the UDF path too — leave it, the
          // error surfaces at execution (if the branch even runs)
          case null => u
        }
      } catch { case _: Exception => u }
  }
}

/** `SparkSessionExtensions` entry point — the config-driven way to get
  * the graft optimizer rules and native SQL expressions without code
  * changes: `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  * (The sketch aggregates and scalar UDFs register through
  * `Graft.ensure(spark)`, which also installs the optimizer rules via
  * `experimental.extraOptimizations`.)
  *
  * Injected SQL functions (native, codegen'd):
  *  - `graft_hash128_h1(str[, seed])` / `graft_hash128_h2(str[, seed])`
  *    — the library's 128-bit key hash, for "shuffle hashes, not
  *    strings" projections in pure SQL (seed defaults to the library
  *    seed; must be a foldable long);
  *  - `graft_shard(key, numShards)` — the deterministic shard router
  *    (numShards must be foldable; null keys route to null).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => ReplaceLiteralEbfProbe)
    ext.injectOptimizerRule(_ => EbfJoinPruneRule)
    ext.injectOptimizerRule(_ => ApproxDistinctRewriteRule)
    ext.injectOptimizerRule(_ => ApproxPercentileRewriteRule)
    ext.injectOptimizerRule(_ => ApproxModeRewriteRule)
    ext.injectOptimizerRule(_ => ApproxTopKRewriteRule)
    ext.injectFunction(Hash128Expr.sqlDescriptor("graft_hash128_h1", 0))
    ext.injectFunction(Hash128Expr.sqlDescriptor("graft_hash128_h2", 1))
    ext.injectFunction(GraftShardExpr.sqlDescriptor)
    ext.injectFunction(ZOrderKeyExpr.sqlDescriptor)
  }
}
