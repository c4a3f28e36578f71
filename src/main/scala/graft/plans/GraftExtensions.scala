package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.FunctionShim

/** `SparkSessionExtensions` entry point — the config-driven way to get
  * the graft optimizer rules and the four SQL functions whose builders
  * read a literal argument, without code changes:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  * `Graft.ensure(spark)` installs the same [[GraftExtensions.rules]]
  * and [[GraftExtensions.functions]] through
  * `experimental.extraOptimizations`, and registers the sketch
  * aggregates ([[SketchAgg]]) and the other scalars ([[SketchFn]])
  * besides.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.rules.foreach(rule => ext.injectOptimizerRule(_ => rule))
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  /** The optimizer rules, each a no-op until its
    * `spark.graft.<rule>.enabled` is true. All but the join prune
    * change results to bounded estimates. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    EbfJoinPruneRule,            // joinPrune: EBF semi-join reduction
    ApproxDistinctRewriteRule,   // approxDistinct: COUNT(DISTINCT) -> HLL
    ApproxPercentileRewriteRule, // approxPercentile: percentile/median -> KLL
    ApproxModeRewriteRule,       // approxMode: mode -> Misra-Gries top-1
    ApproxTopKRewriteRule)       // approxTopK: top-k by count -> Misra-Gries

  /** The SQL functions with a literal argument, each a [[SketchFn]]:
    *  - `graft_hash128_h1(str[, seed])` / `graft_hash128_h2(str[, seed])`
    *    — the library's 128-bit key hash, for "shuffle hashes, not
    *    strings" projections in pure SQL (seed defaults to the library
    *    seed; must be a foldable long);
    *  - `graft_shard(key, numShards)` — the deterministic shard router
    *    (numShards must be foldable; null keys route to null);
    *  - `graft_zorder_key(bucket1, ..., bits)` — the Z-order key.
    */
  def functions: Seq[FunctionShim.Descriptor] = Seq(
    hash128("graft_hash128_h1", 0),
    hash128("graft_hash128_h2", 1),
    native("graft_shard") {
      case Seq(key, s) if s.foldable =>
        val n = integral(s, "graft_shard numShards must be an integral literal")
        // reject rather than truncate: 5e9 silently becoming 705032704
        // would route every row modulo a garbage shard count
        if (n < 1 || n > Int.MaxValue) throw new IllegalArgumentException(
          s"graft_shard numShards must be in [1, ${Int.MaxValue}], got $n")
        SketchFn(Seq(key), GraftShard(n.toInt))
      case args => throw new IllegalArgumentException(
        s"graft_shard expects (key, numShards literal), got ${args.size} args")
    },
    native("graft_zorder_key") { args =>
      if (args.size < 3) throw new IllegalArgumentException(
        s"graft_zorder_key expects (bucket1, bucket2, ..., bits literal), got ${args.size} args")
      if (!args.last.foldable) throw new IllegalArgumentException(
        "graft_zorder_key bits must be a foldable integral literal")
      val bits = integral(args.last, "graft_zorder_key bits must be an integral literal")
      SketchFn(args.init, ZOrderKey(args.size - 1, bits.toInt))
    })

  private def hash128(name: String, part: Int): FunctionShim.Descriptor = native(name) {
    case Seq(key) => SketchFn(Seq(key), Hash128Part(graft.functions.Graft.SketchSeed, part))
    case Seq(key, s) if s.foldable =>
      SketchFn(Seq(key), Hash128Part(integral(s, s"$name seed must be an integral literal"), part))
    case args => throw new IllegalArgumentException(
      s"$name expects (str[, seed literal]), got ${args.size} args")
  }

  private def native(name: String)(build: Seq[Expression] => Expression): FunctionShim.Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(classOf[SketchFn].getName, name), build)

  /** The value of a foldable int or bigint argument. */
  private def integral(e: Expression, error: String): Long = e.eval() match {
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long => l.longValue()
    case other => throw new IllegalArgumentException(s"$error, got $other")
  }
}
