package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.FunctionShim

/** `SparkSessionExtensions` entry point — the config-driven way to get
  * the graft optimizer rules and native SQL expressions without code
  * changes: `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  * `Graft.ensure(spark)` installs the same [[GraftExtensions.rules]]
  * and [[GraftExtensions.functions]] through
  * `experimental.extraOptimizations`, and registers the sketch
  * aggregates and scalars besides.
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

  /** The native SQL functions:
    *  - `graft_hash128_h1(str[, seed])` / `graft_hash128_h2(str[, seed])`
    *    — the library's 128-bit key hash, for "shuffle hashes, not
    *    strings" projections in pure SQL (seed defaults to the library
    *    seed; must be a foldable long);
    *  - `graft_shard(key, numShards)` — the deterministic shard router
    *    (numShards must be foldable; null keys route to null);
    *  - `graft_zorder_key(bucket1, ..., bits)` — the Z-order key.
    */
  def functions: Seq[FunctionShim.Descriptor] = Seq(
    Hash128Expr.sqlDescriptor("graft_hash128_h1", 0),
    Hash128Expr.sqlDescriptor("graft_hash128_h2", 1),
    GraftShardExpr.sqlDescriptor,
    ZOrderKeyExpr.sqlDescriptor)
}
