package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** O11 — explicit salted two-stage sketch aggregation for host-skewed
  * shuffles (mandated verbatim by BASELINE.json:north_rule).
  *
  * Why: AQE splits skewed *join* partitions but NOT skewed aggregation
  * groups — a Zipf-heavy host key means one reducer receives the whole
  * head host. Because every sketch in this library is a commutative
  * monoid with an exact merge, aggregation can be split into
  *
  *   stage 1: groupBy(keys :+ salt)  — spreads the head group over
  *            `numSalts` reducers; partial (map-side) aggregation still
  *            applies within each salt;
  *   stage 2: groupBy(keys) over the per-salt sketches with each spec's
  *            [[SketchSpec.merge]] — input is at most numSalts rows per
  *            group, so the second shuffle is tiny.
  *
  * Only the hot groups are salted ([[adaptiveSketchAgg]]); [[hotKeys]]
  * is the one sampled hot-key rule, shared with [[SaltedJoin]], and
  * [[salt]] the one salt column. The result is byte-identical to the
  * unsalted aggregation whichever groups are hot (merge is exact and
  * order-free) — verified by the `salted_vs_plain_equivalence` driver
  * query, which salts every group, and the pipeline test suite.
  */
object SaltedAgg {

  /** One aggregate column routed through the two stages.
    *
    * @param name         output column name
    * @param build        stage-1 aggregate over raw rows, e.g. `expr("ebf_agg(url)")`
    * @param mergeFn      SQL name of the stage-2 bytes-merge aggregator,
    *                     e.g. "ebf_merge_agg"
    * @param mergeBuilder optional stage-2 Column builder (receives the
    *                     stage-1 output column name) for aggregates whose
    *                     merge takes something other than one bytes
    *                     column — e.g. the fused per-host struct
    */
  final case class SketchSpec(name: String, build: Column, mergeFn: String,
                              mergeBuilder: Option[String => Column] = None) {
    /** The stage-2 aggregate over the stage-1 column `name`: the only
      * place a merge is built, for the salted and the checkpointed
      * builds alike. */
    def merge: Column = mergeBuilder.map(_(name)).getOrElse(expr(s"$mergeFn($name)"))
  }

  /** Explicit partition count for the clustering shuffle: AQE would
    * otherwise coalesce it toward 64MB partitions, capping the
    * aggregation stage (where all sketch-insert work happens) at a
    * handful of tasks regardless of cores. */
  private def clusterParts(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Unsalted single-stage counterpart (for equivalence checks / when
    * the group key is known to be well-distributed). */
  def plainAgg(df: DataFrame, keys: Seq[String], specs: Seq[SketchSpec]): DataFrame = {
    val aggs = specs.map(sp => sp.build.as(sp.name))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The sampled hot-key rule: the key tuples whose estimated row count
    * (sampled count / `sampleFraction`) reaches `hotRowThreshold`.
    *
    * The hot set is MATERIALIZED once to the driver (it is the Zipf
    * head — small by definition) and re-enters the plan as a local
    * relation with the keys' schema: the sampling job runs exactly
    * once however often the plan consults the hot set, and the
    * coalesce collapses the sample's ~per-32MB-split task count — 662
    * four-millisecond tasks measured as a stage whose WALL TIME grew
    * with core count on scheduling overhead alone (PLAN13 phase-1
    * decomposition). The result holds each key tuple once.
    *
    * @param sampleFraction pre-pass sample rate (the 100 TB answer to
    *                       "don't scan twice"); 1.0 with a threshold of
    *                       1 makes every non-null key hot
    */
  def hotKeys(sample: DataFrame, keys: Seq[String], hotRowThreshold: Long,
              sampleFraction: Double): DataFrame = {
    val spark = sample.sparkSession
    val keyCols = keys.map(col)
    val hotRows = sample.sample(withReplacement = false, sampleFraction, seed = 42L)
      .coalesce(math.max(2, spark.sparkContext.defaultParallelism))
      .groupBy(keyCols: _*).count()
      .filter(col("count") >= math.max(1.0, hotRowThreshold * sampleFraction))
      .select(keyCols: _*)
      .collect()
    val keySchema = StructType(keys.map(k => sample.schema(sample.schema.fieldIndex(k))))
    spark.createDataFrame(hotRows.toSeq.asJava, keySchema)
  }

  /** The salt of a row: `pmod(xxhash64(saltOn), numSalts)` (bigint)
    * where `hot` holds, 0 elsewhere. */
  private[pipeline] def salt(hot: Column, saltOn: Column, numSalts: Int): Column =
    when(hot, pmod(xxhash64(saltOn), lit(numSalts))).otherwise(lit(0))

  /** Adaptive salting: salt ONLY the hot groups.
    *
    * Salting every group of a Zipf-skewed key is wrong at both ends:
    * the head group needs fan-out, but fanning out millions of small
    * tail groups multiplies the per-group fixed cost (sketch headers,
    * merge rows) by the salt count and makes the second stage as
    * expensive as the first. Here [[hotKeys]] estimates per-group row
    * counts from a sample; only groups whose estimated rows reach
    * `hotRowThreshold` get `numSalts`-way salting — tail groups keep
    * salt 0 and their stage-2 merge is a single-row pass-through.
    *
    * The hot set is broadcast (it is small by definition: a Zipf head).
    * Result is byte-identical to `plainAgg` regardless of which groups
    * were classified hot — salting only changes the merge tree, and
    * merge is exact.
    *
    * @param df           input rows
    * @param keys         group-by key column names
    * @param saltOn       expression whose hash spreads the head groups
    *                     (typically a high-cardinality column like url)
    * @param numSalts     salt fan-out (stage-1 reducers per hot group)
    * @param sampleSource plan to run the hot-detection sample against
    *                     (defaults to `df`). Callers whose `df` carries
    *                     a side-channel observation (CollectMetrics)
    *                     MUST pass an unobserved equivalent here: the
    *                     sample's collect is an action, and it would
    *                     otherwise complete the observation with the
    *                     sample's partial row stream. */
  def adaptiveSketchAgg(df: DataFrame, keys: Seq[String], saltOn: Column, numSalts: Int,
                        specs: Seq[SketchSpec], hotRowThreshold: Long,
                        sampleFraction: Double = 0.01,
                        sampleSource: Option[DataFrame] = None): DataFrame = {
    require(specs.nonEmpty)
    val keyCols = keys.map(col)
    val hot = hotKeys(sampleSource.getOrElse(df), keys, hotRowThreshold, sampleFraction)
      .withColumn("__hot", lit(true))
    val salted = df
      .join(broadcast(hot), keys, "left")
      .withColumn("__salt", salt(col("__hot").isNotNull, saltOn, numSalts))
      .drop("__hot")
    val s1Aggs = specs.map(sp => sp.build.as(sp.name))
    // CLUSTER FIRST: with ~rows/task distinct groups per input split,
    // map-side partial aggregation achieves no reduction while holding
    // one object buffer per group per task (measured: memory scales
    // with parallelism and aggregation stops scaling). Repartitioning
    // by (keys, salt) satisfies the aggregate's required distribution,
    // so Catalyst plans the partial+final pair AFTER one narrow-row
    // shuffle — each task owns its groups outright.
    val stage1 = salted
      .repartition(clusterParts(df), (keys :+ "__salt").map(col): _*)
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(s1Aggs.head, s1Aggs.tail: _*)
    // Stage 2 merges ALL groups through one exchange of the stage-1
    // sketch rows. A hot/tail split (merge only the salted groups,
    // pass tail rows through) was A/B'd in round 4 and REGRESSED ~10%
    // at both parallelism levels: the two branches consume stage1
    // twice, and Spark's ReuseExchange dedupes only the exchange — the
    // stage-1 ObjectHashAggregate recomputes per branch, which costs
    // more than the ~96%-smaller stage-2 exchange saves (PLAN13).
    val s2Aggs = specs.map(sp => sp.merge.as(sp.name))
    stage1
      .groupBy(keyCols: _*)
      .agg(s2Aggs.head, s2Aggs.tail: _*)
  }
}
