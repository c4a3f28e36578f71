package graft.pipeline

import graft.core.ShardedEbf
import graft.functions.Graft
import graft.plans.{EbfHashKind, EbfShardedProbeExpr, SketchAgg}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The 10^12-scale probe path: the sharded EBF kept as a `(shard, sk)`
  * DataFrame built by a parallel groupBy(shard), and two ways to probe
  * it:
  *
  *   - [[broadcastShards]] + [[probeBroadcast]]: the table collected
  *     once into a `Broadcast[ShardedEbf]`, probed per row by the
  *     codegen'd native expression with no per-row sketch bytes;
  *   - [[probeCogrouped]]: keys and shards co-grouped by shard id, each
  *     shard deserialized once per group, no broadcast and no driver
  *     collect — for shard tables too big to broadcast.
  *
  * At web scale the shard table is 10^4-10^5 rows of ~MB sketches:
  * far too big for one driver object, right for a broadcast while it
  * fits an executor, and for the co-grouped probe beyond that.
  */
object ShardedProbe {

  /** Build the `(shard, sk)` sketch table over `keyCol`.
    *
    * `clusterFirst = true` repartitions by shard BEFORE the aggregation:
    * the partial aggregate then sees only whole shards, so it IS the
    * final build and the reduce side merges ~1 sketch instead of
    * re-merging one partial sketch per (scan task x shard) — trading a
    * raw-key shuffle for the elimination of the double build+merge.
    * Worth it when keys are narrow relative to sketch bytes shuffled
    * (scanTasks x numShards partials); measured in BENCH/BASELINE.md. */
  def buildShardTable(df: DataFrame, keyCol: Column, numShards: Int,
                      m0: Int = 4096, k: Int = 5, l0: Int = 16,
                      clusterFirst: Boolean = false): DataFrame = {
    Graft.ensure(df.sparkSession)
    // "shuffle hashes, not strings": the key is consumed only as its
    // Hash128 (Ebf.insertHash), so hash BEFORE the shard exchange and
    // ship 16 bytes per row instead of the raw key — byte-identical
    // sketches (spec-asserted), roughly half the clusterFirst shuffle
    val keyed = df.select(keyCol.as("__key"))
      // null keys are skipped by the aggregator anyway; dropping them
      // here avoids emitting a useless null-shard row
      .filter(col("__key").isNotNull)
      .select(expr(s"graft_shard(__key, $numShards)").as("shard"),
        graft.plans.Hash128Expr.h1(col("__key"), Graft.SketchSeed).as("__h1"),
        graft.plans.Hash128Expr.h2(col("__key"), Graft.SketchSeed).as("__h2"))
    val clustered =
      if (clusterFirst) keyed.repartition(numShards, col("shard")) else keyed
    clustered
      .groupBy("shard")
      .agg(SketchAgg.column(Seq(col("__h1"), col("__h2")),
        EbfHashKind(m0, k, l0, 1, 8, Graft.SketchSeed)).as("sk"))
  }

  /** Deploy a shard table for probing: collect it once into a
    * `Broadcast[ShardedEbf]`. This is the same data movement as a
    * broadcast hash join's build side — `BroadcastExchangeExec` also
    * collects its child to the driver before torrenting — but the
    * probe side then runs as a codegen'd native expression with NO
    * per-row sketch-byte materialization (a join that carries `sk` into
    * the probed rows copies the matched shard's ~MB binary for every
    * key, measured in BENCH/PLANS.md). Beyond driver/broadcast limits
    * (shard tables of 10s of GB), use [[probeCogrouped]]. */
  def broadcastShards(shardTable: DataFrame, numShards: Int): Broadcast[ShardedEbf] = {
    val rows = shardTable.collect().map(r => (r.getInt(0), r.getAs[Array[Byte]](1)))
    val sharded = ShardedEbf.fromShardBytes(rows.toSeq, numShards)
    shardTable.sparkSession.sparkContext.broadcast(sharded)
  }

  /** Probe `keyCol` of `keys` against broadcast shards via the native
    * codegen'd expression; adds boolean `hit` (null keys miss). */
  def probeBroadcast(keys: DataFrame, keyCol: Column,
                     bc: Broadcast[ShardedEbf]): DataFrame =
    keys.withColumn("hit", EbfShardedProbeExpr.probeColumn(bc, keyCol))

  /** The beyond-broadcast-limits probe: co-group keys and shards by
    * shard id. Both sides shuffle on `shard`; the cogroup function
    * receives each shard's sketch bytes exactly ONCE per group and the
    * full (lazily streamed) key iterator, so the sketch is deserialized
    * once per shard with zero per-row byte copies, no broadcast, and no
    * driver collect anywhere — correct for shard tables of any size
    * (scale the shard count with the key volume). Returns
    * `(key string, hit boolean)`; null keys miss; keys routing to an
    * absent shard miss.
    *
    * Cost shape: one full shuffle of the probe keys (narrow rows) + one
    * tiny shuffle of the shard table — vs zero probe-side shuffle for
    * [[probeBroadcast]]. Use the broadcast form whenever the shard
    * table fits an executor; this form exists for when it cannot. */
  def probeCogrouped(keys: DataFrame, keyCol: Column, shardTable: DataFrame,
                     numShards: Int): DataFrame = {
    val spark = keys.sparkSession
    Graft.ensure(spark)
    import spark.implicits._
    val keyDs = keys.select(keyCol.cast("string").as("key"))
    val grouped = keyDs.filter(col("key").isNotNull)
      .select(expr(s"graft_shard(key, $numShards)").as("shard"), col("key"))
      .as[(Int, String)].groupByKey(_._1)
    val shards = shardTable.select(col("shard").cast("int"), col("sk"))
      .as[(Int, Array[Byte])].groupByKey(_._1)
    val probed = grouped.cogroup(shards) { (_, ks, sks) =>
      val sk = if (sks.hasNext) graft.core.Ebf.fromBytes(sks.next()._2) else null
      if (sk == null) ks.map { case (_, k) => (k, false) }
      else ks.map { case (_, k) => (k, sk.mightContain(k)) }
    }.toDF("key", "hit")
    probed.unionByName(
      keyDs.filter(col("key").isNull).select(col("key"), lit(false).as("hit")))
  }
}
