package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** O54 — explicit salted equi-join for hot-key skew: the join twin of
  * [[SaltedAgg]].
  *
  * When to reach for this instead of trusting AQE: AQE's skew-join
  * split is the first line of defense, but it declines to split a
  * skewed partition whenever the join's output partitioning is reused
  * downstream — exactly the `join(key).groupBy(key)` shape every
  * enrichment-then-aggregate pipeline has (splitting would force a
  * second shuffle, so Spark keeps the straggler instead). It also
  * re-plans per run from runtime sizes, so a borderline key flaps
  * between plans. Salting is the planner-independent form: the hot
  * keys' rows spread over `numSalts` reducers *by construction*, and
  * the result is row-identical to the plain join because each fact row
  * carries exactly one salt and every hot dim row is replicated to all
  * salts — the (key, salt) match set of any fact row equals its key
  * match set.
  *
  * Cost model (the 100 TB argument): only dim rows whose key is in the
  * hot set are replicated — the hot set is the Zipf head, small by
  * definition, so the dim blow-up is |hot dim rows| x numSalts, paid
  * once, while the fact side (the big side) is never replicated. Cold
  * keys keep salt 0 on both sides and pay nothing. Hot detection is
  * [[SaltedAgg.hotKeys]] over the fact side, the rule
  * [[SaltedAgg.adaptiveSketchAgg]] uses: one cheap sampled scan, hot
  * set collected and broadcast. A fact row's salt is
  * [[SaltedAgg.salt]], as an int.
  *
  * Join types: inner, left/left_outer, left_semi, left_anti — the
  * fact-preserving types. right/full outer are refused: an unmatched
  * hot dim row exists once per salt replica, so each replica would emit
  * its own null-extended row (numSalts duplicates). Flip the sides or
  * de-salt for those.
  *
  * Skew in BOTH sides on the same key (a hot key with many dim rows
  * too) multiplies the replicated dim volume; that regime is a
  * many-to-many hot-key join whose output is quadratic in the key's
  * rows — no salting scheme fixes the output size, and the repair is
  * upstream (pre-aggregate one side).
  */
object SaltedJoin {

  private val FactPreserving = Set("inner", "left", "left_outer", "leftouter", "left_semi",
    "leftsemi", "left_anti", "leftanti")

  /** Salted equi-join with sampled hot-key detection on the fact side.
    *
    * @param fact      big side (never replicated); preserved by outer/semi/anti types
    * @param dim       small side (hot-key rows replicated numSalts times)
    * @param keys      equi-join column names, present in BOTH sides
    * @param saltOn    fact expression whose hash spreads a hot key's rows
    *                  (a high-cardinality fact column, e.g. its primary key)
    * @param numSalts  reducer fan-out per hot key
    * @param hotRowThreshold estimated fact rows per key above which a key
    *                  is classified hot
    * @param sampleFraction  detection sample rate; estimated count =
    *                  sampled count / sampleFraction
    */
  def joinSkewed(fact: DataFrame, dim: DataFrame, keys: Seq[String], saltOn: Column,
                 numSalts: Int, joinType: String = "inner",
                 hotRowThreshold: Long = 1000000L,
                 sampleFraction: Double = 0.01): DataFrame = {
    // hotKeys is duplicate-free already
    salted(fact, dim, keys, saltOn, numSalts,
      SaltedAgg.hotKeys(fact, keys, hotRowThreshold, sampleFraction), joinType)
  }

  /** Same, with the hot-key set supplied explicitly (one row per hot
    * key tuple; schema = the join keys). Any hot set — even empty or
    * all keys — yields rows identical to `fact.join(dim, keys,
    * joinType)`: salting only changes row routing. */
  def joinSkewedWithHot(fact: DataFrame, dim: DataFrame, keys: Seq[String], saltOn: Column,
                        numSalts: Int, hotKeys: DataFrame,
                        joinType: String = "inner"): DataFrame =
    salted(fact, dim, keys, saltOn, numSalts, hotKeys.select(keys.map(col): _*).distinct(),
      joinType)

  /** The salted join over `hot`, the distinct hot key tuples. */
  private def salted(fact: DataFrame, dim: DataFrame, keys: Seq[String], saltOn: Column,
                     numSalts: Int, hot: DataFrame, joinType: String): DataFrame = {
    require(numSalts >= 1, s"numSalts must be positive ($numSalts)")
    require(FactPreserving.contains(joinType.toLowerCase),
      s"joinType '$joinType' not supported: salted dim replicas would duplicate " +
        "null-extended rows of right/full outer joins — flip the sides instead")
    val flagged = broadcast(hot.withColumn("__hot", lit(true)))
    val factSalted = fact.join(flagged, keys, "left")
      .withColumn("__salt", SaltedAgg.salt(col("__hot").isNotNull, saltOn, numSalts).cast("int"))
      .drop("__hot")
    val dimSalted = dim.join(flagged, keys, "left")
      .withColumn("__salt",
        when(col("__hot").isNotNull, sequence(lit(0), lit(numSalts - 1)))
          .otherwise(array(lit(0))))
      .drop("__hot")
      .withColumn("__salt", explode(col("__salt")))
    factSalted.join(dimSalted, keys :+ "__salt", joinType).drop("__salt")
  }
}
