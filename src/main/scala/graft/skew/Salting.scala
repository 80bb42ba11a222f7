package graft.skew

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hot-key salting for skewed equi-joins.
  *
  * The reference acknowledges but does not handle skew (SURVEY.md §4): a hot
  * conversation with 10^7 turns lands every matching row of both join sides
  * in one shuffle partition. We split each hot key into `buckets` salted
  * sub-keys: the *large* side gets a deterministic salt derived from a
  * spread column (`pmod(xxhash64(ts), n)`), the *small* side replicates each
  * hot-key row once per salt (`explode(sequence(...))`). Cold keys keep
  * salt 0 / a single replica, so the join is unchanged for them.
  *
  * This composes with AQE's skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default): AQE splits
  * oversized *partitions*, salting splits oversized *keys* — only the latter
  * helps when one key alone exceeds a partition, which is exactly the hot-
  * conversation case in the north rule.
  *
  * Downstream aggregations stay correct as long as they re-group by the
  * original keys (partial aggregation merges across salts).
  */
object Salting {

  /** Broadcastable frame of hot keys `(keys..., __nsalt)`: keys with at
    * least `rowThreshold` rows. Detection is a map-side-combined count per
    * key — cheap next to the join it protects.
    */
  def detectHotKeys(
      src: DataFrame,
      keys: Seq[String],
      rowThreshold: Long,
      buckets: Int
  ): DataFrame = {
    require(buckets > 1, "need at least 2 salt buckets")
    src
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= math.max(1L, rowThreshold))
      .select(keys.map(col) :+ lit(buckets).as("__nsalt"): _*)
  }

  /** Salt the large side: hot keys spread over `__nsalt` buckets by
    * `spreadCol` (any well-distributed column — the event timestamp works),
    * cold keys get salt 0.
    */
  def saltLarge(df: DataFrame, hot: DataFrame, keys: Seq[String], spreadCol: Column): DataFrame =
    df.join(broadcast(hot), keys, "left")
      .withColumn(
        "__salt",
        when(col("__nsalt").isNotNull,
          pmod(xxhash64(spreadCol), col("__nsalt")).cast("int"))
          .otherwise(lit(0)))
      .drop("__nsalt")

  /** Replicate the small side: one row per salt bucket for hot keys, a
    * single salt-0 row for cold keys.
    */
  def saltSmall(df: DataFrame, hot: DataFrame, keys: Seq[String]): DataFrame =
    df.join(broadcast(hot), keys, "left")
      .withColumn(
        "__salt",
        explode(sequence(lit(0), coalesce(col("__nsalt"), lit(1)) - 1)))
      .drop("__nsalt")
}
