package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** An independent Spark reference for the as-of join: the plain range join
  * of the reference's SQL template (spark.py:1709-1887, J1-J7) — equi-join
  * on the keys with `feature_ts <= event_ts`, the TTL floor and the
  * optional created-ts cutoff, a `max_by` over (ts, created nulls-lose,
  * tiebreaks) per distinct probe, and a left join back onto the entity
  * frame. Quadratic per key; used ONLY in tests, against small fixtures,
  * to check the engine's merge kernel.
  */
object RangeJoinReference {

  def enrich(
      entityDf: DataFrame,
      view: FeatureView,
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false
  ): DataFrame = {
    val keys = view.joinKeys
    val src = view.mappedSource.alias("__src")
    val probe = entityDf.select((keys :+ entityTsCol).map(col): _*)
      .dropDuplicates(keys :+ entityTsCol).alias("__probe")
    val fts = col("__src." + view.tsCol)
    val ets = col("__probe." + entityTsCol)
    var cond: Column = keys.map(k => col("__src." + k) === col("__probe." + k))
      .foldLeft(fts <= ets)(_ && _)
    if (view.ttlSeconds > 0)
      cond = cond && (fts >= ets - expr(s"INTERVAL ${view.ttlSeconds} SECONDS"))
    if (filterByCreatedTs)
      view.createdTsCol.foreach(c => cond = cond && (col("__src." + c) <= ets))
    val minTs = lit("1900-01-01 00:00:00").cast("timestamp")
    val ord = struct((fts +: (view.createdTsCol.map(c => coalesce(col("__src." + c), minTs)).toSeq ++
      view.tieBreakCols.map(c => col("__src." + c)))): _*)
    val feats = view.resolvedFeatures
    val latest = src.join(probe, cond, "inner")
      .groupBy((keys.map(k => col("__probe." + k)) :+ ets): _*)
      .agg(max_by(struct(feats.map(f => col("__src." + f).as(f)): _*), ord).as("__best"))
      .select(keys.map(col) ++ Seq(col(entityTsCol)) ++ feats.map(f =>
        col("__best." + f).as(if (fullFeatureNames) s"${view.name}__$f" else f)): _*)
    entityDf.join(latest, keys :+ entityTsCol, "left")
  }
}
