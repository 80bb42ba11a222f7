package graft.agg

import graft.Aggregation
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grouped / windowed aggregations from an [[graft.Aggregation]] spec list.
  * Reference: the Spark agg node (infra/compute_engines/spark/nodes.py:
  * 364-396) — `groupBy(keys).agg(...)` when no window, `groupBy(keys,
  * window(ts, dur))` for tumbling, `window(ts, dur, slide)` for sliding.
  * Function set per aggregation/__init__.py:21: sum, max, min, count,
  * avg/mean, count_distinct, std, var.
  *
  * Scale notes: every function here is algebraic for Catalyst — map-side
  * partial aggregation applies; `count_distinct` rewrites to a two-phase
  * expand; prefer `approx_count_distinct` at 100 TB (exposed as
  * `approx_count_distinct` function name).
  */
object Aggregations {

  def aggColumn(spec: Aggregation): Column = {
    val c = col(spec.column)
    val f = spec.function match {
      case "sum"                   => sum(c)
      case "max"                   => max(c)
      case "min"                   => min(c)
      case "count"                 => count(c)
      case "avg" | "mean"          => avg(c)
      case "count_distinct"        => countDistinct(c)
      case "approx_count_distinct" => approx_count_distinct(c)
      case "std" | "stddev"        => stddev_samp(c)
      case "var" | "variance"      => var_samp(c)
      case other => throw new IllegalArgumentException(s"unsupported aggregation: $other")
    }
    f.as(spec.outputName)
  }

  private def requireSpecs(specs: Seq[Aggregation]): Unit =
    require(specs.nonEmpty, "at least one Aggregation spec required")

  /** Plain grouped aggregation over the entity keys (nodes.py:364-373). */
  def grouped(df: DataFrame, keys: Seq[String], specs: Seq[Aggregation]): DataFrame = {
    requireSpecs(specs)
    df.groupBy(keys.map(col): _*).agg(aggColumn(specs.head), specs.tail.map(aggColumn): _*)
  }

  /** Tumbling-window aggregation (nodes.py:375-392): a [[sliding]] window
    * whose slide is its width, as Spark's `window(ts, d)` is
    * `window(ts, d, d)`.
    */
  def tumbling(df: DataFrame, keys: Seq[String], tsCol: String,
               windowSec: Long, specs: Seq[Aggregation]): DataFrame =
    sliding(df, keys, tsCol, windowSec, windowSec, specs)

  /** Sliding-window aggregation — the reference declares `slide_interval`
    * (aggregation/__init__.py:44-47) but its Spark node ignores it; we
    * implement it natively with window(ts, win, slide). Output carries
    * `win_start`/`win_end` instead of the opaque window struct so results
    * are plain-SQL comparable.
    */
  def sliding(df: DataFrame, keys: Seq[String], tsCol: String,
              windowSec: Long, slideSec: Long, specs: Seq[Aggregation]): DataFrame = {
    requireSpecs(specs)
    df.groupBy((keys.map(col) :+ window(col(tsCol), s"$windowSec seconds", s"$slideSec seconds")): _*)
      .agg(aggColumn(specs.head), specs.tail.map(aggColumn): _*)
      .withColumn("win_start", col("window.start"))
      .withColumn("win_end", col("window.end"))
      .drop("window")
  }
}
