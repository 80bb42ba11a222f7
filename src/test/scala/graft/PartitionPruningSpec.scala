package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pit.PointInTimeJoin

/** P6: date-partition predicates derived from the entity range + TTL must
  * reach the file index (PartitionFilters) and must not change results.
  */
class PartitionPruningSpec extends SparkTestBase {

  private val tmp = tempDir("graft-prune")

  private lazy val src = {
    Transcripts.synthetic(spark, nConvs = 40, turnsPerConv = 15, seed = 21L)
      .withColumn("ds", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("ds").mode("overwrite").parquet(tmp)
    spark.read.option("basePath", tmp).parquet(tmp)
  }

  // entity rows from one single day → with a 1 h TTL only ~1-2 partitions
  // of several should survive pruning
  private lazy val entityDf = {
    val day = src.select(min(col("ds")).cast("string")).head().getString(0)
    src.filter(col("ds") === day)
      .select(col("conv_id"), (col("ts") + expr("INTERVAL 5 SECONDS")).as("event_ts"))
      .limit(50)
  }

  private def view(dpc: Option[String]) = FeatureView(
    "turn_stats", src, Seq("conv_id"), "ts", None, ttlSeconds = 3600L,
    features = Seq("turn_idx", "role"), tieBreakCols = Seq("turn_idx"),
    datePartitionCol = dpc)

  test("partition predicates appear in the scan and results are unchanged") {
    val nParts = src.select("ds").distinct().count()
    assert(nParts >= 3, s"fixture must span several days, got $nParts")

    val pruned = PointInTimeJoin.enrich(entityDf, view(Some("ds")))
    val plain = PointInTimeJoin.enrich(entityDf, view(None))
    assert(pruned.except(plain).isEmpty && plain.except(pruned).isEmpty,
      "partition pruning must not change results")

    val planStr = pruned.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*ds#".r
    assert(pf.findFirstIn(planStr).isDefined,
      s"expected ds partition filters in the scan:\n${planStr.take(2000)}")
  }
}
