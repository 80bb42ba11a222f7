package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Historical
import graft.pit.PointInTimeJoin

/** Hot keys split into time chunks inside the merge kernel: the split
  * output must be byte-identical to the unsplit kernel on skewed data
  * (Transcripts.synthetic marks ~1% of conversations hot with 50× turns —
  * FIXTURES.md §F1), and the automatic policy must split exactly the hot
  * conversations, and only when Spark's skew threshold says so.
  */
class ChunkingSpec extends SparkTestBase {

  private val turns = Transcripts.synthetic(spark, nConvs = 120, turnsPerConv = 10, seed = 3L)

  private def view(ttl: Long): FeatureView =
    FeatureView("turn_stats",
      turns.select(col("conv_id"), col("ts"), col("turn_idx"), col("role")),
      Seq("conv_id"), "ts", None, ttl,
      features = Seq("turn_idx", "role"), tieBreakCols = Seq("turn_idx"))

  private val entityDf = turns
    .filter(pmod(col("turn_idx"), lit(4)) === 1)
    .select(col("conv_id"),
      (col("ts") + expr("INTERVAL 10 SECONDS")).as("event_ts"),
      col("turn_idx").cast("double").as("label"))

  private val hotConvs = Set("conv_000007", "conv_000107")

  /** Spark's skew threshold lowered so that a hot conversation (~625 merge
    * rows) is above it and a cold one (~13) is not, chunks of a few KB, and
    * AQE partition coalescing off.
    */
  private val lowSkew = Map(
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4k",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema)
    assert(a.except(b).isEmpty && b.except(a).isEmpty, "results must match exactly")
  }

  test("withSqlConf restores set and unset keys after a return and after a throw") {
    val (setKey, unsetKey) = ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    def explicit = Seq(setKey, unsetKey).map(spark.conf.getAll.get)
    val lowered = Map(setKey -> "4k", unsetKey -> "16k")
    spark.conf.set(setKey, "32m")
    try {
      assert(explicit == Seq(Some("32m"), None))
      assert(SparkEntry.withSqlConf(spark, lowered)(explicit) == Seq(Some("4k"), Some("16k")))
      assert(explicit == Seq(Some("32m"), None))
      intercept[IllegalStateException](
        SparkEntry.withSqlConf(spark, lowered)(throw new IllegalStateException("in the block")))
      assert(explicit == Seq(Some("32m"), None))
    } finally spark.conf.unset(setKey)
  }

  test("hot-key detection finds exactly the hot conversations") {
    val split = SparkEntry.withSqlConf(spark, lowSkew)(
      PointInTimeJoin.splitKeys(entityDf, Seq(view(3600L))))
    assert(split.map(_.getString(0)).toSet == hotConvs)
    assert(split.forall(_.getSeq[Any](1).size > 1))
    // restored: the whole input is below the default threshold again
    assert(PointInTimeJoin.splitKeys(entityDf, Seq(view(3600L))).isEmpty)
  }

  test("hot-key chunked output equals the plain output on skewed transcripts") {
    val plain = PointInTimeJoin.enrich(entityDf, view(ttl = 3600L))
    SparkEntry.withSqlConf(spark, lowSkew) {
      // the fixture bites: the automatic policy splits keys here
      assert(PointInTimeJoin.splitKeys(entityDf, Seq(view(3600L))).nonEmpty)
      val chunked = PointInTimeJoin.enrichMergeFused(entityDf, Seq(view(ttl = 3600L)))
      assertSameRows(chunked, plain)
      assert(chunked.count() == entityDf.count())
    }
  }

  test("with no hot keys the output and the physical plan equal the plain ones") {
    // 128 KB is about 1,260 merge rows: above every conversation (a hot
    // one holds ~625) and below the stream's plan estimate (~480 KB), so
    // detection runs and finds nothing to split
    val noHotKey = lowSkew + (
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "128k")
    def build() = PointInTimeJoin.enrichMergeFused(entityDf, Seq(view(ttl = 0L)))
    val (chunked, jobs) = SparkEntry.withSqlConf(spark, noHotKey) {
      assert(PointInTimeJoin.splitKeys(entityDf, Seq(view(0L))).isEmpty)
      var df: DataFrame = null
      val n = jobsStartedBy { df = build() }
      (df, n)
    }
    assert(jobs > jobsStartedBy(PointInTimeJoin.entityBounds(entityDf, "event_ts")),
      "a detection job ran")
    val plain = PointInTimeJoin.enrich(entityDf, view(ttl = 0L))
    assertSameRows(chunked, plain)
    assert(chunked.queryExecution.sparkPlan.canonicalized ==
      plain.queryExecution.sparkPlan.canonicalized)
  }

  test("above the lowered skew threshold a hot conversation spans several window tasks") {
    val plain = Historical.getHistoricalFeatures(entityDf, Seq(view(3600L)))
    SparkEntry.withSqlConf(spark, lowSkew) {
      val out = Historical.getHistoricalFeatures(entityDf, Seq(view(3600L)))
      // no exchange follows the window: an output row's partition is the
      // window task that produced it (a feature column keeps the window
      // in the plan)
      val tasks = out.select(col("conv_id"), col("turn_idx"), spark_partition_id())
        .collect()
        .groupMapReduce(_.getString(0))(r => Set(r.getInt(2)))(_ ++ _)
        .map { case (c, ps) => c -> ps.size }
      assert(hotConvs.forall(tasks(_) > 1), tasks.filter(t => hotConvs(t._1)))
      assert(tasks.removedAll(hotConvs).values.forall(_ == 1))
      assertSameRows(out, plain)
    }
  }

  test("below the skew threshold a retrieval starts no detection job") {
    def build(): Unit = Historical.getHistoricalFeatures(entityDf, Seq(view(3600L)))
    // the entity-bounds scan is the only work of planning a retrieval
    assert(jobsStartedBy(build()) ==
      jobsStartedBy(PointInTimeJoin.entityBounds(entityDf, "event_ts")))
    assert(SparkEntry.withSqlConf(spark, lowSkew)(jobsStartedBy(build())) > 1)
  }
}
