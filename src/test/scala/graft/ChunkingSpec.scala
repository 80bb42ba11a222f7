package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Historical
import graft.pit.PointInTimeJoin
import graft.pit.PointInTimeJoin.Chunking

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

  /** 128 KB is about 1,260 merge rows: above every conversation (a hot
    * one holds ~625) and below the stream's plan estimate (~480 KB), so
    * detection runs and finds nothing to split.
    */
  private val noHotKey = lowSkew + (
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "128k")

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

  test("a hot key's bounds follow its rows: a late burst spreads over the chunks") {
    import spark.implicits._
    // one key: 20 rows an hour apart, then 600 rows a second apart, and a
    // probe at every row; equal-width slices would put the burst in one
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val times = (0 until 20).map(_ * 3600000L) ++ (0 until 600).map(20 * 3600000L + _ * 1000L)
    val src = times.zipWithIndex
      .map { case (t, i) => ("k", new java.sql.Timestamp(base + t), i) }.toDF("k", "ts", "v")
    val v = FeatureView("burst", src, Seq("k"), "ts", None, 0L, features = Seq("v"))
    val ents = src.select(col("k"), col("ts").as("event_ts"))
    SparkEntry.withSqlConf(spark, lowSkew) {
      val bounds = PointInTimeJoin.splitKeys(ents, Seq(v)).head.getSeq[java.sql.Timestamp](1)
      val perChunk = times.groupBy(t => bounds.count(_.getTime <= base + t)).values.map(_.size)
      assert(bounds.size > 2 && perChunk.max <= 2 * times.size / bounds.size, perChunk)
      assertSameRows(PointInTimeJoin.enrichMergeFused(ents, Seq(v)), PointInTimeJoin.enrich(ents, v))
    }
  }

  test("a probe with no event time keeps its row, with null features, under every split") {
    val ents = entityDf.unionByName(entityDf.limit(1).withColumn("event_ts", lit(null).cast("timestamp")))
    val plain = PointInTimeJoin.enrich(ents, view(3600L))
    for ((mode, confs) <- Seq(Chunking.Auto -> lowSkew, Chunking.EveryKey(4) -> Map.empty[String, String]))
      SparkEntry.withSqlConf(spark, confs) {
        assert(PointInTimeJoin.splitKeys(ents, Seq(view(3600L)), mode).nonEmpty, s"$mode: nothing split")
        assertSameRows(PointInTimeJoin.enrichMergeFused(ents, Seq(view(3600L)), chunking = mode), plain)
      }
    assert(plain.filter(col("event_ts").isNull && col("role").isNull).count() == 1)
  }

  test("with no hot keys the output and the physical plan equal the plain ones") {
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

  test("splitting hot keys starts no more jobs than detection that finds none") {
    def build(): Unit = Historical.getHistoricalFeatures(entityDf, Seq(view(3600L)))
    val hot = SparkEntry.withSqlConf(spark, lowSkew) {
      assert(PointInTimeJoin.splitKeys(entityDf, Seq(view(3600L))).nonEmpty)
      jobsStartedBy(build())
    }
    // the detection aggregate's min/max are the bounds: no job follows it
    assert(hot <= SparkEntry.withSqlConf(spark, noHotKey)(jobsStartedBy(build())))
  }

  test("an every-key split starts no job beyond the entity bounds") {
    assert(jobsStartedBy(PointInTimeJoin.enrichMergeFused(entityDf, Seq(view(3600L)),
      chunking = Chunking.EveryKey(4))) ==
      jobsStartedBy(PointInTimeJoin.entityBounds(entityDf, "event_ts")))
  }

  // the bounds are sliced on each merge-axis type: timestamp_ntz (parquet
  // timestamps read as NTZ), a Date entity ts promoted to the views'
  // timestamp, and a Date entity ts over a Date feature ts, where the
  // interval sum comes back as a timestamp and is cast back to date
  for ((axis, entityTs, featureTs, boundClass) <- Seq(
      ("timestamp_ntz", "timestamp_ntz", "timestamp_ntz", classOf[java.time.LocalDateTime]),
      ("timestamp under a date entity ts", "date", "timestamp", classOf[java.sql.Timestamp]),
      ("date", "date", "date", classOf[java.sql.Date])))
    test(s"chunked output equals the plain output on a $axis merge axis") {
      val v = view(3600L).copy(source = turns.select(col("conv_id"),
        col("ts").cast(featureTs).as("ts"), col("turn_idx"), col("role")))
      val ents = entityDf.withColumn("event_ts", col("event_ts").cast(entityTs))
      val plain = PointInTimeJoin.enrich(ents, v)
      for ((mode, confs) <- Seq(Chunking.Auto -> lowSkew,
          Chunking.EveryKey(4) -> Map.empty[String, String]))
        SparkEntry.withSqlConf(spark, confs) {
          val split = PointInTimeJoin.splitKeys(ents, Seq(v), mode)
          assert(split.nonEmpty, s"$mode: nothing split")
          assert(split.flatMap(_.getSeq[Any](split.head.size - 1)).forall(boundClass.isInstance))
          assertSameRows(PointInTimeJoin.enrichMergeFused(ents, Seq(v), chunking = mode), plain)
        }
    }
}
