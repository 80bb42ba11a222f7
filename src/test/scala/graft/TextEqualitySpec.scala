package graft

import org.apache.spark.sql.functions._
import graft.engine.{Backfill, Historical}
import java.nio.file.Files

/** North-rule per-row invariant: **per-turn text equality under stable
  * (conv_id, turn_idx) ordering** — the engine must never mutate, drop, or
  * reorder turn text through retrieval or backfill.
  */
class TextEqualitySpec extends SparkTestBase {
  import spark.implicits._

  private val turns = Transcripts.syntheticRows(nConvs = 25, turnsPerConv = 16, seed = 17L)
  private lazy val ds = spark.createDataset(turns)

  test("retrieval at each turn's own timestamp returns exactly that turn's text") {
    // entity frame = every (conv_id, ts) of the transcript itself; the PIT
    // winner at a turn's own timestamp is that turn (ties impossible —
    // per-conv timestamps are strictly increasing; tie-break pinned anyway)
    val entities = ds.select(col("conv_id"), col("ts").as("event_ts"),
      col("turn_idx").as("expected_idx"), col("text").as("expected_text"))
    val view = FeatureView("turns", ds.toDF(), Seq("conv_id"), "ts", None, 0L,
      features = Seq("turn_idx", "text"), tieBreakCols = Seq("turn_idx"))
    val out = Historical.getHistoricalFeatures(entities, Seq(view))
    assert(out.count() == turns.length)
    val bad = out.filter(
      col("turn_idx") =!= col("expected_idx") || col("text") =!= col("expected_text"))
    assert(bad.isEmpty, s"text mismatch rows: ${bad.count()}")
  }

  test("typed API: Dataset[EntityRow] x Dataset[Turn] round-trips text") {
    val entities = ds.map(t => EntityRow(t.conv_id, t.ts))
    val view = FeatureView("turns", ds.toDF(), Seq("conv_id"), "ts", None, 0L,
      features = Seq("text"), tieBreakCols = Seq("turn_idx"))
    val out = Historical.getHistoricalFeaturesTyped(entities, Seq(view))
    val expected = turns.map(t => (t.conv_id, t.ts, t.text)).toDF("conv_id", "event_ts", "text")
    assert(out.except(expected).isEmpty && expected.except(out).isEmpty)
  }

  test("backfill preserves per-turn text under stable (conv_id, turn_idx) order") {
    val tmp = tempDir("graft-texteq")
    ds.toDF().withColumn("ds", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("ds").mode("overwrite").parquet(s"$tmp/src")
    val src = spark.read.option("basePath", s"$tmp/src").parquet(s"$tmp/src")
    Backfill.run(spark, src, "ds", s"$tmp/out", s"$tmp/ckpt",
      Backfill.dailyFeatureJob, lookbackPartitions = 1)
    val out = Backfill.readOutput(spark, s"$tmp/out")
      .select("conv_id", "turn_idx", "text")
      .orderBy("conv_id", "turn_idx")
      .as[(String, Int, String)].collect()
    val expected = turns.map(t => (t.conv_id, t.turn_idx, t.text))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == expected, "backfilled text must equal source text in stable order")
  }
}
