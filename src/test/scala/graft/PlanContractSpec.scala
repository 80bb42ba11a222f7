package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Physical-plan contracts: the shuffle count of each operator family is an
  * API, not an accident. At 100 TB an extra Exchange is the difference
  * between one pass over the data and two, so these specs pin the counts —
  * a refactor that silently adds a shuffle (or drops a broadcast, or knocks
  * a narrow op out of whole-stage codegen) fails here at test scale instead
  * of in a cluster bill.
  */
class PlanContractSpec extends SparkTestBase {
  import spark.implicits._

  /** Shuffle exchanges in the (pre-execution) physical plan. AQE's initial
    * plan still lists every Exchange; broadcast exchanges are counted
    * separately — they're the cheap alternative being asserted FOR.
    */
  private def shuffles(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan.toString
    plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))
  }

  private def broadcasts(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("BroadcastExchange"))

  // parquet-backed, not a local Seq: Catalyst constant-folds a LocalRelation
  // into a precomputed LocalTableScan, which would make every contract here
  // pass vacuously — a FileScan forces the real distributed plan
  private lazy val docs: DataFrame = {
    val dir = tempDir("graft_plandocs")
    (1 to 200).map { i =>
      (i.toLong, s"some sample document text number $i with shared words " * 3)
    }.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("text analysis ops are zero-shuffle narrow maps") {
    for ((name, df) <- Seq(
        "languageId" -> text.TextAnalysis.languageId(docs, "doc_id", "text"),
        "qualityScore" -> text.TextAnalysis.qualityScore(docs, "doc_id", "text"),
        "tokenCounts" -> text.TextAnalysis.tokenCounts(docs, "doc_id", "text"),
        "fingerprint" -> text.TextAnalysis.fingerprint(docs, "doc_id", "text"),
        "repetition" -> text.TextAnalysis.repetitionSignals(docs, "doc_id", "text")))
      assert(shuffles(df) == 0, s"$name grew a shuffle:\n" +
        df.queryExecution.executedPlan)
  }

  test("multimodal meta sniff and frame sampling are zero-shuffle narrow maps") {
    val blobs = docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
    for ((name, df) <- Seq(
        "extractMeta" -> multimodal.Multimodal.extractMeta(blobs, "doc_id", "media"),
        "frameSample" -> multimodal.Multimodal.frameSample(
          blobs, "doc_id", "media", n = 4, frameBytes = 16)))
      assert(shuffles(df) == 0, s"$name grew a shuffle:\n" +
        df.queryExecution.executedPlan)
  }

  test("hash split and sample are zero-shuffle") {
    assert(shuffles(sample.Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.9, "valid" -> 0.1))) == 0)
    assert(shuffles(sample.Sampling.hashSample(docs, "doc_id", 0.25)) == 0)
  }

  test("exact dedup is exactly one shuffle (the content-hash window)") {
    assert(shuffles(text.Dedup.exactDuplicates(docs, "doc_id", "text")) == 1)
  }

  test("decontamination never shuffles the train corpus (broadcast path)") {
    val bench = (1 to 5).map(i => (i.toLong + 1000L, s"benchmark item $i text " * 4))
      .toDF("doc_id", "text")
    val out = text.Decontaminate.contaminationOverlap(
      docs, bench, "doc_id", "text", n = 3)
    // exactly three exchanges, none corpus-sized: the bench-shingle distinct
    // (benchmark-sized, feeds the broadcast), the matched-(shingle,doc)
    // dedup, and the per-doc overlap count (both sized by broadcast-join
    // MATCHES). A regression that shuffles the raw train shingles would add
    // a corpus-sized fourth
    assert(broadcasts(out) >= 1, "bench shingles are not broadcast:\n" +
      out.queryExecution.executedPlan)
    assert(shuffles(out) <= 3, "train corpus leaked into extra shuffles:\n" +
      out.queryExecution.executedPlan)
  }

  test("slim-entity PIT merge retrieval is scan -> ONE shuffle -> window") {
    val src = (1 to 500).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 60000L), i, s"role${i % 3}")
    }.toDF("conv_id", "ts", "turn_idx", "role")
    val entity = (1 to 50).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 600000L))
    }.toDF("conv_id", "event_ts")
    val view = FeatureView("turns", src, Seq("conv_id"), "ts",
      ttlSeconds = 86400L, features = Seq("turn_idx", "role"))
    val out = pit.PointInTimeJoin.enrich(entity, view)
    assert(shuffles(out) == 1, "merge-path retrieval grew extra shuffles:\n" +
      out.queryExecution.executedPlan)
  }

  test("fused multi-view slim retrieval is ONE shuffle for N views") {
    val src1 = (1 to 500).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 60000L), i, s"role${i % 3}")
    }.toDF("conv_id", "ts", "turn_idx", "role")
    val src2 = (1 to 300).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 90000L), i * 1.5)
    }.toDF("conv_id", "ts", "score")
    val entity = (1 to 50).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 600000L))
    }.toDF("conv_id", "event_ts")
    val views = Seq(
      FeatureView("turns", src1, Seq("conv_id"), "ts",
        ttlSeconds = 86400L, features = Seq("turn_idx", "role")),
      FeatureView("quality", src2, Seq("conv_id"), "ts",
        features = Seq("score")))
    // N sequential merges would cost N shuffles plus a join-back per view
    // after the first; the fused path is union -> ONE exchange -> window
    val out = engine.Historical.getHistoricalFeatures(entity, views,
      fullFeatureNames = true)
    assert(shuffles(out) == 1, "fused multi-view retrieval grew shuffles:\n" +
      out.queryExecution.executedPlan)
  }

  test("fused created-filter multi-view retrieval is ONE shuffle") {
    val src1 = (1 to 500).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 60000L), i, s"role${i % 3}")
    }.toDF("conv_id", "ts", "turn_idx", "role")
    val src2 = (1 to 300).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 90000L),
        new Timestamp(1700000000000L + i * 90000L + (i % 3) * 86400000L), i * 1.5)
    }.toDF("conv_id", "ts", "created_ts", "score")
    val entity = (1 to 50).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 600000L))
    }.toDF("conv_id", "event_ts")
    val views = Seq(
      FeatureView("turns", src1, Seq("conv_id"), "ts",
        ttlSeconds = 86400L, features = Seq("turn_idx", "role")),
      FeatureView("quality", src2, Seq("conv_id"), "ts",
        createdTsCol = Some("created_ts"), features = Seq("score")))
    // created-ts filter mode used to fall back to the sequential fold
    // (N shuffles + join-backs); the per-view visibility-time + running
    // max_by fusion keeps it at union -> ONE exchange -> window
    val out = engine.Historical.getHistoricalFeatures(entity, views,
      fullFeatureNames = true, filterByCreatedTs = true)
    assert(shuffles(out) == 1,
      "fused created-filter multi-view retrieval grew shuffles:\n" +
        out.queryExecution.executedPlan)
  }

  test("non-slim single-view retrieval is ONE shuffle, no broadcast") {
    val src = (1 to 500).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 60000L), i)
    }.toDF("conv_id", "ts", "turn_idx")
    val entity = (1 to 50).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 600000L), i * 0.5)
    }.toDF("conv_id", "event_ts", "label")
    val view = FeatureView("turns", src, Seq("conv_id"), "ts",
      ttlSeconds = 86400L, features = Seq("turn_idx"))
    // the label rides through the window inside the probe rows: no
    // join-back, so neither a second shuffle nor a broadcast of either side
    val out = engine.Historical.getHistoricalFeatures(entity, Seq(view))
    assert(shuffles(out) == 1 && broadcasts(out) == 0,
      "non-slim retrieval grew a join-back:\n" + out.queryExecution.executedPlan)
  }

  test("two key groups cost one shuffle each, created filter and non-slim entity") {
    val conv1 = (1 to 500).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 60000L), i)
    }.toDF("conv_id", "ts", "turn_idx")
    val conv2 = (1 to 300).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 90000L),
        new Timestamp(1700000000000L + i * 90000L + (i % 3) * 86400000L), i * 1.5)
    }.toDF("conv_id", "ts", "created_ts", "score")
    val users = (1 to 100).map { i =>
      (s"user${i % 5}", new Timestamp(1700000000000L + i * 300000L), i.toLong)
    }.toDF("user_id", "ts", "credits")
    val entity = (1 to 50).map { i =>
      (s"conv${i % 20}", s"user${i % 5}", new Timestamp(1700000000000L + i * 600000L),
        i * 0.5)
    }.toDF("conv_id", "user_id", "event_ts", "label")
    val views = Seq(
      FeatureView("turns", conv1, Seq("conv_id"), "ts",
        ttlSeconds = 86400L, features = Seq("turn_idx")),
      FeatureView("users", users, Seq("user_id"), "ts", features = Seq("credits")),
      FeatureView("quality", conv2, Seq("conv_id"), "ts",
        createdTsCol = Some("created_ts"), features = Seq("score")))
    // conv group (turns + quality) -> ONE exchange, user group -> ONE
    // exchange; the sequential per-view fold paid 3 plus join-backs
    val out = engine.Historical.getHistoricalFeatures(entity, views,
      fullFeatureNames = true, filterByCreatedTs = true)
    assert(shuffles(out) == 2, "key-group retrieval grew shuffles:\n" +
      out.queryExecution.executedPlan)
    assert(out.columns.toSeq == Seq("conv_id", "user_id", "event_ts", "label",
      "turns__turn_idx", "users__credits", "quality__score"))
  }

  private def planLines(df: DataFrame, node: String): Int =
    df.queryExecution.executedPlan.toString.linesIterator.count(_.contains(node))

  private def parquet(name: String, df: DataFrame): DataFrame = {
    val dir = tempDir(s"graft_plan_$name")
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("every-key chunked retrieval of two fused views reads each input twice") {
    val turns = parquet("turns", (1 to 500).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 60000L), i)
    }.toDF("conv_id", "ts", "turn_idx"))
    val quality = parquet("quality", (1 to 300).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 90000L), i * 1.5)
    }.toDF("conv_id", "ts", "score"))
    val entity = parquet("entity", (1 to 50).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 600000L))
    }.toDF("conv_id", "event_ts"))
    val out = pit.PointInTimeJoin.enrichMergeFused(entity, Seq(
      FeatureView("turns", turns, Seq("conv_id"), "ts", features = Seq("turn_idx")),
      FeatureView("quality", quality, Seq("conv_id"), "ts", features = Seq("score"))),
      chunking = pit.PointInTimeJoin.Chunking.EveryKey(4))
    // once for the merge stream and once for the carry, which seeds each
    // chunk with one row for all views (a row per view read them 3 times)
    assert(planLines(out, "FileScan") == 6,
      "the carry re-reads the inputs per view:\n" + out.queryExecution.executedPlan)
  }

  test("created-filter merge stream shuffles one order struct per view") {
    val src = parquet("versions", (1 to 300).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 90000L),
        new Timestamp(1700000000000L + i * 90000L + (i % 3) * 86400000L), i % 7, i * 1.5)
    }.toDF("conv_id", "ts", "created_ts", "version", "score"))
    val entity = parquet("probes", (1 to 50).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 600000L))
    }.toDF("conv_id", "event_ts"))
    val view = FeatureView("quality", src, Seq("conv_id"), "ts",
      createdTsCol = Some("created_ts"), features = Seq("score"), tieBreakCols = Seq("version"))
    val out = pit.PointInTimeJoin.enrich(entity, view, filterByCreatedTs = true)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, plan)
    // the running max_by reads (ts, created, version) as one struct; no
    // flat copy of created and version rides along
    val cols = exchanges.head.child.output.map(a => a.name -> a.dataType).toMap
    assert(cols.keySet == Set("conv_id", "__t", "__p", "__ent", "__payload_0", "__ord_0_0"),
      s"merge-stream shuffle columns: ${cols.keys.mkString(", ")}")
    assert(cols("__ord_0_0").asInstanceOf[StructType].size == 3, cols("__ord_0_0"))
  }

  private lazy val transcript: DataFrame = {
    val dir = tempDir("graft_plantranscript")
    Transcripts.synthetic(spark, nConvs = 20, turnsPerConv = 12, seed = 5L)
      .withColumn("ds", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("ds").mode("overwrite").parquet(dir)
    spark.read.option("basePath", dir).parquet(dir)
  }

  test("transcript feature set is ONE shuffle and one sort per ordering") {
    val out = feat.TranscriptFeatures.featureSet(
      transcript.withColumn("text_len", length(col("text"))),
      feat.TranscriptFeatures.Spec(lagLead = true, rollingPerRole = Some("text_len" -> 3600L),
        toolUsageSec = Some(4 * 3600L), sessionGapSec = Some(1800L)))
    // (conv_id, turn_idx) for lag/lead + sessions, (conv_id, ts) for tool
    // usage, (conv_id, role, ts) for per-role rolling: the conv_id hash
    // already clusters the last, so it adds a sort but no exchange
    assert(shuffles(out) == 1 && broadcasts(out) == 0 && planLines(out, "Sort [") == 3,
      "feature set grew an exchange, a join-back or a sort:\n" + out.queryExecution.executedPlan)
  }

  test("daily backfill job is one scan, ONE shuffle, two sorts, no join-back") {
    val out = engine.Backfill.dailyFeatureJob(transcript)
    assert(shuffles(out) == 1 && broadcasts(out) == 0 && planLines(out, "Sort [") == 2 &&
      planLines(out, "FileScan") == 1,
      "daily feature job re-scans or joins back:\n" + out.queryExecution.executedPlan)
  }

  test("each single transcript feature is ONE shuffle") {
    val t = transcript.withColumn("text_len", length(col("text")))
    for ((name, df) <- Seq(
        "lagLead" -> feat.TranscriptFeatures.lagLead(t),
        "rollingPerRole" -> feat.TranscriptFeatures.rollingPerRole(t, "text_len", 3600L),
        "toolUsage" -> feat.TranscriptFeatures.toolUsage(t, 4 * 3600L),
        "sessionize" -> feat.TranscriptFeatures.sessionize(t, 1800L)))
      assert(shuffles(df) == 1, s"$name grew a shuffle:\n" + df.queryExecution.executedPlan)
  }

  test("TTL-derived scan bounds push into the parquet source scan") {
    val dir = tempDir("graft_plancontract")
    (1 to 500).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 60000L), i)
    }.toDF("conv_id", "ts", "turn_idx").write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    val entity = (1 to 50).map { i =>
      (s"conv${i % 20}", new Timestamp(1700000000000L + i * 600000L))
    }.toDF("conv_id", "event_ts")
    val view = FeatureView("turns", src, Seq("conv_id"), "ts",
      ttlSeconds = 3600L, features = Seq("turn_idx"))
    // widen metadata rendering: the default 100-char truncation clips the
    // PushedFilters list (it now also carries the null-key IsNotNulls)
    // before the ts bounds this contract greps for
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    val plan = try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
      pit.PointInTimeJoin.enrich(entity, view)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("turn_idx"))
    assert(scanLine.isDefined, plan)
    // both bounds (>= min(event)-ttl and <= max(event)) reach the scan
    assert(scanLine.get.contains("GreaterThanOrEqual(ts") &&
      scanLine.get.contains("LessThanOrEqual(ts"),
      s"TTL scan bounds not pushed: ${scanLine.get}")
  }

  test("narrow text ops stay inside whole-stage codegen") {
    val plan = text.TextAnalysis.qualityScore(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no WholeStageCodegen span:\n$plan")
  }
}
