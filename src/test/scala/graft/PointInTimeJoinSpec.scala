package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.pit.PointInTimeJoin
import graft.engine.Historical
import BruteForceOracle.Rec

/** Golden tests of the PIT join vs the brute-force oracle (FIXTURES.md §F2,
  * §F6; reference test shape: tests/integration/offline_store/
  * test_universal_historical_retrieval.py:47).
  */
class PointInTimeJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val turns = Transcripts.syntheticRows(nConvs = 10, turnsPerConv = 12, seed = 7L)
  private val recs = turns.map(t =>
    Rec(t.conv_id, t.ts, None, t.turn_idx.toLong, t.turn_idx.toDouble))

  private def view(ttl: Long): FeatureView = {
    val src = spark.createDataset(turns).toDF()
      .select(col("conv_id"), col("ts"), col("turn_idx"),
        col("ts").as("turn_ts"))
    FeatureView("turn_stats", src, Seq("conv_id"), "ts", None, ttl,
      features = Seq("turn_idx", "turn_ts"), tieBreakCols = Seq("turn_idx"))
  }

  /** Entity rows: exact turn boundaries, mid-gap, before-first-turn,
    * long-after-last-turn, and unknown conv ids (must yield nulls). */
  private val entities: Seq[(String, Timestamp, Double)] = {
    val byConv = turns.groupBy(_.conv_id)
    byConv.toSeq.sortBy(_._1).flatMap { case (c, ts) =>
      val sorted = ts.sortBy(_.turn_idx)
      Seq(
        (c, sorted.head.ts, 1.0),                                    // exact first
        (c, sorted(5).ts, 2.0),                                      // exact mid
        (c, new Timestamp(sorted(5).ts.getTime + 1000), 3.0),        // mid-gap
        (c, new Timestamp(sorted.head.ts.getTime - 60000), 4.0),     // before first
        (c, new Timestamp(sorted.last.ts.getTime + 48 * 3600000L), 5.0)) // far after
    } :+ (("conv_nope", ts("2026-01-05 00:00:00"), 6.0))
  }

  private def entityDf = entities.toDF("conv_id", "event_ts", "label")

  private def runAndCheck(ttl: Long): Unit = {
    val out = PointInTimeJoin.enrich(entityDf, view(ttl)).collect()
    assert(out.length == entities.length, "every entity row must survive")
    out.foreach { r =>
      val key = r.getAs[String]("conv_id")
      val ets = r.getAs[Timestamp]("event_ts")
      val expected = BruteForceOracle.findLatest(recs, key, ets, ttl)
      val got = Option(r.getAs[Any]("turn_idx")).map(_.toString.toInt)
      assert(got == expected.map(_.value.toInt),
        s"mismatch at ($key, $ets): got $got expected ${expected.map(_.value.toInt)}")
      // zero temporal leakage: contributing feature ts never exceeds event ts
      Option(r.getAs[Timestamp]("turn_ts")).foreach { fts =>
        assert(!fts.after(ets), s"LEAKAGE at ($key, $ets): feature ts $fts")
        if (ttl > 0)
          assert(fts.getTime >= ets.getTime - ttl * 1000L, "TTL violated")
      }
    }
  }

  test("PIT join matches brute-force oracle with TTL 1h") { runAndCheck(3600L) }
  test("PIT join matches brute-force oracle with TTL 1d") { runAndCheck(86400L) }
  test("PIT join matches brute-force oracle without TTL") { runAndCheck(0L) }

  test("keyless view with no TTL plans and joins on the theta condition alone") {
    val src = Seq(
      (ts("2024-01-01 01:00:00"), 10.0, 1L),
      (ts("2024-01-01 03:00:00"), 20.0, 2L)).toDF("ts", "g", "eid")
    val entity = Seq(ts("2024-01-01 02:00:00"), ts("2024-01-01 04:00:00"))
      .toDF("event_ts")
    val v = FeatureView("glob", src, Nil, "ts", None, 0L,
      features = Seq("g"), tieBreakCols = Seq("eid"))
    val out = PointInTimeJoin.enrich(entity, v)
      .orderBy("event_ts").as[(Timestamp, Option[Double])].collect()
    assert(out.toSeq == Seq(
      (ts("2024-01-01 02:00:00"), Some(10.0)),
      (ts("2024-01-01 04:00:00"), Some(20.0))))
  }

  test("date-typed entity timestamps do not leak same-day future features") {
    val src = Seq(
      ("c1", ts("2024-01-01 10:00:00"), 111),  // later that day — must NOT leak
      ("c1", ts("2023-12-31 09:00:00"), 42)    // prior day — the correct winner
    ).toDF("conv_id", "ts", "v")
    val entity = Seq(("c1", java.sql.Date.valueOf("2024-01-01")))
      .toDF("conv_id", "event_ts")
    val v = FeatureView("dv", src, Seq("conv_id"), "ts", None, 0L,
      features = Seq("v"), tieBreakCols = Seq("v"))
    // the merge kernel and the range-join reference must agree: the date
    // promotes to midnight, feature timestamps keep their time-of-day
    val m = PointInTimeJoin.enrich(entity, v)
    val j = RangeJoinReference.enrich(entity, v)
    assert(m.select("v").as[Int].head() == 42, "merge path leaked a future row")
    assert(j.select("v").as[Int].head() == 42)
  }

  test("unknown conv ids yield all-null features, rows preserved") {
    val out = PointInTimeJoin.enrich(entityDf, view(3600L))
      .filter(col("conv_id") === "conv_nope").collect()
    assert(out.length == 1)
    assert(out.head.isNullAt(out.head.fieldIndex("turn_idx")))
    assert(out.head.getAs[Double]("label") == 6.0)
  }

  test("exact boundary feature_ts == event_ts matches (<= semantics)") {
    val first = turns.filter(_.conv_id == "conv_000000").minBy(_.turn_idx)
    val e = Seq((first.conv_id, first.ts, 0.0)).toDF("conv_id", "event_ts", "label")
    val out = PointInTimeJoin.enrich(e, view(3600L)).collect().head
    assert(out.getAs[Int]("turn_idx") == first.turn_idx)
  }

  test("duplicate entity rows each get the same features") {
    val first = turns.filter(_.conv_id == "conv_000001").maxBy(_.turn_idx)
    val e = Seq(
      (first.conv_id, first.ts, 1.0),
      (first.conv_id, first.ts, 2.0)).toDF("conv_id", "event_ts", "label")
    val out = PointInTimeJoin.enrich(e, view(0L)).collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Int]("turn_idx")).toSet == Set(first.turn_idx))
  }

  test("multi-view full_feature_names prefixes and collision rule") {
    val v1 = view(3600L).copy(name = "a")
    val v2 = view(0L).copy(name = "b")
    val out = Historical.getHistoricalFeatures(entityDf, Seq(v1, v2), fullFeatureNames = true)
    assert(out.columns.count(_.startsWith("a__")) == 2)
    assert(out.columns.count(_.startsWith("b__")) == 2)
    intercept[IllegalArgumentException] {
      Historical.getHistoricalFeatures(entityDf, Seq(v1, v2))
    }
  }

  test("randomized PIT vs oracle (seeded)") {
    val rnd = new scala.util.Random(99)
    val base = ts("2026-02-01 00:00:00").getTime
    val rrecs = (0 until 400).map { i =>
      Rec(s"k${rnd.nextInt(12)}", new Timestamp(base + rnd.nextInt(1000000) * 100L),
        None, i.toLong, i.toDouble)
    }
    val rents = (0 until 120).map { _ =>
      (s"k${rnd.nextInt(14)}", new Timestamp(base + rnd.nextInt(1100000) * 100L), 0.0)
    }
    val src = rrecs.map(r => (r.key, r.ts, r.tiebreak, r.value))
      .toDF("conv_id", "ts", "tiebreak", "v")
    val v = FeatureView("r", src, Seq("conv_id"), "ts", None, 7200L,
      features = Seq("v"), tieBreakCols = Seq("tiebreak"))
    val out = PointInTimeJoin.enrich(rents.toDF("conv_id", "event_ts", "label"), v)
      .collect()
    assert(out.length == rents.length)
    out.foreach { r =>
      val expected = BruteForceOracle
        .findLatest(rrecs, r.getAs[String]("conv_id"), r.getAs[Timestamp]("event_ts"), 7200L)
        .map(_.value)
      val got = Option(r.getAs[Any]("v")).map(_.toString.toDouble)
      assert(got == expected)
    }
  }

  test("slim entity frame (keys+ts only) fast path equals the join path, dupes kept") {
    // duplicate probe rows included — multiplicity must be preserved
    val slimEnts = (entities.map { case (c, t, _) => (c, t) } ++
      entities.take(4).map { case (c, t, _) => (c, t) }).toDF("conv_id", "event_ts")
    val fast = PointInTimeJoin.enrich(slimEnts, view(3600L))
    // same rows with an extra entity column riding through the window
    val general = PointInTimeJoin
      .enrich(slimEnts.withColumn("label", lit(0.0)), view(3600L))
      .drop("label")
    assert(fast.columns.toSeq == Seq("conv_id", "event_ts", "turn_idx", "turn_ts"))
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf).mkString("|")
    assert(fast.collect().map(key).sorted.toSeq == general.collect().map(key).sorted.toSeq)
    assert(fast.count() == slimEnts.count())
  }

  // second view for the fused-path tests: created_ts tiebreak, its own TTL
  private def qualityView: FeatureView = {
    val src = spark.createDataset(turns).toDF()
      .select(col("conv_id"), col("ts"),
        (col("turn_idx") * 1.5).as("score"),
        when(col("turn_idx") % 3 === 0, lit(null).cast("timestamp"))
          .otherwise(col("ts") + expr("INTERVAL 1 HOUR") * (col("turn_idx") % 2))
          .as("created_ts"),
        col("turn_idx"))
    FeatureView("quality", src, Seq("conv_id"), "ts", Some("created_ts"),
      7200L, features = Seq("score"), tieBreakCols = Seq("turn_idx"))
  }

  test("fused multi-view merge equals the sequential per-view merges") {
    val views = Seq(view(3600L), qualityView)
    val rowKey = (r: org.apache.spark.sql.Row) =>
      r.toSeq.map(String.valueOf).mkString("|")
    // non-slim entity (label rides through the window), plus a duplicated
    // probe row — multiplicity must be preserved without a join-back
    val entity = entityDf.union(entityDf.limit(1))
    val fused = PointInTimeJoin.enrichMergeFused(entity, views,
      fullFeatureNames = true)
    val sequential = views.foldLeft(entity)((acc, v) =>
      PointInTimeJoin.enrich(acc, v, fullFeatureNames = true))
    assert(fused.columns.toSeq == sequential.columns.toSeq)
    assert(fused.collect().map(rowKey).sorted.toSeq ==
      sequential.collect().map(rowKey).sorted.toSeq)
    assert(fused.count() == entity.count())
    // Historical routes eligible multi-view retrievals through the fused path
    val viaHistorical = Historical.getHistoricalFeatures(entity, views,
      fullFeatureNames = true)
    assert(viaHistorical.collect().map(rowKey).sorted.toSeq ==
      sequential.collect().map(rowKey).sorted.toSeq)
  }

  test("fused multi-view merge of a DateType entity ts equals the join path") {
    // the fused axis promotes a Date entity ts to the views' feature-ts
    // type (midnight); casting feature times down to a date instead would
    // leak same-day rows that are later than the probe
    val dateEntity = entityDf.select(col("conv_id"),
      col("event_ts").cast("date").as("event_ts"), col("label"))
    val views = Seq(view(0L), qualityView.copy(ttlSeconds = 3 * 86400L))
    val fused = PointInTimeJoin.enrichMergeFused(dateEntity, views,
      fullFeatureNames = true)
    val joined = views.foldLeft(dateEntity)((acc, v) =>
      RangeJoinReference.enrich(acc, v, fullFeatureNames = true))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "event_ts", "label", "turn_stats__turn_idx",
        "quality__score").collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
    assert(fused.schema == joined.schema)
    assert(rows(fused) == rows(joined))
    assert(fused.count() == dateEntity.count())
    // the fixture bites: end-of-day probes (what a cast down to date would
    // see) pick up same-day rows later than midnight, for both views
    val endOfDay = dateEntity.withColumn("event_ts",
      col("event_ts").cast("timestamp") + expr("INTERVAL 86399 SECONDS"))
    val leaky = views.foldLeft(endOfDay)((acc, v) =>
      RangeJoinReference.enrich(acc, v, fullFeatureNames = true))
    for (f <- Seq("turn_stats__turn_idx", "quality__score"))
      assert(fused.select("conv_id", "label", f).except(
        leaky.select("conv_id", "label", f)).count() > 0,
        s"fixture too weak: no same-day later row for $f")
  }

  test("duplicate entity rows keep their own extra columns") {
    // two probe rows at the same (key, ts) whose other columns differ ride
    // through the window as separate rows: each keeps its own values and
    // both read the same winner — single view, and across two key groups
    val first = turns.filter(_.conv_id == "conv_000002").maxBy(_.turn_idx)
    val e = Seq(
      (first.conv_id, first.ts, 1.0, "a", "u1"),
      (first.conv_id, first.ts, 2.0, "b", "u2"),
      (first.conv_id, first.ts, 2.0, "b", "u2")
    ).toDF("conv_id", "event_ts", "label", "tag", "user_id")
    val single = PointInTimeJoin.enrich(e, view(0L))
      .select("label", "tag", "user_id", "turn_idx").as[(Double, String, String, Int)]
      .collect().sorted.toSeq
    assert(single == Seq((1.0, "a", "u1", first.turn_idx),
      (2.0, "b", "u2", first.turn_idx), (2.0, "b", "u2", first.turn_idx)))
    val users = Seq(("u1", ts("2020-01-01 00:00:00"), 10L),
      ("u2", ts("2020-01-01 00:00:00"), 20L)).toDF("user_id", "ts", "credits")
    val userView = FeatureView("users", users, Seq("user_id"), "ts",
      features = Seq("credits"))
    val grouped = Historical.getHistoricalFeatures(e, Seq(view(0L), userView))
    assert(grouped.columns.toSeq == Seq("conv_id", "event_ts", "label", "tag",
      "user_id", "turn_idx", "turn_ts", "credits"))
    assert(grouped.select("label", "tag", "turn_idx", "credits")
      .as[(Double, String, Int, Long)].collect().sorted.toSeq ==
      Seq((1.0, "a", first.turn_idx, 10L), (2.0, "b", first.turn_idx, 20L),
        (2.0, "b", first.turn_idx, 20L)))
  }

  test("fused multi-view merge: slim entity frame, dupes kept") {
    val views = Seq(view(86400L), qualityView)
    val slimEnts = (entities.map { case (c, t, _) => (c, t) } ++
      entities.take(3).map { case (c, t, _) => (c, t) }).toDF("conv_id", "event_ts")
    val fused = PointInTimeJoin.enrichMergeFused(slimEnts, views)
    val sequential = views.foldLeft(slimEnts)((acc, v) =>
      PointInTimeJoin.enrich(acc, v))
    val rowKey = (r: org.apache.spark.sql.Row) =>
      r.toSeq.map(String.valueOf).mkString("|")
    assert(fused.columns.toSeq ==
      Seq("conv_id", "event_ts", "turn_idx", "turn_ts", "score"))
    assert(fused.collect().map(rowKey).sorted.toSeq ==
      sequential.collect().map(rowKey).sorted.toSeq)
    assert(fused.count() == slimEnts.count())
  }

  test("NULL join keys behave like SQL on every physical strategy") {
    // a NULL-key source row matches nothing; a NULL-key probe row comes
    // back with null features — and the slim merge, non-slim merge, and
    // every-key chunked merge must all agree (the merge's window
    // partitioning would naively group NULLs together and attach features
    // a SQL join never would)
    val src = Seq[(String, Timestamp, Long)](
      ("c1", ts("2026-01-01 01:00:00"), 1L),
      (null, ts("2026-01-01 01:00:00"), 99L)
    ).toDF("conv_id", "ts", "turn_idx")
    val v = FeatureView("nv", src, Seq("conv_id"), "ts", None, 0L,
      features = Seq("turn_idx"), tieBreakCols = Seq("turn_idx"))
    val ents = Seq[(String, Timestamp)](("c1", ts("2026-01-01 02:00:00")),
      (null, ts("2026-01-01 02:00:00")))
      .toDF("conv_id", "event_ts")
    def values(df: org.apache.spark.sql.DataFrame): Seq[(String, Any)] =
      df.select(col("conv_id"), col("turn_idx")).collect()
        .map(r => (r.getAs[String](0), r.get(1))).sortBy(x => String.valueOf(x._1)).toSeq
    val slim = values(PointInTimeJoin.enrich(ents, v, "event_ts"))
    val nonSlim = values(PointInTimeJoin.enrich(
      ents.withColumn("extra", lit(1)), v, "event_ts"))
    val chunked = values(PointInTimeJoin.enrichMergeFused(ents, Seq(v), "event_ts",
      chunking = PointInTimeJoin.Chunking.EveryKey(4)))
    assert(slim == nonSlim && slim == chunked, s"$slim vs $nonSlim vs $chunked")
    assert(slim.collect { case (null, f) => f } == Seq(null),
      "a NULL-key probe must get null features, never the null-key source row")
    assert(slim.collect { case ("c1", f) => f } == Seq(1L))
  }

  test("non-most-significant-first datePartitionFormat is rejected loudly") {
    val src = spark.createDataset(turns).toDF()
      .withColumn("pdate", date_format(col("ts"), "MM-dd-yyyy"))
    val v = FeatureView("pv", src, Seq("conv_id"), "ts", None, 0L,
      features = Seq("turn_idx"), tieBreakCols = Seq("turn_idx"),
      datePartitionCol = Some("pdate"), datePartitionFormat = "MM-dd-yyyy")
    val e = intercept[IllegalArgumentException] {
      PointInTimeJoin.enrich(entityDf, v, "event_ts").collect()
    }
    assert(e.getMessage.contains("most-significant-first"), e.getMessage)
  }

  test("fused created-filter multi-view equals the sequential per-view fold") {
    // one view WITHOUT a created column (running-last winner) and one WITH
    // (visibility time + running max_by), fused in a single window pass —
    // must match the sequential enrich fold row for row, including NULL
    // created rows (hidden) and future created rows (deferred visibility)
    val v1 = view(4 * 3600L).copy(features = Seq("turn_idx"))
    val qsrc = spark.createDataset(turns).toDF()
      .select(col("conv_id"), col("ts"),
        when(col("turn_idx") % 5 === 0, lit(null).cast("timestamp"))
          .otherwise(col("ts") + expr("INTERVAL 1 HOUR") * (col("turn_idx") % 3))
          .as("created_ts"),
        (col("turn_idx") * 1.5).as("score"),
        col("turn_idx"))
    val v2 = FeatureView("quality", qsrc, Seq("conv_id"), "ts",
      Some("created_ts"), 0L, features = Seq("score"),
      tieBreakCols = Seq("turn_idx"))
    val fused = PointInTimeJoin.enrichMergeFused(entityDf, Seq(v1, v2),
      "event_ts", fullFeatureNames = true, filterByCreatedTs = true)
    val sequential = Seq(v1, v2).foldLeft(entityDf)((acc, v) =>
      PointInTimeJoin.enrich(acc, v, "event_ts", fullFeatureNames = true,
        filterByCreatedTs = true))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "event_ts", "label",
        "turn_stats__turn_idx", "quality__score").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
          Option(r.getAs[Any](3)), Option(r.getAs[Any](4)))).toSet
    assert(rows(fused) == rows(sequential))
    // sanity: the created filter actually bites (some rows differ from the
    // unfiltered retrieval)
    val unfiltered = PointInTimeJoin.enrichMergeFused(entityDf, Seq(v1, v2),
      "event_ts", fullFeatureNames = true, filterByCreatedTs = false)
    assert(rows(fused) != rows(unfiltered),
      "fixture too weak: created filter changed nothing")
  }

  test("quoted literal sections in datePartitionFormat don't fail the order guard") {
    // 'month' contains pattern letters (m, o...) that are LITERAL text, not
    // fields; the guard must strip quoted sections before checking the
    // y→M→d order (the literal 'm' would otherwise read as a minute field
    // sorting before M). Constant literals keep the string order monotonic
    // in date, so pruning stays correct too.
    val fmt = "yyyy-'month'-MM"
    val src = spark.createDataset(turns).toDF()
      .withColumn("pdate", date_format(col("ts"), fmt))
    val v = FeatureView("pv", src, Seq("conv_id"), "ts", None, 0L,
      features = Seq("turn_idx"), tieBreakCols = Seq("turn_idx"),
      datePartitionCol = Some("pdate"), datePartitionFormat = fmt)
    val pruned = PointInTimeJoin.enrich(entityDf, v, "event_ts")
      .select("conv_id", "event_ts", "turn_idx").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), Option(r.getAs[Any](2)))).toSet
    val plain = PointInTimeJoin.enrich(entityDf, view(0L), "event_ts")
      .select("conv_id", "event_ts", "turn_idx").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), Option(r.getAs[Any](2)))).toSet
    assert(pruned == plain, "pruned-by-literal-format retrieval must equal unpartitioned")
  }
}
