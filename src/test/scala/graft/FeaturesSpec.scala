package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.feat.TranscriptFeatures
import graft.agg.{Aggregations, Tiling}

/** Window-feature and tiling golden tests (FIXTURES.md §F4). */
class FeaturesSpec extends SparkTestBase {
  import spark.implicits._

  private val base = Timestamp.valueOf("2026-01-01 00:00:00").getTime
  private def at(sec: Long) = new Timestamp(base + sec * 1000L)

  test("sessionize by 30-min inactivity gap") {
    val turns = Seq(
      Turn("c1", 0, "user", "a", null, at(0)),
      Turn("c1", 1, "assistant", "b", null, at(10)),
      Turn("c1", 2, "user", "c", null, at(2400)),      // 40 min gap → new session
      Turn("c1", 3, "assistant", "d", null, at(2460)),
      Turn("c1", 4, "user", "e", null, at(10000))      // big gap → third session
    ).toDF()
    val out = TranscriptFeatures.sessionize(turns, 1800L)
      .orderBy("turn_idx")
      .select("session_id", "turn_in_session").as[(Long, Int)].collect()
    assert(out.toSeq == Seq((0L, 1), (0L, 2), (1L, 1), (1L, 2), (2L, 1)))
  }

  test("lag/lead gaps in exact microseconds") {
    val turns = Seq(
      Turn("c1", 0, "user", "a", null, at(0)),
      Turn("c1", 1, "assistant", "b", null, at(7)),
      Turn("c1", 2, "user", "c", null, at(19))).toDF()
    val out = TranscriptFeatures.lagLead(turns).orderBy("turn_idx")
      .select("prev_role", "gap_prev_us", "gap_next_us")
      .collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1) && out(0).getLong(2) == 7000000L)
    assert(out(1).getString(0) == "user" && out(1).getLong(1) == 7000000L)
    assert(out(2).getString(0) == "assistant" && out(2).isNullAt(2))
  }

  test("per-role rolling window only sees same-role turns in range") {
    val turns = Seq(
      Turn("c1", 0, "user", "aaaa", null, at(0)),       // len 4
      Turn("c1", 1, "assistant", "bb", null, at(10)),
      Turn("c1", 2, "user", "cccccc", null, at(100)),   // len 6
      Turn("c1", 3, "user", "dd", null, at(5000))       // len 2, >1h from t0? no: 5000s > 3600s
    ).toDF().withColumn("text_len", length(col("text")))
    val out = TranscriptFeatures.rollingPerRole(turns, "text_len", 3600L)
      .orderBy("turn_idx").select("role_cnt_w", "role_avg_w")
      .as[(Long, Double)].collect()
    assert(out(0) == ((1L, 4.0)))
    assert(out(1) == ((1L, 2.0)))       // assistant stream independent
    assert(out(2) == ((2L, 5.0)))       // user: (4+6)/2
    assert(out(3) == ((1L, 2.0)))       // user: t=5000 window [1400,5000] → only len 2
  }

  test("tool usage counts over TTL window") {
    val turns = Seq(
      Turn("c1", 0, "user", "a", null, at(0)),
      Turn("c1", 1, "tool", "b", "bash", at(10)),
      Turn("c1", 2, "tool", "c", "search", at(20)),
      Turn("c1", 3, "user", "d", null, at(30))).toDF()
    val out = TranscriptFeatures.toolUsage(turns, 3600L)
      .orderBy("turn_idx").select("tool_cnt_w", "turn_cnt_w")
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 1L), (1L, 2L), (2L, 3L), (2L, 4L)))
  }

  test("featureSet with all four parts equals the join of the reference windows") {
    // synthetic gaps fall on both sides of 1800 s; the extra conversations
    // add an exact-1800 s gap (same session: the rule is strictly greater)
    // and a single-turn conversation; non-tool turns carry a null tool
    val extra = Seq(
      Turn("edge_exact", 0, "user", "aa", null, at(0)),
      Turn("edge_exact", 1, "tool", "bbb", "bash", at(1800)),
      Turn("edge_exact", 2, "assistant", "c", null, at(3601)),
      Turn("edge_single", 0, "user", "dddd", null, at(50))).toDF()
    val t = Transcripts.synthetic(spark, nConvs = 12, turnsPerConv = 30, seed = 7L)
      .union(extra).withColumn("text_len", length(col("text")))
    val got = TranscriptFeatures.featureSet(t, TranscriptFeatures.Spec(
      lagLead = true, rollingPerRole = Some("text_len" -> 3600L),
      toolUsageSec = Some(4 * 3600L), sessionGapSec = Some(1800L)))

    // reference frames: the per-function window formulas, one frame each
    import org.apache.spark.sql.expressions.Window
    val us = unix_micros(col("ts").cast("timestamp"))
    val byTurn = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    def trailing(w: org.apache.spark.sql.expressions.WindowSpec, sec: Long) =
      w.orderBy(us).rangeBetween(-sec * 1000000L, 0L)
    val ll = t.select(col("conv_id"), col("turn_idx"),
      lag(col("role"), 1).over(byTurn).as("prev_role"),
      lead(col("role"), 1).over(byTurn).as("next_role"),
      (us - lag(us, 1).over(byTurn)).as("gap_prev_us"),
      (lead(us, 1).over(byTurn) - us).as("gap_next_us"))
    val flagged = t.select(col("conv_id"), col("turn_idx"),
      when(us - lag(us, 1).over(byTurn) > 1800L * 1000000L, 1L).otherwise(0L).as("nf"))
      .withColumn("session_id",
        sum(col("nf")).over(byTurn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ss = flagged.withColumn("turn_in_session", row_number().over(
      Window.partitionBy(col("conv_id"), col("session_id")).orderBy(col("turn_idx"))))
      .drop("nf")
    val roleW = trailing(Window.partitionBy(col("conv_id"), col("role")), 3600L)
    val rr = t.select(col("conv_id"), col("turn_idx"),
      count(col("text_len")).over(roleW).as("role_cnt_w"),
      sum(col("text_len")).over(roleW).as("role_sum_w"),
      avg(col("text_len")).over(roleW).as("role_avg_w"))
    val toolW = trailing(Window.partitionBy(col("conv_id")), 4 * 3600L)
    val tu = t.select(col("conv_id"), col("turn_idx"),
      count(col("tool")).over(toolW).as("tool_cnt_w"),
      count(lit(1)).over(toolW).as("turn_cnt_w"))
    val keys = Seq("conv_id", "turn_idx")
    val expected = t.join(ll, keys).join(ss, keys).join(rr, keys).join(tu, keys)

    val gaps = ll.select("gap_prev_us").as[Option[Long]].collect().flatten
    assert(gaps.exists(_ > 1800000000L) && gaps.exists(_ < 1800000000L) &&
      gaps.contains(1800000000L), "fixture must straddle the 1800 s gap")
    assert(got.schema == expected.schema,
      s"${got.schema.treeString}\nvs\n${expected.schema.treeString}")
    val (g, e) = (got.collect(), expected.collect())
    assert(g.length == t.count() && g.length == e.length)
    assert(g.toSet == e.toSet)
    // the edge conversations: the exact-1800 s gap stays in session 0, the
    // 1801 s gap opens session 1; a single turn is session 0, position 1
    val edges = got.filter(col("conv_id").startsWith("edge_")).orderBy("conv_id", "turn_idx")
      .select("session_id", "turn_in_session").as[(Long, Int)].collect().toSeq
    assert(edges == Seq((0L, 1), (0L, 2), (1L, 1), (0L, 1)))
  }

  test("tiled windowed agg equals brute force on dense+sparse data") {
    val turns = Transcripts.syntheticRows(3, 40, seed = 13L)
    val df = spark.createDataset(turns).toDF()
      .withColumn("text_len", length(col("text")))
    val hop = 300L; val win = 3600L
    val out = Tiling.tiledAggregate(df, Seq("conv_id"), "ts", "text_len", hop, win)
      .collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Long]("hop_start")) ->
        (Option(r.getAs[Any]("sum_w")), r.getAs[Long]("count_w")))
      .toMap
    // brute force per grid tile
    val byConv = turns.groupBy(_.conv_id)
    byConv.foreach { case (c, ts) =>
      val lens = ts.map(t => (t.ts.getTime / 1000 / hop, t.text.length.toLong))
      val mn = lens.map(_._1).min; val mx = lens.map(_._1).max
      (mn to mx).foreach { h =>
        val inWin = lens.filter { case (hh, _) => hh > h - win / hop && hh <= h }
        val key = (c, h * hop)
        assert(out.contains(key), s"missing grid tile $key")
        val (s, cnt) = out(key)
        assert(cnt == inWin.size, s"count at $key")
        if (inWin.nonEmpty)
          assert(s.map(_.toString.toLong).contains(inWin.map(_._2).sum), s"sum at $key")
        else assert(s.isEmpty)
      }
    }
  }

  test("tiling sum-of-squares survives int values past the 46340 overflow point") {
    import java.sql.Timestamp
    // two 50k-ish values in one tile: int*int would wrap negative and
    // poison var/std; the widened IR must give var_samp({50000, 50002}) = 2
    val df = Seq(
      ("c", Timestamp.valueOf("2026-01-01 00:00:10"), 50000),
      ("c", Timestamp.valueOf("2026-01-01 00:01:00"), 50002)
    ).toDF("conv_id", "ts", "v")
    val out = graft.agg.Tiling.tiledAggregate(df, Seq("conv_id"), "ts", "v",
        hopSec = 300L, windowSec = 600L)
      .filter(col("count_w") === 2).select("var_w", "std_w")
      .as[(Double, Double)].head()
    assert(math.abs(out._1 - 2.0) < 1e-9, s"var_w ${out._1}")
    assert(math.abs(out._2 - math.sqrt(2.0)) < 1e-9)
  }

  test("tiling sum-of-squares overflow fails loudly instead of nulling var") {
    import java.sql.Timestamp
    // sign-mixed near-max-long values in one tile: the raw long sum stays
    // tiny but each square (~8.5e37) fits decimal(38,0) while their SUM
    // does not. Under ANSI (session default) the decimal sum throws on its
    // own; under NON-ANSI it yields a NULL tile IR that downstream sum()s
    // would silently DROP, corrupting var/std — the guard must raise there.
    val big = 9200000000000000000L
    val df = Seq(
      ("c", Timestamp.valueOf("2026-01-01 00:00:10"), big),
      ("c", Timestamp.valueOf("2026-01-01 00:01:00"), -big)
    ).toDF("conv_id", "ts", "v")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val e = intercept[Exception] {
        graft.agg.Tiling.tiledAggregate(df, Seq("conv_id"), "ts", "v",
          hopSec = 300L, windowSec = 600L).collect()
      }
      assert(messages(e).exists(_.contains("overflowed decimal(38,0)")),
        s"expected loud overflow, got: ${messages(e).mkString(" | ")}")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
    // ANSI mode must also fail loudly (natively), never emit a null IR
    val eAnsi = intercept[Exception] {
      graft.agg.Tiling.tiledAggregate(df, Seq("conv_id"), "ts", "v",
        hopSec = 300L, windowSec = 600L).collect()
    }
    assert(messages(eAnsi).exists(m =>
      m.contains("overflowed decimal(38,0)") || m.toLowerCase.contains("overflow") ||
        m.contains("NUMERIC_VALUE_OUT_OF_RANGE")),
      s"expected loud ANSI overflow, got: ${messages(eAnsi).mkString(" | ")}")
    // and beyond-int-range longs below the overflow point still compute a
    // correct var — for a spread the final double stage can resolve
    // (var_w's last subtraction is double by contract, same as the
    // oracle's CAST AS DOUBLE; spreads below Σv²·2⁻⁵² cancel there)
    val ok = Seq(
      ("c", Timestamp.valueOf("2026-01-01 00:00:10"), 3000000000L),
      ("c", Timestamp.valueOf("2026-01-01 00:01:00"), 3000100000L)
    ).toDF("conv_id", "ts", "v")
    val v = graft.agg.Tiling.tiledAggregate(ok, Seq("conv_id"), "ts", "v",
        hopSec = 300L, windowSec = 600L)
      .filter(col("count_w") === 2).select("var_w").as[Double].head()
    // var_samp of two values d apart = d²/2 = 5e9
    assert(math.abs(v - 5.0e9) < 1e5, s"var_w $v")
  }

  test("tiling windowed long sum past bigint raises; avg stays exact") {
    import java.sql.Timestamp
    // two 5e18 values in one window: the exact decimal windowed sum is
    // 1e19 > Long.MaxValue, so sum_w must RAISE (natively under ANSI, via
    // the guard under non-ANSI) — while avg_w, computed from the same
    // decimal IR, is perfectly representable and must come back correct
    val big = 5000000000000000000L
    val df = Seq(
      ("c", Timestamp.valueOf("2026-01-01 00:00:10"), big),
      ("c", Timestamp.valueOf("2026-01-01 00:01:00"), big)
    ).toDF("conv_id", "ts", "v")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val agg = graft.agg.Tiling.tiledAggregate(df, Seq("conv_id"), "ts", "v",
      hopSec = 300L, windowSec = 600L)
    val e = intercept[Exception] { agg.select("sum_w").collect() }
    assert(messages(e).exists(m => m.contains("overflows bigint") ||
      m.contains("CAST_OVERFLOW") || m.toLowerCase.contains("overflow")),
      s"expected loud bigint overflow, got: ${messages(e).mkString(" | ")}")
    val a = agg.filter(col("count_w") === 2).select("avg_w").as[Double].head()
    assert(math.abs(a - 5.0e18) < 1e4, s"avg_w $a")
    // an avg_w-only projection must still carry the running-sum overflow
    // guard — column pruning dropping sum_w must not drop the raise with it
    assert(agg.select("conv_id", "avg_w")
      .queryExecution.optimizedPlan.toString.contains("raise_error"),
      "avg_w projection lost the running-sum overflow guard")
  }

  test("unsupported aggregation function is rejected") {
    intercept[IllegalArgumentException] {
      Aggregations.aggColumn(Aggregation("x", "median"))
    }
    assert(Tiling.Rejected.contains("count_distinct"))
  }
}
