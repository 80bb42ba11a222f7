package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.pit.PointInTimeJoin
import graft.agg.Tiling
import BruteForceOracle.Rec

/** ScalaCheck-generated property tests (SURVEY §5): the PIT join equals the
  * brute-force oracle on random small tables, and tiled window aggregation
  * equals the direct range-window aggregate on random event streams.
  * (Raw ScalaCheck generators driven with a fixed seed — the
  * scalatest/scalacheck bridge artifact is not in the offline cache.)
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private val base = Timestamp.valueOf("2026-03-01 00:00:00").getTime
  private val params = Gen.Parameters.default

  private def samples[A](g: Gen[A], n: Int, seed0: Long): Seq[A] = {
    var seed = Seed(seed0)
    (1 to n).map { _ =>
      val v = g.pureApply(params, seed)
      seed = seed.next
      v
    }
  }

  private val recGen: Gen[Rec] = for {
    key <- Gen.oneOf("k1", "k2", "k3")
    offSec <- Gen.choose(0L, 7200L)
    created <- Gen.option(Gen.choose(0L, 7200L).map(s => new Timestamp(base + s * 1000)))
    v <- Gen.choose(-100, 100)
  } yield Rec(key, new Timestamp(base + offSec * 1000), created, 0L, v.toDouble)

  private val tableGen: Gen[(List[Rec], List[(String, Long)], Long)] = for {
    recs <- Gen.listOfN(40, recGen)
    entities <- Gen.listOfN(15, for {
      k <- Gen.oneOf("k1", "k2", "k3", "k_absent")
      off <- Gen.choose(-600L, 7800L)
    } yield (k, off))
    ttl <- Gen.oneOf(0L, 600L, 3600L)
  } yield (recs, entities, ttl)

  test("property: PIT join equals brute-force oracle on random tables") {
    samples(tableGen, 12, 0xC0FFEEL).foreach { case (recs, ents, ttl) =>
      // unique tiebreak per record → both engine and oracle fully ordered
      val indexed = recs.zipWithIndex.map { case (r, i) => r.copy(tiebreak = i.toLong) }
      val src = indexed
        .map(r => (r.key, r.ts, r.created.orNull, r.tiebreak, r.value))
        .toDF("k", "ts", "created_ts", "tb", "v")
      val entityDf = ents.zipWithIndex
        .map { case ((k, off), i) => (k, new Timestamp(base + off * 1000), i) }
        .toDF("k", "event_ts", "row_i")
      val view = FeatureView("v", src, Seq("k"), "ts", Some("created_ts"), ttl,
        features = Seq("v"), tieBreakCols = Seq("tb"))
      val out = PointInTimeJoin.enrich(entityDf, view).collect()
      assert(out.length == ents.length)
      out.foreach { row =>
        val expected = BruteForceOracle.findLatest(
          indexed, row.getAs[String]("k"), row.getAs[Timestamp]("event_ts"), ttl)
        val got = Option(row.getAs[Any]("v")).map(_.asInstanceOf[Double])
        assert(got == expected.map(_.value),
          s"(${row.getAs[String]("k")}, ${row.getAs[Timestamp]("event_ts")}, ttl=$ttl)")
      }
    }
  }

  test("property: merge and join physical paths agree byte-for-byte") {
    samples(tableGen, 8, 0xFACADEL).foreach { case (recs, ents, ttl) =>
      val indexed = recs.zipWithIndex.map { case (r, i) => r.copy(tiebreak = i.toLong) }
      val src = indexed
        .map(r => (r.key, r.ts, r.created.orNull, r.tiebreak, r.value))
        .toDF("k", "ts", "created_ts", "tb", "v")
      val entityDf = ents.zipWithIndex
        .map { case ((k, off), i) => (k, new Timestamp(base + off * 1000), i) }
        .toDF("k", "event_ts", "row_i")
      val view = FeatureView("v", src, Seq("k"), "ts", Some("created_ts"), ttl,
        features = Seq("v"), tieBreakCols = Seq("tb"))
      for (cf <- Seq(false, true)) {
        val m = PointInTimeJoin.enrich(entityDf, view, filterByCreatedTs = cf)
        val j = RangeJoinReference.enrich(entityDf, view, filterByCreatedTs = cf)
        assert(m.except(j).isEmpty && j.except(m).isEmpty,
          s"physical paths diverge at ttl=$ttl createdFilter=$cf")
      }
    }
  }

  // a coarse 5-minute grid puts feature rows and probes at the same ts,
  // chunk bounds included: the probe range is pinned to [-1500, 9000] s,
  // so EveryKey(5)'s equal-width bounds fall every 2,100 s from the first
  // probe: at -1500 s, then at 600, 2700, 4800 and 6900 s, grid times of
  // feature rows where a quarter of the probes land; feature rows at -2100
  // and -1800 s precede every probe (chunk -1); no feature row falls in
  // [3000, 4800) s, where another quarter land, so some chunks hold probes
  // only
  private val featOff: Gen[Long] = Gen.choose(-2L, 18L)
    .map(i => (if (i < 0) i - 5 else if (i < 10) i else i + 6) * 300L)
  private val probeKey = Gen.frequency(4 -> "k1", 2 -> "k2", 2 -> "k3", 1 -> "k_absent")
  private val chunkTableGen: Gen[(List[Rec], List[Rec], List[(String, Long)])] = for {
    recs <- Gen.listOfN(40, for {
      key <- Gen.frequency(6 -> "k1", 2 -> "k2", 2 -> "k3")
      ts <- featOff
      created <- Gen.option(featOff)
      v <- Gen.choose(-100, 100)
    } yield Rec(key, new Timestamp(base + ts * 1000),
      created.map(c => new Timestamp(base + c * 1000)), 0L, v.toDouble))
    recs2 <- Gen.listOfN(30, for {
      key <- Gen.oneOf("k1", "k2", "k3")
      ts <- featOff
      v <- Gen.choose(-100, 100)
    } yield Rec(key, new Timestamp(base + ts * 1000), None, 0L, v.toDouble))
    probes <- Gen.listOfN(28, for {
      k <- probeKey
      off <- Gen.frequency(2 -> Gen.choose(-5L, 30L), 1 -> Gen.choose(10L, 15L),
        1 -> Gen.oneOf(2L, 9L, 16L, 23L))
    } yield (k, off * 300L))
    ends <- Gen.listOfN(2, probeKey)
  } yield (recs, recs2, probes ++ ends.zip(Seq(-5L, 30L).map(_ * 300L)))

  test("property: chunked merge equals the plain merge byte for byte") {
    import PointInTimeJoin.Chunking
    // the automatic policy splits keys of about a dozen merge rows or more
    // (76–144-byte rows, by shape), in chunks of about that size
    val lowSkew = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1200",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1200")
    def frame(recs: List[Rec]) = recs.zipWithIndex
      .map { case (r, i) => (r.key, r.ts, r.created.orNull, i.toLong, r.value) }
      .toDF("k", "ts", "created_ts", "tb", "v")
    for ((ttl, seed) <- Seq(0L, 600L, 3600L).zip(Seq(0x5EEDL, 0xF00DL, 0xD1CEL))) {
      val (recs, recs2, probes) = samples(chunkTableGen, 1, seed).head
      val entityDf = probes.zipWithIndex
        .map { case ((k, off), i) => (k, new Timestamp(base + off * 1000), i) }
        .toDF("k", "event_ts", "row_i")
      val a = FeatureView("a", frame(recs), Seq("k"), "ts", Some("created_ts"), ttl,
        features = Seq("v"), tieBreakCols = Seq("tb"))
      val b = FeatureView("b", frame(recs2).drop("created_ts"), Seq("k"), "ts", None,
        1800L, features = Seq("v"), tieBreakCols = Seq("tb"))
      val keyless = a.copy(name = "g", source = frame(recs).drop("k"), joinKeys = Nil)
      // the fixture bites: a chunk bound where a feature row and a probe
      // meet, and a known key's probe in a chunk with no row of that key
      val bounds = PointInTimeJoin.splitKeys(entityDf, Seq(a),
        chunking = Chunking.EveryKey(5)).head.getSeq[Timestamp](0)
      def chunkOf(t: Timestamp) = bounds.count(!_.after(t))
      val probeTs = probes.map { case (k, off) => (k, new Timestamp(base + off * 1000)) }
      assert(bounds.exists(b => recs.exists(_.ts == b) && probeTs.exists(_._2 == b)),
        s"fixture too weak at ttl=$ttl: no feature row and probe on a chunk bound")
      assert(recs.exists(r => bounds.forall(r.ts.before)),
        s"fixture too weak at ttl=$ttl: no feature row before every probe")
      assert(probeTs.exists { case (k, t) => k != "k_absent" &&
        !recs.exists(r => r.key == k && chunkOf(r.ts) == chunkOf(t)) },
        s"fixture too weak at ttl=$ttl: every probe's chunk holds its key's rows")
      for {
        (shape, views) <- Seq("one view" -> Seq(a), "two fused views" -> Seq(a, b),
          "keyless view" -> Seq(keyless))
        cf <- Seq(false, true)
      } {
        val plain = PointInTimeJoin.enrichMergeFused(entityDf, views,
          fullFeatureNames = true, filterByCreatedTs = cf)
        for ((mode, confs) <- Seq(Chunking.Auto -> lowSkew,
            Chunking.EveryKey(5) -> Map.empty[String, String])) {
          val at = s"$shape, ttl=$ttl, createdFilter=$cf, $mode"
          val chunked = SparkEntry.withSqlConf(spark, confs) {
            assert(PointInTimeJoin.splitKeys(entityDf, views, chunking = mode).nonEmpty,
              s"$at: nothing split")
            PointInTimeJoin.enrichMergeFused(entityDf, views,
              fullFeatureNames = true, filterByCreatedTs = cf, chunking = mode)
          }
          assert(chunked.schema == plain.schema, at)
          assert(chunked.except(plain).isEmpty && plain.except(chunked).isEmpty, at)
        }
      }
    }
  }

  private val eventsGen: Gen[List[(String, Long, Long)]] =
    Gen.listOfN(60, for {
      k <- Gen.oneOf("a", "b")
      off <- Gen.choose(0L, 4 * 3600L) // 4 h spread → dense and sparse hops
      v <- Gen.choose(-50L, 50L)
    } yield (k, off, v))

  test("property: tiling equals direct range-window agg for sum/count/avg") {
    val hop = 300L
    val win = 1800L
    samples(eventsGen, 8, 0xBEEFL).foreach { events =>
      val df = events.map { case (k, off, v) =>
        (k, new Timestamp(base + off * 1000), v)
      }.toDF("conv_id", "ts", "v")
      val tiled = Tiling.tiledAggregate(df, Seq("conv_id"), "ts", "v", hop, win)
        .filter(col("count_w") > 0)
        .select(col("conv_id"), col("hop_start").cast("long").as("hop_start"),
          col("sum_w").cast("long").as("s"), col("count_w").cast("long").as("c"),
          round(col("avg_w"), 9).as("a"))
      // direct dual: range window over the SAME dense hop grid (tiling
      // emits every grid hop, including ones whose current tile is empty
      // but whose trailing window is not)
      val hopped = df
        .withColumn("hop", floor(unix_micros(col("ts")) / (hop * 1000000L)))
        .groupBy(col("conv_id"), col("hop"))
        .agg(sum(col("v")).as("hs"), count(lit(1)).as("hc"))
      val grid = hopped.groupBy(col("conv_id"))
        .agg(min(col("hop")).as("mn"), max(col("hop")).as("mx"))
        .select(col("conv_id"), explode(sequence(col("mn"), col("mx"))).as("hop"))
      val w = Window.partitionBy(col("conv_id")).orderBy(col("hop"))
        .rangeBetween(-(win / hop - 1), 0)
      val direct = grid.join(hopped, Seq("conv_id", "hop"), "left")
        .select(col("conv_id"), col("hop"),
          coalesce(col("hs"), lit(0L)).as("hs"), coalesce(col("hc"), lit(0L)).as("hc"))
        .select(
          col("conv_id"), (col("hop") * hop).cast("long").as("hop_start"),
          sum(col("hs")).over(w).cast("long").as("s"),
          sum(col("hc")).over(w).cast("long").as("c"))
        .filter(col("c") > 0)
        .withColumn("a", round(col("s").cast("double") / col("c"), 9))
      assert(tiled.except(direct).isEmpty && direct.except(tiled).isEmpty,
        "tiling must equal the direct windowed aggregation")
    }
  }
}
