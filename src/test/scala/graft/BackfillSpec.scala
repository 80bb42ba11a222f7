package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}
import graft.engine.Backfill
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Resumable-backfill properties (north rule): kill mid-run → resume skips
  * completed partitions; re-run is a no-op; the resumed output equals a
  * fresh single-pass backfill; manifests carry lineage + metrics.
  */
class BackfillSpec extends SparkTestBase {

  private val tmp = tempDir("graft-backfill")
  private val srcDir = s"$tmp/src"

  private lazy val source = {
    Transcripts.synthetic(spark, nConvs = 40, turnsPerConv = 15, seed = 11L)
      .withColumn("ds", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("ds").mode("overwrite").parquet(srcDir)
    spark.read.option("basePath", srcDir).parquet(srcDir)
  }

  private def job(df: org.apache.spark.sql.DataFrame) = Backfill.dailyFeatureJob(df)

  test("kill mid-run, resume, and no-op re-run; output equals single pass") {
    val nParts = source.select("ds").distinct().count()
    assert(nParts >= 2, s"fixture must span several day partitions, got $nParts")

    // 1. killed run: only 2 partitions complete
    val r1 = Backfill.run(spark, source, "ds", s"$tmp/out", s"$tmp/ckpt",
      job, lookbackPartitions = 1, maxPartitions = 2)
    assert(r1.length == 2)
    assert(Backfill.completedPartitions(s"$tmp/ckpt") == r1.map(_.partition).sorted)

    // 2. resume: finishes the rest, does not redo the first two
    val r2 = Backfill.run(spark, source, "ds", s"$tmp/out", s"$tmp/ckpt",
      job, lookbackPartitions = 1)
    assert(r2.map(_.partition).toSet.intersect(r1.map(_.partition).toSet).isEmpty)
    assert((r1 ++ r2).map(_.partition).length == nParts)

    // 3. idempotent: nothing left to do
    val r3 = Backfill.run(spark, source, "ds", s"$tmp/out", s"$tmp/ckpt",
      job, lookbackPartitions = 1)
    assert(r3.isEmpty)

    // 4. resumed output == fresh single-pass output
    Backfill.run(spark, source, "ds", s"$tmp/out2", s"$tmp/ckpt2",
      job, lookbackPartitions = 1)
    val a = Backfill.readOutput(spark, s"$tmp/out")
    val b = Backfill.readOutput(spark, s"$tmp/out2")
    assert(a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty)

    // 5. every output row stayed in its own partition
    val base = source.withColumn("text_len", length(col("text")))
    assert(a.select("conv_id", "turn_idx", "ds").except(
      base.select("conv_id", "turn_idx", "ds")).isEmpty)
  }

  test("two interleaved resumes run each partition exactly once; manifests consistent") {
    import java.util.concurrent.CyclicBarrier
    val nParts = source.select("ds").distinct().count()
    val barrier = new CyclicBarrier(2)
    val results = new Array[Seq[Backfill.PartitionResult]](2)
    val threads = (0 to 1).map { i =>
      new Thread(() => {
        barrier.await() // both drivers list the same pending set
        results(i) = Backfill.run(spark, source, "ds",
          s"$tmp/out_race", s"$tmp/ckpt_race", job, lookbackPartitions = 1)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = results(0).map(_.partition) ++ results(1).map(_.partition)
    // the per-partition lock + isComplete re-check means no partition is
    // claimed by both drivers, and together they cover everything
    assert(all.distinct.length == all.length,
      s"a partition ran on both drivers: ${all.sorted.mkString(",")}")
    assert(all.toSet.size.toLong == nParts, s"coverage gap: $all")
    assert(Backfill.completedPartitions(s"$tmp/ckpt_race").length.toLong == nParts)
    // racing drivers produced exactly the single-pass output
    Backfill.run(spark, source, "ds", s"$tmp/out_single", s"$tmp/ckpt_single",
      job, lookbackPartitions = 1)
    val a = Backfill.readOutput(spark, s"$tmp/out_race")
    val b = Backfill.readOutput(spark, s"$tmp/out_single")
    assert(a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("maxPartitions budget counts RUN partitions, not ones another driver holds") {
    val ckpt = s"$tmp/ckpt_budget"; val out = s"$tmp/out_budget"
    val first = source.select(col("ds").cast("string")).distinct().orderBy("ds")
      .collect().map(_.getString(0)).head
    // a contending driver holds the first pending partition's claim for
    // the whole run
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.engine.Locks.withFileLock(s"$ckpt/$first.json") {
        started.countDown(); release.await()
      })
    holder.start(); started.await()
    try {
      // budget 1 must complete ONE partition — spending the budget on the
      // held partition (pre-fix pending.take) would return empty with
      // work still pending
      val r = Backfill.run(spark, source, "ds", out, ckpt, job,
        lookbackPartitions = 1, maxPartitions = 1)
      assert(r.length == 1, r.toString)
      assert(r.head.partition != first, r.toString)
    } finally { release.countDown(); holder.join() }
  }

  test("manifest carries lineage and metrics") {
    // runs after the previous test (same ckpt dir) — read one manifest
    val parts = Backfill.completedPartitions(s"$tmp/ckpt")
    assert(parts.nonEmpty)
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/ckpt", s"${parts.head}.json")))
    for (k <- Seq("\"status\": \"complete\"", "input_rows", "output_rows",
        "input_files", "duration_ms", "rows_per_sec"))
      assert(json.contains(k), s"manifest missing $k:\n$json")
    // lineage points at real source files of this partition
    assert(json.contains(".parquet"))
  }

  test("manifest pins the source snapshot id when one is supplied") {
    val src = spark.read.option("basePath", s"$tmp/src").parquet(s"$tmp/src")
    val ckpt = s"$tmp/ckpt_snap"
    Backfill.run(spark, src, "ds", s"$tmp/out_snap", ckpt,
      identity, maxPartitions = 1, sourceSnapshot = Some("8772871634897"))
    val parts = Backfill.completedPartitions(ckpt)
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(ckpt, s"${parts.head}.json")))
    assert(json.contains("\"source_snapshot\": \"8772871634897\""), json)
    assert(json.contains("\"status\": \"complete\""), "snapshot line must not break the manifest")
  }

  test("incremental materialization resumes from the interval ledger") {
    import java.sql.Timestamp
    import graft.engine.Materialize
    val dir = s"$tmp/intervals"
    val src = Transcripts.synthetic(spark, nConvs = 8, turnsPerConv = 10, seed = 3L)
    val view = FeatureView("mview", src, Seq("conv_id"), "ts", None, 0L,
      features = Seq("turn_idx"), tieBreakCols = Seq("turn_idx"))
    val t1 = Timestamp.valueOf("2026-01-03 00:00:00")
    val t2 = Timestamp.valueOf("2026-01-09 00:00:00")

    val (df1, (s1, e1)) = Materialize.incremental(view, t1, dir)
    assert(s1 == Timestamp.valueOf("1970-01-01 00:00:00") && e1 == t1)
    assert(df1.count() > 0)
    Materialize.recordInterval(dir, view.name, s1, e1)

    // second run starts exactly where the ledger ends
    val (df2, (s2, e2)) = Materialize.incremental(view, t2, dir)
    assert(s2 == t1 && e2 == t2)
    val tsVals = df2.select(col("ts")).collect().map(_.getTimestamp(0))
    assert(tsVals.forall(_.after(t1)),
      "delta slice is (t1, t2] — boundary rows at exactly t1 belong to run 1")
    Materialize.recordInterval(dir, view.name, s2, e2)
    assert(Materialize.mostRecentEnd(dir, view.name).contains(t2))
  }

  test("incremental resume filters through the field mapping, not the raw source") {
    import java.sql.Timestamp
    import graft.engine.Materialize
    val dir = s"$tmp/intervals_mapped"
    // raw source column is event_time; the view's tsCol names the MAPPED
    // name — the resume filter on the raw source would fail (no 'ts'
    // column) or, with an unrelated raw 'ts', filter the wrong column
    val raw = Transcripts.synthetic(spark, nConvs = 6, turnsPerConv = 8, seed = 5L)
      .withColumnRenamed("ts", "event_time")
    val view = FeatureView("mapped_view", raw, Seq("conv_id"), "ts", None, 0L,
      features = Seq("turn_idx"), fieldMapping = Map("event_time" -> "ts"),
      tieBreakCols = Seq("turn_idx"))
    // t1 sits INSIDE the synthetic data's time range (convs start at
    // base + ci hours on 2026-01-01) so the resumed (t1, t2] slice is
    // provably non-empty — an always-empty delta would pass vacuously
    val t1 = Timestamp.valueOf("2026-01-01 03:00:00")
    val t2 = Timestamp.valueOf("2026-01-09 00:00:00")
    val (df1, (s1, e1)) = Materialize.incremental(view, t1, dir)
    assert(df1.count() > 0)
    Materialize.recordInterval(dir, view.name, s1, e1)
    val (df2, (s2, e2)) = Materialize.incremental(view, t2, dir)
    assert(s2 == t1 && e2 == t2)
    // the resumed slice must respect (t1, t2] through the mapping
    val tsVals = df2.select(col("ts")).collect().map(_.getTimestamp(0))
    assert(tsVals.nonEmpty && tsVals.forall(_.after(t1)))
  }

  test("partition values with path separators neither escape dirs nor lose resume state") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val ckpt = s"$tmp/ckpt_slash"
    val out = s"$tmp/out_slash"
    val src = Seq(
      ("2024/01/01", "a", 1L), ("2024/01/01", "b", 2L),
      ("2024/01/02", "c", 3L)
    ).toDF("grp", "k", "v")
    val r1 = Backfill.run(spark, src, "grp", out, ckpt, (d: DataFrame) => d)
    assert(r1.map(_.partition).sorted == Seq("2024/01/01", "2024/01/02"))
    // manifests recover the TRUE values (not the sanitized filenames)
    assert(Backfill.completedPartitions(ckpt) == Seq("2024/01/01", "2024/01/02"))
    // re-run is a no-op (resume state survived the sanitization round trip)
    assert(Backfill.run(spark, src, "grp", out, ckpt, (d: DataFrame) => d).isEmpty)
    // output partition discovery round-trips the escaped value
    val back = Backfill.readOutput(spark, out)
    assert(back.count() == 3)
    assert(back.select("grp").distinct().collect().map(_.getString(0)).sorted
      === Array("2024/01/01", "2024/01/02"))
  }

  test("sanitize-colliding partition values keep separate manifests and converge") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    // "2024/01/01" sanitizes to "2024_01_01" — identical to the literal
    // value "2024_01_01". Sharing one manifest file would make each run
    // un-complete the other: a 'run until pending empty' driver loop never
    // terminates. The digest suffix keeps the files distinct.
    val ckpt = s"$tmp/ckpt_collide"
    val out = s"$tmp/out_collide"
    val src = Seq(
      ("2024/01/01", "a", 1L), ("2024_01_01", "b", 2L)
    ).toDF("grp", "k", "v")
    val r1 = Backfill.run(spark, src, "grp", out, ckpt, (d: DataFrame) => d)
    assert(r1.map(_.partition).sorted == Seq("2024/01/01", "2024_01_01"))
    assert(Backfill.completedPartitions(ckpt).sorted ==
      Seq("2024/01/01", "2024_01_01"))
    // BOTH complete → re-run is a no-op, and stays one on a third pass
    assert(Backfill.run(spark, src, "grp", out, ckpt, (d: DataFrame) => d).isEmpty)
    assert(Backfill.run(spark, src, "grp", out, ckpt, (d: DataFrame) => d).isEmpty)
    assert(Backfill.readOutput(spark, out).count() == 2)
  }

  test("ledger reader tolerates format drift in the writer (field-level parse)") {
    import java.sql.Timestamp
    import graft.engine.Materialize
    val dir = s"$tmp/intervals_fmt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // a compact-format line (no spaces after colons — the kind of tweak a
    // future recordInterval refactor would make) must still parse: an
    // exact-prefix reader would silently orphan every prior interval and
    // restart materialization from scratch
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "fmt_view.intervals.jsonl"),
      """{"view":"fmt_view","start":"1970-01-01 00:00:00","end":"2026-03-01 00:00:00"}""" + "\n")
    assert(Materialize.mostRecentEnd(dir, "fmt_view")
      .contains(Timestamp.valueOf("2026-03-01 00:00:00")))
    // and the current writer's own format round-trips (reader/writer coupling)
    val end2 = Timestamp.valueOf("2026-04-01 00:00:00")
    Materialize.recordInterval(dir, "fmt_view",
      Timestamp.valueOf("2026-03-01 00:00:00"), end2)
    assert(Materialize.mostRecentEnd(dir, "fmt_view").contains(end2))
  }

  test("ledger: filename-colliding view names do not share intervals") {
    import java.sql.Timestamp
    import graft.engine.Materialize
    // 'sales/eu' and 'sales:eu' both sanitize to the same ledger FILE;
    // resume state must still be per-view (matched on the JSON view field),
    // or a view would silently resume past data it never materialized
    val dir = s"$tmp/intervals_collide"
    val end = Timestamp.valueOf("2026-02-01 00:00:00")
    Materialize.recordInterval(dir, "sales/eu",
      Timestamp.valueOf("1970-01-01 00:00:00"), end)
    assert(Materialize.mostRecentEnd(dir, "sales/eu").contains(end))
    assert(Materialize.mostRecentEnd(dir, "sales:eu").isEmpty)
  }

  test("iceberg runtime is absent in this sandbox and the seam reports it") {
    assert(!graft.sources.IcebergSource.available(spark),
      "sandbox has no iceberg-spark-runtime; if this starts passing, wire the native scan")
    assert(graft.sources.IcebergSource.currentSnapshotId(spark, "cat.db.tbl").isEmpty)
    // the scan seam itself fails loudly (ClassNotFound through Spark's
    // DataSource lookup), never silently returns an empty frame
    intercept[Exception] {
      graft.sources.IcebergSource.table(spark, "cat.db.tbl").count()
    }
    // option validation is runtime-independent
    intercept[IllegalArgumentException] {
      graft.sources.IcebergSource.table(spark, "cat.db.tbl",
        snapshotId = Some(1L), asOfTimestampMs = Some(2L))
    }
  }

  /** End-to-end Iceberg scan + snapshot pinning — self-activating: skipped
    * (not silently passed) while `iceberg-spark-runtime` is off the
    * classpath (this sandbox has no jar and zero egress — BASELINE.md
    * documents the gap); the moment the engine meets a real Iceberg
    * deployment this exercises IcebergSource.table + currentSnapshotId
    * against a local Hadoop catalog with no code change.
    */
  test("iceberg e2e: table scan + snapshot pinning (skips without runtime)") {
    assume(graft.sources.IcebergSource.available(spark),
      "iceberg-spark-runtime not on classpath — explicit tested skip")
    val warehouse = tempDir("graft_iceberg")
    spark.conf.set("spark.sql.catalog.graft_ice", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.graft_ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.graft_ice.warehouse", warehouse)
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v")
      .writeTo("graft_ice.db.t").using("iceberg").createOrReplace()
    val snap1 = graft.sources.IcebergSource.currentSnapshotId(spark, "graft_ice.db.t")
    assert(snap1.nonEmpty)
    Seq((2L, "b")).toDF("id", "v").writeTo("graft_ice.db.t").append()
    assert(graft.sources.IcebergSource.table(spark, "graft_ice.db.t").count() == 2L)
    // time travel back to the pinned snapshot sees only the first row
    assert(graft.sources.IcebergSource.table(spark, "graft_ice.db.t",
      snapshotId = snap1).count() == 1L)
  }

  private def dayRows = Transcripts.synthetic(spark, nConvs = 6, turnsPerConv = 10, seed = 5L)
    .withColumn("ds", lit("2026-01-01"))

  test("daily job drops rows with a null conv_id or turn_idx") {
    val day = dayRows
    val nulls = day.filter(col("turn_idx") === 0).withColumn("conv_id", lit(null).cast("string"))
      .union(day.filter(col("turn_idx") === 1).withColumn("turn_idx", lit(null).cast("int")))
    val out = Backfill.dailyFeatureJob(day.union(nulls))
    assert(out.count() == day.count())
    assert(out.filter(col("conv_id").isNull || col("turn_idx").isNull).isEmpty)
  }

  test("daily job gives one output row per input row, duplicates included") {
    val day = dayRows
    // k copies of a (conv_id, turn_idx) key: the old join-back of three
    // per-key frames emitted k^3 rows for it; one pass keeps k
    val twice = day.filter(col("turn_idx") === 3)
    val thrice = day.filter(col("turn_idx") === 5)
    val out = Backfill.dailyFeatureJob(day.union(twice).union(thrice).union(thrice))
    assert(out.count() == day.count() + twice.count() + 2 * thrice.count())
    val perKey = out.groupBy("conv_id", "turn_idx").count()
    assert(perKey.filter(col("turn_idx") === 3 && col("count") =!= 2).isEmpty)
    assert(perKey.filter(col("turn_idx") === 5 && col("count") =!= 3).isEmpty)
    assert(out.columns.toSeq == Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "ds",
      "text_len", "session_id", "turn_in_session", "tool_cnt_w", "turn_cnt_w"))
  }

  test("manifest input_rows counts the whole slice, lookback included, observed once") {
    val ckpt = s"$tmp/ckpt_inrows"
    val results = Backfill.run(spark, source, "ds", s"$tmp/out_inrows", ckpt, job,
      lookbackPartitions = 1)
    val days = source.select(col("ds").cast("string")).distinct().orderBy("ds")
      .collect().map(_.getString(0)).toIndexedSeq
    assert(results.length == days.length)
    for (r <- results) {
      val i = days.indexOf(r.partition)
      val visible = days.slice(math.max(0, i - 1), i + 1)
      val expected = source.filter(col("ds").cast("string").isin(visible: _*)).count()
      assert(r.inputRows == expected, s"${r.partition}: ${r.inputRows} != $expected")
      val json = new String(Files.readAllBytes(java.nio.file.Paths.get(ckpt, s"${r.partition}.json")))
      assert(json.contains(s"\"input_rows\": $expected,"), json)
    }
    // the slice's Observation sits once in the job's plan (the join-back
    // version carried it into each of its three scans)
    val obs = org.apache.spark.sql.Observation("inrows_plan")
    val plan = job(source.observe(obs, count(lit(1)).as("n")))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("CollectMetrics")) == 1, plan)
  }

  private def days(df: DataFrame, c: String = "ds"): IndexedSeq[String] =
    df.select(col(c).cast("string")).distinct().orderBy(c).collect().map(_.getString(0)).toIndexedSeq

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty

  private val timingFields = Seq("started_at_ms", "duration_ms", "rows_per_sec")

  /** Manifest file name -> its text without the timing fields. */
  private def manifests(ckpt: String): Map[String, String] = {
    val stream = Files.list(Paths.get(ckpt))
    try stream.iterator().asScala.filter(_.getFileName.toString.endsWith(".json")).map { f =>
      f.getFileName.toString -> Files.readAllLines(f).asScala
        .filterNot(l => timingFields.exists(t => l.contains(s"\"$t\""))).mkString("\n")
    }.toMap
    finally stream.close()
  }

  test("a null partition value fails loudly, on the file-index and the job listing") {
    import spark.implicits._
    val rows = Seq((Some("2024-01-01"), "a", 1L), (None, "b", 2L)).toDF("grp", "k", "v")
    val dir = s"$tmp/src_null"
    rows.write.partitionBy("grp").parquet(dir) // the null lands in __HIVE_DEFAULT_PARTITION__
    for ((src, i) <- Seq(rows, spark.read.parquet(dir)).zipWithIndex) {
      val e = intercept[IllegalArgumentException] {
        Backfill.run(spark, src, "grp", s"$tmp/out_null$i", s"$tmp/ckpt_null$i", (d: DataFrame) => d)
      }
      assert(e.getMessage.contains("'grp'") && e.getMessage.contains("null partition value"),
        e.getMessage)
      assert(Backfill.completedPartitions(s"$tmp/ckpt_null$i").isEmpty)
    }
  }

  test("a concurrent run equals a one-partition-at-a-time run: output and manifests") {
    val all = days(source)
    assert(all.length >= 3, s"fixture must span at least 3 day partitions, got $all")
    val (seqOut, seqCkpt) = (s"$tmp/out_seq", s"$tmp/ckpt_seq")
    def step() = Backfill.run(spark, source, "ds", seqOut, seqCkpt, job,
      lookbackPartitions = 1, maxPartitions = 1)
    val sequential = Iterator.continually(step()).takeWhile(_.nonEmpty).flatten.toSeq
    val (concOut, concCkpt) = (s"$tmp/out_conc", s"$tmp/ckpt_conc")
    val concurrent = Backfill.run(spark, source, "ds", concOut, concCkpt, job, lookbackPartitions = 1)
    assert(sequential.map(_.partition) == all && concurrent.map(_.partition) == all)
    assert(concurrent.map(r => (r.inputRows, r.outputRows)) ==
      sequential.map(r => (r.inputRows, r.outputRows)))
    assert(sameRows(Backfill.readOutput(spark, seqOut), Backfill.readOutput(spark, concOut)))
    assert(manifests(seqCkpt) == manifests(concCkpt))
    // the concurrent call did overlap its partitions
    val started = "\"started_at_ms\": (\\d+)".r
    val spans = concurrent.map { r =>
      val json = new String(Files.readAllBytes(Paths.get(concCkpt, s"${r.partition}.json")))
      (started.findFirstMatchIn(json).get.group(1).toLong, r.durationMs)
    }
    assert(spans.combinations(2).exists { case Seq((s1, d1), (s2, d2)) =>
      s1 < s2 + d2 && s2 < s1 + d1 }, spans.toString)
  }

  test("file-index listing equals the job listing: partitions, output and manifests") {
    import spark.implicits._
    val slashDir = s"$tmp/src_slash"
    Seq(("2024/01/01", "a", 1L), ("2024/01/01", "b", 2L), ("2024/01/02", "c", 3L))
      .toDF("grp", "k", "v").write.partitionBy("grp").parquet(slashDir)
    val slash = spark.read.parquet(slashDir)
    assert(slash.schema("grp").dataType == StringType)
    assert(source.schema("ds").dataType == DateType)
    val cases = Seq(("slash", slash, "grp", (d: DataFrame) => d), ("date", source, "ds", job _))
    for ((name, src, c, f) <- cases) {
      // `filter(lit(true))` keeps a Filter over the scan, so it is listed by a job
      val runs = Seq("fi" -> src, "job" -> src.filter(lit(true))).map { case (how, s) =>
        val (out, ckpt) = (s"$tmp/out_${how}_$name", s"$tmp/ckpt_${how}_$name")
        (Backfill.run(spark, s, c, out, ckpt, f, lookbackPartitions = 1), out, ckpt)
      }
      val Seq((fi, fiOut, fiCkpt), (viaJob, jobOut, jobCkpt)) = runs
      def counts(rs: Seq[Backfill.PartitionResult]) = rs.map(r => (r.partition, r.inputRows, r.outputRows))
      assert(fi.map(_.partition) == days(src, c), name)
      assert(counts(fi) == counts(viaJob), name)
      assert(sameRows(Backfill.readOutput(spark, fiOut), Backfill.readOutput(spark, jobOut)), name)
      assert(manifests(fiCkpt) == manifests(jobCkpt), name)
    }
  }

  test("file-index listing: a no-op resume starts no Spark job; a zero-row day is listed") {
    import spark.implicits._
    val dir = s"$tmp/src_gap"
    Seq(("2024-01-01", "a", 1L), ("2024-01-01", "b", 2L), ("2024-01-03", "c", 3L))
      .toDF("ds", "k", "v").write.partitionBy("ds").parquet(dir)
    // a day whose directory holds only a file with zero rows
    Seq.empty[(String, Long)].toDF("k", "v").write.parquet(s"$dir/ds=2024-01-02")
    val src = spark.read.parquet(dir)
    val (out, ckpt) = (s"$tmp/out_gap", s"$tmp/ckpt_gap")
    def backfill(s: DataFrame, o: String, c: String) =
      Backfill.run(spark, s, "ds", o, c, (d: DataFrame) => d, lookbackPartitions = 1)
    // the file index lists the zero-row day: it runs, gets a manifest with
    // output_rows 0, and is 2024-01-03's lookback step
    val r = backfill(src, out, ckpt)
    assert(r.map(_.partition) == Seq("2024-01-01", "2024-01-02", "2024-01-03"))
    assert(r(1).inputRows == 2 && r(1).outputRows == 0) // its slice is 2024-01-01 plus itself
    assert(new String(Files.readAllBytes(Paths.get(ckpt, "2024-01-02.json")))
      .contains("\"output_rows\": 0,"))
    assert(r(2).inputRows == 1)
    // a job listing sees only days with rows
    val viaJob = backfill(src.filter(lit(true)), s"$tmp/out_gap_job", s"$tmp/ckpt_gap_job")
    assert(viaJob.map(_.partition) == Seq("2024-01-01", "2024-01-03"))
    assert(viaJob(1).inputRows == 3)
    // resuming over a complete checkpoint lists from the index and runs nothing
    assert(jobsStartedBy(assert(backfill(src, out, ckpt).isEmpty)) == 0)
  }

  test("a failing partition fails the run loudly, nothing starts after it, resume finishes") {
    final class Boom extends RuntimeException("boom")
    val (out, ckpt) = (s"$tmp/out_fail", s"$tmp/ckpt_fail")
    val all = days(source)
    val k = math.min(all.length, spark.sparkContext.defaultParallelism)
    assert(all.length > k, s"need more day partitions than pool threads: $all")
    val bad = all.head
    val firstWave = new CountDownLatch(k - 1)
    val starts = new ConcurrentLinkedQueue[(String, Long)]()
    @volatile var failedAt = Long.MaxValue
    // lookback 0: each slice selects one day
    def partitionOf(d: DataFrame) = {
      val plan = d.queryExecution.analyzed.toString
      all.find(p => plan.contains(s"IN ($p)")).getOrElse(fail(plan))
    }
    val failing = (d: DataFrame) => {
      val t = System.nanoTime()
      val p = partitionOf(d)
      starts.add(p -> t)
      if (p != bad) { firstWave.countDown(); job(d) }
      else {
        // fail once the other first-wave partitions are running
        firstWave.await(60, TimeUnit.SECONDS)
        failedAt = System.nanoTime()
        throw new Boom
      }
    }
    intercept[Boom](Backfill.run(spark, source, "ds", out, ckpt, failing))
    val started = starts.asScala.toSeq
    assert(started.forall(_._2 < failedAt), started.toString)
    assert(started.map(_._1).sorted == all.take(k), started.toString)
    assert(!Files.exists(Paths.get(ckpt, s"$bad.json")))
    assert(Backfill.completedPartitions(ckpt) == all.take(k).filterNot(_ == bad))
    // the call's pool is shut down: its threads exit
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName == "graft-backfill")
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (poolThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(poolThreads.isEmpty, poolThreads.map(_.getName).toString)
    // a resume runs exactly what is left
    val resumed = Backfill.run(spark, source, "ds", out, ckpt, job)
    assert(resumed.map(_.partition) == all.filterNot(all.take(k).filterNot(_ == bad).contains))
    assert(Backfill.completedPartitions(ckpt) == all)
  }

  /** `input_files` of a manifest, as `<partition dir>/<file name>`. */
  private def manifestFiles(ckpt: String, partition: String): Seq[String] = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val json = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(ckpt, s"$partition.json")))
    (json \ "input_files").extract[Seq[String]].map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      s"${p.getParent.getName}/${p.getName}"
    }.sorted
  }

  test("manifest input_files lists exactly the slice's files: the day and its lookback") {
    val ckpt = s"$tmp/ckpt_lineage"
    val all = days(source)
    // the source's data files per day directory (Spark skips `_` and `.` files)
    def filesOf(day: String): Seq[String] = {
      val stream = Files.list(Paths.get(srcDir, s"ds=$day"))
      try stream.iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).map(n => s"ds=$day/$n").toSeq
      finally stream.close()
    }
    assert(all.length >= 3 && all.forall(d => filesOf(d).nonEmpty), all.toString)
    Backfill.run(spark, source, "ds", s"$tmp/out_lineage", ckpt, job, lookbackPartitions = 1)
    for ((d, i) <- all.zipWithIndex) {
      val expected = all.slice(math.max(0, i - 1), i + 1).flatMap(filesOf).sorted
      assert(manifestFiles(ckpt, d) == expected, d)
    }
  }

  test("a checkpoint written in the earlier hand-written format resumes with no job") {
    import spark.implicits._
    import java.sql.Timestamp
    import graft.engine.Materialize
    val dir = s"$tmp/src_legacy"
    Seq(("2024/01/01", "a", 1L), ("2024-01-02", "b", 2L)).toDF("grp", "k", "v")
      .write.partitionBy("grp").parquet(dir)
    val src = spark.read.parquet(dir)
    val ckpt = s"$tmp/ckpt_legacy"
    Files.createDirectories(Paths.get(ckpt))
    // the earlier writer's exact text: one field per line, `"key": value`,
    // `[]`-style arrays, a trailing newline; `source_snapshot` after
    // `partition`; a lossy-sanitized value's file name carries an MD5 suffix
    def legacy(partition: String, snapshot: Option[String]) = {
      val snapshotLine = snapshot.map(s => s"""  "source_snapshot": "$s",\n""").getOrElse("")
      s"""{
         |  "partition": "$partition",
         |$snapshotLine  "status": "complete",
         |  "input_rows": 1,
         |  "output_rows": 1,
         |  "input_files": ["file:/data/part-00000.parquet", "file:/data/part-00001.parquet"],
         |  "started_at_ms": 1760000000000,
         |  "duration_ms": 120,
         |  "rows_per_sec": 8.333333333333334
         |}
         |""".stripMargin
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest("2024/01/01".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    Files.writeString(Paths.get(ckpt, s"2024_01_01-$digest.json"), legacy("2024/01/01", None))
    Files.writeString(Paths.get(ckpt, "2024-01-02.json"), legacy("2024-01-02", Some("8772871634897")))
    assert(Backfill.isComplete(ckpt, "2024/01/01") && Backfill.isComplete(ckpt, "2024-01-02"))
    assert(Backfill.completedPartitions(ckpt) == Seq("2024-01-02", "2024/01/01"))
    assert(jobsStartedBy(assert(Backfill.run(spark, src, "grp", s"$tmp/out_legacy", ckpt,
      (d: DataFrame) => d).isEmpty)) == 0)

    // a one-line manifest with no spaces reads as complete as well
    val compactCkpt = s"$tmp/ckpt_compact"
    Files.createDirectories(Paths.get(compactCkpt))
    Files.writeString(Paths.get(compactCkpt, "2026-01-01.json"),
      """{"partition":"2026-01-01","status":"complete","input_rows":3,"output_rows":2,""" +
        """"input_files":[],"started_at_ms":1760000000000,"duration_ms":10,"rows_per_sec":300.0}""")
    assert(Backfill.isComplete(compactCkpt, "2026-01-01"))
    assert(Backfill.completedPartitions(compactCkpt) == Seq("2026-01-01"))

    // the earlier ledger line format, two views sharing one sanitized file
    val ledger = s"$tmp/intervals_legacy"
    Files.createDirectories(Paths.get(ledger))
    Files.writeString(Paths.get(ledger, "sales_eu.intervals.jsonl"),
      """{"view": "sales/eu", "start": "1970-01-01 00:00:00.0", "end": "2026-02-01 00:00:00.0"}""" + "\n" +
        """{"view": "sales:eu", "start": "1970-01-01 00:00:00.0", "end": "2026-03-01 00:00:00.0"}""" + "\n")
    val end = Timestamp.valueOf("2026-02-01 00:00:00")
    assert(Materialize.mostRecentEnd(ledger, "sales/eu").contains(end))
    val view = FeatureView("sales/eu", Transcripts.synthetic(spark, nConvs = 2, turnsPerConv = 3, seed = 1L),
      Seq("conv_id"), "ts", None, 0L, features = Seq("turn_idx"), tieBreakCols = Seq("turn_idx"))
    val (_, (start, _)) = Materialize.incremental(view, Timestamp.valueOf("2026-04-01 00:00:00"), ledger)
    assert(start == end)
    // a line appended by the new writer is read next to the old ones
    val end2 = Timestamp.valueOf("2026-04-01 00:00:00")
    Materialize.recordInterval(ledger, "sales/eu", end, end2)
    assert(Materialize.mostRecentEnd(ledger, "sales/eu").contains(end2))
    assert(Materialize.mostRecentEnd(ledger, "sales:eu").contains(Timestamp.valueOf("2026-03-01 00:00:00")))
  }

  test("torn manifest is not treated as complete") {
    val ckpt = s"$tmp/ckpt3"
    Files.createDirectories(java.nio.file.Paths.get(ckpt))
    Files.write(java.nio.file.Paths.get(ckpt, "2026-01-01.json"),
      "{\"partition\": \"2026-01-01\", \"status\": \"running".getBytes)
    assert(!Backfill.isComplete(ckpt, "2026-01-01"))
    assert(Backfill.completedPartitions(ckpt).isEmpty)
  }
}
