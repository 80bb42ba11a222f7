package graft.engine

import graft.JsonCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.jdk.CollectionConverters._

/** Resumable, per-partition checkpointed backfill (north rule).
  *
  * Generalizes the reference's resume mechanism — `materialization_intervals`
  * / `most_recent_end_time` per feature view (reference: sdk/python/feast/
  * feature_view.py:482-490,795-804; applied by the spark-submit app at
  * infra/compute_engines/spark_application/main.py:95-99) — from coarse
  * time-interval bookkeeping to **one lineage manifest per source partition**:
  *
  *   checkpointDir/<partition>.json   {partition, source_snapshot?, status,
  *     input_rows, output_rows, input_files, started_at_ms, duration_ms,
  *     rows_per_sec}
  *
  * A manifest is a typed record ([[PartitionManifest]]) written and parsed
  * by [[graft.JsonCodec]]; `input_files` lists the files the partition's
  * slice reads (the partition and its lookback, after partition pruning).
  * A partition is skipped on re-run iff its manifest parses and says
  * `complete`, so a backfill killed mid-run resumes exactly where it
  * stopped; the manifest is written atomically (temp file + move) so a
  * crash mid-write re-runs that partition rather than trusting a torn
  * file. Partition outputs are `overwrite` so re-running a partition is
  * idempotent. Two drivers resuming the same backfill SHARE the partition
  * list: each partition is claimed with a non-blocking OS file lock
  * ([[Locks.withTryFileLock]]) plus an isComplete re-check inside it — a
  * partition another driver is running is skipped, not queued on — so each
  * partition's job and manifest write happen exactly once across drivers
  * and the drivers work disjoint partitions in parallel.
  *
  * Control plane: partition values come from the file index, with no Spark
  * job, when `source` is an unfiltered partitioned file scan, else from one
  * `distinct()` job. Within one driver, up to K claimed partitions run at
  * once on a per-call pool, K = min(pending, maxPartitions, the context's
  * default parallelism, 8) — the driver-side work (claims, planning,
  * commits, manifests) of one partition overlaps the Spark jobs of the
  * others, and the same claims keep threads and drivers on disjoint
  * partitions. `maxPartitions` counts partitions actually run.
  *
  * Scale design: the *loop* is over source partitions (days of `ts` — the
  * Iceberg `days(ts)` layout; plain parquet `ds=` directories stand in here
  * because the sandbox has no Iceberg runtime). Each iteration is a fully
  * distributed Spark job over one partition plus `lookbackPartitions` of
  * history (windowed features need a bounded lookback across the boundary);
  * partition pruning keeps the scan at O(partition), and output rows are
  * re-filtered to the target partition so overlapping reads never duplicate
  * output. A 1000-executor cluster runs each day's job wide; checkpoint
  * granularity = restart granularity = one day.
  */
object Backfill {

  final case class PartitionResult(
      partition: String,
      status: String,
      inputRows: Long,
      outputRows: Long,
      durationMs: Long
  )

  /** The manifest record, fields in file order; `source_snapshot` is left
    * out of the file when None.
    */
  private final case class PartitionManifest(
      partition: String,
      // Iceberg source: the snapshot id the whole backfill run is pinned to
      // (reference analog: materialization_intervals records time ranges,
      // feature_view.py:482-490 — a snapshot id is the stronger lineage fact)
      source_snapshot: Option[String],
      status: String,
      input_rows: Long,
      output_rows: Long,
      input_files: Seq[String],
      started_at_ms: Long,
      duration_ms: Long,
      rows_per_sec: Double
  )

  /** One backfill pass. Returns the per-partition results of THIS run
    * (skipped partitions excluded), in partition order.
    *
    * Partitions are listed from the file index, with no Spark job, when
    * `source` is an unfiltered partitioned file scan (its analyzed plan is
    * exactly a file relation whose partition schema holds `partitionCol`);
    * every other source (filtered or projected frames, DSv2, in-memory)
    * is listed by a `distinct()` job over the column. The two listings
    * differ in one case: a partition directory whose files hold zero rows
    * is listed by the file index, so it gets a job, a manifest with
    * `output_rows` 0, and counts as a lookback step. A null partition value
    * fails the run before any partition starts.
    *
    * Up to K claimed partitions run at once, K = min(pending partitions,
    * `maxPartitions`, the context's default parallelism,
    * [[MaxConcurrentPartitions]]), on a pool created for this call; each
    * keeps its own claim, slice, observations, output directory and
    * manifest. The first failure stops further partitions from starting;
    * `run` rethrows it once the running ones finish.
    *
    * @param source       partitioned source (must contain `partitionCol`)
    * @param partitionCol partition column, e.g. `ds` = date of `ts`
    * @param job          the distributed feature job; receives the slice
    *                     [partition − lookback, partition] and must keep
    *                     `partitionCol` in its output
    * @param lookbackPartitions extra trailing partitions visible to `job`
    *                     (TTL windows / session lookback)
    * @param maxPartitions stop after running N partitions (test hook
    *                     simulating a killed run); partitions skipped because
    *                     they are complete or claimed elsewhere do not count
    */
  def run(
      spark: SparkSession,
      source: DataFrame,
      partitionCol: String,
      outDir: String,
      checkpointDir: String,
      job: DataFrame => DataFrame,
      lookbackPartitions: Int = 0,
      maxPartitions: Int = Int.MaxValue,
      sourceSnapshot: Option[String] = None
  ): Seq[PartitionResult] = {
    Files.createDirectories(Paths.get(checkpointDir))
    val partitions = listPartitions(source, partitionCol)
    val position = partitions.zipWithIndex.toMap
    val pending = partitions.filterNot(p => isComplete(checkpointDir, p))

    def runPartition(p: String): PartitionResult = {
      val idx = position(p)
      val visible = partitions.slice(math.max(0, idx - lookbackPartitions), idx + 1)
      val t0 = System.currentTimeMillis()
      val slice = source.filter(col(partitionCol).cast("string").isin(visible: _*))
      // Observation metrics: input AND output rows counted inside the write
      // job itself (stays in whole-stage codegen — no second action over the
      // input, no accumulator map). The input observe sits on the slice so
      // one pass yields both counts; a truthful input count has to see every
      // slice row anyway, so the metrics barrier costs nothing the old
      // separate `slice.count()` scan didn't.
      val inObs = org.apache.spark.sql.Observation(s"backfill_in_$p")
      val outObs = org.apache.spark.sql.Observation(s"backfill_out_$p")
      val observed = slice.observe(inObs, count(lit(1)).as("in_rows"))
      val outRaw = job(observed).filter(col(partitionCol).cast("string") === p)
      outRaw.observe(outObs, count(lit(1)).as("out_rows"))
        .write.mode("overwrite").parquet(s"$outDir/$partitionCol=${escapeDirValue(p)}")
      val outputRows = outObs.get("out_rows").asInstanceOf[Long]
      val inputRows = inObs.get("in_rows").asInstanceOf[Long]
      val dur = System.currentTimeMillis() - t0
      val rps = if (dur > 0) inputRows * 1000.0 / dur else 0.0
      JsonCodec.writeAtomic(manifestPath(checkpointDir, p), JsonCodec.pretty(PartitionManifest(
        p, sourceSnapshot, "complete", inputRows, outputRows, sliceFiles(slice), t0, dur, rps)))
      PartitionResult(p, "complete", inputRows, outputRows, dur)
    }

    // Workers take pending partitions in order from a shared cursor. The
    // budget counts partitions this driver actually RAN: it is reserved
    // inside the claim, after the re-check, so a partition skipped because
    // another driver claimed (or already finished) it does not consume the
    // caller's maxPartitions allowance — a pre-claim take would let two
    // contending drivers split one window and both stop early with work
    // still pending.
    val next = new AtomicInteger(0)
    val budget = new AtomicInteger(maxPartitions)
    val failure = new AtomicReference[Throwable]()
    val results = new Array[PartitionResult](pending.size)
    def work(): Unit = {
      var i = next.getAndIncrement()
      while (i < pending.size && failure.get == null && budget.get > 0) {
        val p = pending(i)
        // Cross-driver claim: two drivers resuming the same backfill both
        // compute `pending` from the same manifests — without a lock they'd
        // run (and CONCURRENTLY overwrite) the same partition output, which
        // mode("overwrite") does not make safe (one delete interleaving the
        // other's write leaves mixed files). The per-partition OS file lock
        // makes the claim exclusive; tryLock (not a blocking lock) means a
        // partition someone else is ALREADY running is simply skipped — the
        // two drivers share the partition list instead of queueing — and the
        // isComplete RE-CHECK inside the lock skips work that finished
        // between the pending listing and the claim. Threads of one call
        // never contend: each takes a distinct partition.
        try Locks.withTryFileLock(manifestPath(checkpointDir, p).toString) {
          if (!isComplete(checkpointDir, p) && failure.get == null &&
              budget.getAndDecrement() > 0)
            results(i) = runPartition(p)
        }
        catch { case e: Throwable => failure.compareAndSet(null, e) }
        i = next.getAndIncrement()
      }
    }

    val k = Seq(pending.size, maxPartitions, spark.sparkContext.defaultParallelism,
      MaxConcurrentPartitions).min
    if (k == 1) work()
    else if (k > 1) {
      // Created here, outside any SQL execution: pool threads start on the
      // first submits below and inherit this thread's Spark local
      // properties (job group, scheduler pool), so their jobs are
      // attributed to the caller.
      val pool = Executors.newFixedThreadPool(k, { (r: Runnable) =>
        val t = new Thread(r, "graft-backfill")
        t.setDaemon(true)
        t
      })
      try (1 to k).map(_ => pool.submit((() => work()): Runnable)).foreach(_.get())
      finally pool.shutdownNow()
    }
    Option(failure.get).foreach(e => throw e)
    results.toSeq.filter(_ != null)
  }

  /** Cap on the partitions one [[run]] call runs at once: a backfill over
    * thousands of pending days must not start thousands of driver threads,
    * and each running partition already fans its job out over the cluster.
    */
  private val MaxConcurrentPartitions = 8

  /** Sorted distinct partition values as strings (`cast("string")`
    * semantics, session time zone), from the file index when `source` is an
    * unfiltered partitioned file scan, else from a `distinct()` job.
    */
  private def listPartitions(source: DataFrame, partitionCol: String): IndexedSeq[String] = {
    val values = fileIndexPartitions(source, partitionCol).getOrElse(
      source.select(col(partitionCol).cast("string")).distinct().collect().map(_.getString(0)).toSeq)
    // `isin` never selects a null, so those rows could never be written
    require(!values.contains(null), s"partition column '$partitionCol' holds nulls: " +
      "rows with a null partition value cannot be backfilled")
    values.distinct.sorted.toIndexedSeq
  }

  private def fileIndexPartitions(source: DataFrame, partitionCol: String): Option[Seq[String]] = {
    val conf = source.sparkSession.sessionState.conf
    source.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location match {
        case index: PartitioningAwareFileIndex =>
          val spec = index.partitionSpec()
          val i = spec.partitionColumns.fields.indexWhere(f => conf.resolver(f.name, partitionCol))
          if (i < 0) None
          else {
            val dt = spec.partitionColumns(i).dataType
            Some(spec.partitions.map { pp =>
              // a Hive default partition (`__HIVE_DEFAULT_PARTITION__`) reads as null
              val v = Cast(Literal(pp.values.get(i, dt), dt), StringType,
                Some(conf.sessionLocalTimeZone)).eval()
              if (v == null) null else v.toString
            })
          }
        case _ => None
      }
      case _ => None
    }
  }

  /** The files `slice` reads, sorted. `Dataset.inputFiles` reads the
    * optimized plan, where a path-based source is still its whole file
    * index (Spark prunes its partitions at physical planning), so file scans
    * are read off the physical plan, after static partition pruning; a
    * slice without a file scan keeps `inputFiles`. Planning runs no job,
    * and pruning reads the index's cached listing.
    */
  private def sliceFiles(slice: DataFrame): Seq[String] = {
    val scans = slice.queryExecution.sparkPlan.collect { case s: FileSourceScanLike => s }
    val files =
      if (scans.isEmpty) slice.inputFiles.toSeq
      else scans.flatMap(_.selectedPartitions.filePartitionIterator.flatMap(_.files)
        .map(_.getPath.toUri.toString))
    files.distinct.sorted
  }

  /** Read the backfilled output back (partition-discovering parquet read). */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("basePath", outDir).parquet(outDir)

  /** The manifest of a file, or None when it is torn or not a manifest. */
  private def readManifest(f: Path): Option[PartitionManifest] =
    JsonCodec.tryRead[PartitionManifest](new String(Files.readAllBytes(f), StandardCharsets.UTF_8))

  def isComplete(checkpointDir: String, partition: String): Boolean = {
    val f = manifestPath(checkpointDir, partition)
    // check the partition FIELD too: filenames are sanitized, so two
    // values can collide on one manifest file — a collision must read as
    // incomplete (re-run, wasteful but safe), never alias another
    // partition's completion
    Files.exists(f) &&
      readManifest(f).exists(m => m.status == "complete" && m.partition == partition)
  }

  /** Partition values with a complete manifest, sorted; the true value is
    * the manifest's `partition` field, not the (sanitized) filename.
    */
  def completedPartitions(checkpointDir: String): Seq[String] = {
    val d = Paths.get(checkpointDir)
    if (!Files.exists(d)) Nil
    else {
      // Files.list holds an open directory handle until closed — a driver
      // polling this in a loop would leak fds
      val stream = Files.list(d)
      try
        stream.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".json"))
          .flatMap(readManifest)
          .collect { case m if m.status == "complete" => m.partition }
          .toSeq
          .sorted
      finally stream.close()
    }
  }

  /** Partition values reach the manifest FILENAME and the output PATH:
    * a '/' (e.g. a `2024/01/01` date layout) would fail the tmp-file
    * write AFTER the distributed job already ran, or escape `outDir`
    * into nested directories partition discovery misparses. Filenames
    * sanitize to a safe charset (the true value lives in the manifest's
    * `partition` field); output dirs use Spark's own Hive-style
    * partition-path escaping so [[readOutput]] round-trips the value.
    */
  private def safeFileName(partition: String): String = {
    val sanitized = partition.replaceAll("[^A-Za-z0-9._-]", "_")
    // lossy sanitization (or truncation) appends a digest of the TRUE
    // value: otherwise "2024/01/01" and "2024_01_01" share one manifest
    // file and each run un-completes the other — resume never converges
    // to a no-op. Values that are already safe keep their plain filename.
    if (sanitized == partition && sanitized.length <= 120) sanitized
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(partition.getBytes(StandardCharsets.UTF_8))
      sanitized.take(120) + "-" + md.take(4).map("%02x".format(_)).mkString
    }
  }

  private def escapeDirValue(p: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(p)

  private def manifestPath(dir: String, partition: String): Path =
    Paths.get(dir, s"${safeFileName(partition)}.json")

  /** spark-submit entry point: backfill the daily transcript features
    * ([[dailyFeatureJob]]: text_len, sessions by a 30-minute gap and tool
    * usage over a 4-hour window) over a day-partitioned transcript table.
    *
    *   spark-submit --class graft.engine.Backfill <jar> \
    *     <sourceDir> <outDir> <checkpointDir> [maxPartitions]
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Backfill <sourceDir> <outDir> <checkpointDir> [maxPartitions]")
    val Array(sourceDir, outDir, checkpointDir) = args.take(3)
    val maxParts = if (args.length > 3) args(3).toInt else Int.MaxValue
    val spark = SparkSession.builder()
      .appName("graft-backfill")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val source = spark.read.option("basePath", sourceDir).parquet(sourceDir)
    val results = run(spark, source, "ds", outDir, checkpointDir,
      dailyFeatureJob, lookbackPartitions = 1, maxPartitions = maxParts)
    results.foreach { r =>
      println(JsonCodec.compact(scala.collection.immutable.ListMap("partition" -> r.partition,
        "input_rows" -> r.inputRows, "output_rows" -> r.outputRows, "duration_ms" -> r.durationMs)))
    }
    spark.stop()
  }

  /** The default backfill job: per-turn transcript features over the slice
    * in one [[graft.feat.TranscriptFeatures.featureSet]] pass (one scan, one
    * conv_id exchange). Keeps `ds` so the partition filter applies to the
    * output. Rows with a null conv_id or turn_idx are dropped; every other
    * input row gives exactly one output row.
    */
  def dailyFeatureJob(slice: DataFrame): DataFrame = {
    import graft.feat.TranscriptFeatures
    val spec = TranscriptFeatures.Spec(toolUsageSec = Some(4 * 3600L), sessionGapSec = Some(1800L))
    // the null-key filter sits above the windows, as the inner joins it
    // replaces did: a null-turn_idx row still counts in its conversation's
    // windows (the conv_id half is a partition key; Catalyst pushes it below)
    val out = TranscriptFeatures.featureSet(slice.withColumn("text_len", length(col("text"))), spec)
      .filter(col("conv_id").isNotNull && col("turn_idx").isNotNull)
    val keys = Seq("conv_id", "turn_idx")
    out.select((keys ++ out.columns.filterNot(keys.contains)).map(c => col(s"`$c`")): _*)
  }
}
