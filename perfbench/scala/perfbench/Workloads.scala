package perfbench

import graft.FeatureView
import graft.engine.{Backfill, Historical, Materialize}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

/** One closed-loop job's outcome. `facts` are workload-level counts the
  * layer metrics divide by (probes, partitions, backfill row counts, ...). */
final case class JobOutput(checksum: String, leaks: Long, facts: Map[String, Double])

/** A workload drives the engine only through its public entry points.
  * [[execute]] is the timed part (public call through the sink finishing);
  * [[verify]] computes whatever else the output check needs, untimed.
  */
trait Workload {
  def execute(t: Tracer, job: Int): JobOutput
  def verify(t: Tracer, job: Int, out: JobOutput): JobOutput = out
  /** Remove what the job left on disk. */
  def cleanup(job: Int): Unit = ()
  /** Checksum of the DuckDB reference output under `refDir`. */
  def reference(refDir: String): String
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String, work: String): Workload = name match {
    case "pit_multiview_skew" => new PitMultiviewSkew(spark, in)
    case "feature_backfill" => new FeatureBackfill(spark, in, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Retrieval workloads: the sink is the checksum aggregate over every
  * output column, evaluated in the same action as the leakage and hit
  * counts. `tsFeatures` pairs each view's feature-timestamp output column
  * with the entity time it must not exceed. */
abstract class PitWorkload(spark: SparkSession, in: String) extends Workload {
  protected def retrieve(probes: DataFrame): DataFrame
  protected def tsFeatures: Seq[String]

  def execute(t: Tracer, job: Int): JobOutput = {
    val probes = spark.read.parquet(s"$in/probes")
    val out = t.span("historical.call")(retrieve(probes))
    val ets = col("event_ts")
    val leaks = sum(tsFeatures.map(f => when(col(f) > ets, 1L).otherwise(0L)).reduce(_ + _))
    val hits = sum(tsFeatures.map(f => when(col(f).isNotNull, 1L).otherwise(0L)).reduce(_ + _))
    val aggs: Seq[Column] = Checksum.columns(out) ++ Seq(leaks.as("__leaks"), hits.as("__hits"))
    val r = t.span("pit.exec")(out.agg(aggs.head, aggs.tail: _*).head())
    val rows = r.getAs[Long]("__rows")
    JobOutput(Checksum.render(r), Option(r.getAs[java.lang.Long]("__leaks")).map(_.longValue).getOrElse(0L),
      Map("probes" -> rows.toDouble,
        "hits" -> Option(r.getAs[java.lang.Long]("__hits")).map(_.doubleValue).getOrElse(0.0),
        "slots" -> rows.toDouble * tsFeatures.size))
  }

  def reference(refDir: String): String = Checksum.of(spark.read.parquet(s"$refDir/pit.parquet"))
}

/** Two conv-keyed views (`turn_stats`: the flagship retrieval's view; and
  * `quality`, with created-ts versions) and one user-keyed view, with
  * created-ts filtering and full feature names. The mixed key sets keep
  * the views off the fused path. Keep in step with `MULTIVIEW` in gen.py. */
final class PitMultiviewSkew(spark: SparkSession, in: String) extends PitWorkload(spark, in) {
  protected val tsFeatures = Seq("turn_stats__turn_ts", "quality__q_ts", "quality__q_created",
    "user_profile__profile_ts")

  protected def retrieve(probes: DataFrame): DataFrame = {
    val turns = spark.read.parquet(s"$in/turns")
    val quality = spark.read.parquet(s"$in/quality")
    val users = spark.read.parquet(s"$in/users")
    val conv = Seq("conv_id")
    val views = Seq(
      FeatureView("turn_stats",
        turns.select(col("conv_id"), col("ts"), col("turn_idx"),
          length(col("text")).as("text_len"), col("ts").as("turn_ts")),
        conv, "ts", ttlSeconds = 4 * 3600L, features = Seq("turn_idx", "text_len", "turn_ts"),
        tieBreakCols = Seq("turn_idx")),
      FeatureView("quality",
        quality.select(col("conv_id"), col("ts"), col("created_ts"), col("score"), col("version"),
          col("ts").as("q_ts"), col("created_ts").as("q_created")),
        conv, "ts", createdTsCol = Some("created_ts"), ttlSeconds = 4 * 3600L,
        features = Seq("score", "version", "q_ts", "q_created"), tieBreakCols = Seq("version")),
      FeatureView("user_profile",
        users.select(col("user_id"), col("ts"), col("rev"), col("tier"), col("credits"),
          col("ts").as("profile_ts")),
        Seq("user_id"), "ts", ttlSeconds = 3 * 86400L,
        features = Seq("tier", "credits", "profile_ts"), tieBreakCols = Seq("rev")))
    Historical.getHistoricalFeatures(probes, views, fullFeatureNames = true,
      filterByCreatedTs = true)
  }
}

/** `Backfill.run` with `dailyFeatureJob` over the `ds`-partitioned
  * transcript (lookback 1) into fresh output and checkpoint directories,
  * then `Materialize.latestPerKey` over the backfilled output, whose
  * checksum aggregate is the sink. */
final class FeatureBackfill(spark: SparkSession, in: String, work: String) extends Workload {
  private val start = Timestamp.valueOf("2024-01-01 00:00:00")
  private val end = Timestamp.valueOf("2024-01-03 00:00:00")
  private def dir(job: Int) = Paths.get(work, s"backfill-$job")

  private def latestView(out: DataFrame) =
    FeatureView("latest", out, Seq("conv_id"), "ts",
      features = Seq("turn_idx", "session_id", "tool_cnt_w"))

  private def backfill(d: Path) = Backfill.run(spark,
    spark.read.option("basePath", s"$in/turns").parquet(s"$in/turns"), "ds", s"$d/out", s"$d/ckpt",
    Backfill.dailyFeatureJob, lookbackPartitions = 1)

  def execute(t: Tracer, job: Int): JobOutput = {
    val d = dir(job)
    Workload.deleteTree(d)
    val results = t.span("backfill.run")(backfill(d))
    val latest = t.span("materialize")(
      Checksum.of(Materialize.latestPerKey(latestView(Backfill.readOutput(spark, s"$d/out")), start, end)))
    val durations = results.map(_.durationMs / 1000.0).sorted
    JobOutput(latest, 0L, Map(
      "partitions" -> results.size.toDouble,
      "backfill_in_rows" -> results.map(_.inputRows).sum.toDouble,
      "backfill_out_rows" -> results.map(_.outputRows).sum.toDouble,
      "partition_s_p50" -> (if (durations.isEmpty) 0.0 else Stats.median(durations)),
      "materialize_rows" -> latest.takeWhile(_ != ':').toDouble))
  }

  /** Checks the backfilled output too; in a traced run, also times a no-op
    * resume over the complete checkpoint. */
  override def verify(t: Tracer, job: Int, out: JobOutput): JobOutput = {
    val d = dir(job)
    val skipped = if (t.isTraced) t.span("backfill.skip")(backfill(d).size) else 0
    val written = t.span("verify")(Checksum.of(Backfill.readOutput(spark, s"$d/out")))
    // a resume over a complete checkpoint that re-runs a partition is a failure
    val sum = if (skipped == 0) s"$written|${out.checksum}" else s"resumed $skipped partitions"
    out.copy(checksum = sum)
  }

  override def cleanup(job: Int): Unit = Workload.deleteTree(dir(job))

  def reference(refDir: String): String =
    Checksum.of(spark.read.parquet(s"$refDir/backfill.parquet")) + "|" +
      Checksum.of(spark.read.parquet(s"$refDir/materialize.parquet"))
}

object Stats {
  def median(sorted: Seq[Double]): Double = {
    val n = sorted.size
    if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }
}
