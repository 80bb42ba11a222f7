package graft.engine

import graft.{FeatureView, JsonCodec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Materialization's core query: pull the latest feature row per entity key
  * within a time slice (reference: spark.py:98-166 `pull_latest_from_table_
  * or_query` — ROW_NUMBER() OVER (PARTITION BY join_keys ORDER BY ts DESC,
  * created DESC) = 1). We use the same partial-aggregable max_by trick as
  * the PIT join instead of a window sort.
  */
object Materialize {

  def latestPerKey(view: FeatureView, start: Timestamp, end: Timestamp): DataFrame = {
    val feats = view.resolvedFeatures
    val minTs = lit("1900-01-01 00:00:00").cast("timestamp")
    val ordCols = col(view.tsCol) +:
      (view.createdTsCol.map(c => coalesce(col(c), minTs)).toSeq ++
        view.tieBreakCols.map(col))
    val payloadCols = (feats :+ view.tsCol) ++ view.createdTsCol.toSeq
    val sliced = view.mappedSource
      .filter(col(view.tsCol) >= lit(start) && col(view.tsCol) <= lit(end))
    sliced
      .groupBy(view.joinKeys.map(col): _*)
      .agg(max_by(struct(payloadCols.distinct.map(col): _*), struct(ordCols: _*)).as("__best"))
      .select(view.joinKeys.map(col) ++
        payloadCols.distinct.map(c => col("__best." + c).as(c)): _*)
  }

  // --- incremental materialization (reference materialize_incremental:
  // feature_store.py:2546 picks start = the view's most_recent_end_time,
  // feature_view.py:795-804; intervals recorded by apply_materialization,
  // feature_view.py:482-490). Interval bookkeeping is a per-view jsonl
  // ledger next to the backfill manifests. -------------------------------

  /** One ledger line: a completed (start, end] interval of `view`, times
    * in `Timestamp.toString` form.
    */
  private final case class Interval(view: String, start: String, end: String)

  /** View names reach the ledger FILENAME: path separators in a name
    * would escape the interval directory, so filenames sanitize to a safe
    * charset (the JSON line carries the true name).
    */
  private def safeFileName(viewName: String): String = {
    require(viewName.nonEmpty, "view name must be non-empty")
    viewName.replaceAll("[^A-Za-z0-9._-]", "_")
  }

  private def ledgerPath(dir: String, viewName: String) =
    Paths.get(dir, s"${safeFileName(viewName)}.intervals.jsonl")

  /** Most recent materialized end time of `viewName`, if any. Each line is
    * parsed as an [[Interval]] and kept only if its `view` field is
    * `viewName`, not just because it sits in the (sanitized) file: distinct
    * names like `a/b` and `a:b` collapse onto one ledger FILE, and resuming
    * from another view's interval would silently skip data. Parsing, not a
    * line prefix, means a formatting change in [[recordInterval]] never
    * orphans prior intervals; a line that does not parse is skipped.
    */
  def mostRecentEnd(intervalDir: String, viewName: String): Option[Timestamp] = {
    val p = ledgerPath(intervalDir, viewName)
    if (!Files.exists(p)) None
    else {
      val ends = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .flatMap(JsonCodec.tryRead[Interval])
        .filter(_.view == viewName)
        .map(i => Timestamp.valueOf(i.end))
      ends.sorted(Ordering.by((t: Timestamp) => t.getTime)).lastOption
    }
  }

  /** Record a completed (start, end] interval: one serialized line appended. */
  def recordInterval(intervalDir: String, viewName: String,
                     start: Timestamp, end: Timestamp): Unit = {
    Files.createDirectories(Paths.get(intervalDir))
    val line = JsonCodec.compact(Interval(viewName, start.toString, end.toString)) + "\n"
    Files.write(ledgerPath(intervalDir, viewName),
      line.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Incremental pull-latest: start where the ledger left off (or
    * `defaultStart` on the first run), end at `asOf`; returns the slice's
    * latest-per-key frame and the interval it covers. Call
    * [[recordInterval]] AFTER the write succeeds — the ledger must only
    * advance past durable data (same crash contract as Backfill's
    * manifests).
    */
  def incremental(
      view: FeatureView,
      asOf: Timestamp,
      intervalDir: String,
      defaultStart: Timestamp = Timestamp.valueOf("1970-01-01 00:00:00")
  ): (DataFrame, (Timestamp, Timestamp)) = {
    val resumed = mostRecentEnd(intervalDir, view.name)
    val start = resumed.getOrElse(defaultStart)
    // (start, end]: a resumed run must not re-emit rows at exactly the
    // previous asOf boundary (latestPerKey's slice is inclusive on both
    // ends) — append-style consumers would see boundary events twice
    // filter through mappedSource, never the raw source: tsCol is the
    // POST-fieldMapping name (model.scala's mappedSource contract) — on a
    // mapped view the raw source lacks it (AnalysisException on every
    // resume) or, worse, holds an unrelated column of that name
    val src = resumed match {
      case Some(prevEnd) => view.copy(
        source = view.mappedSource.filter(col(view.tsCol) > lit(prevEnd)),
        fieldMapping = Map.empty)
      case None => view
    }
    (latestPerKey(src, start, asOf), (start, asOf))
  }
}
