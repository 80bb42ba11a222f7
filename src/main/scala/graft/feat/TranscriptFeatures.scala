package graft.feat

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** North-rule transcript feature pack (BASELINE.json:north_star): lag/lead,
  * per-role rolling aggregates, tool-usage counts over TTL windows, and
  * sessionization by inactivity gap. The reference has no lag/lead/session
  * operators (SURVEY §2.5) — these are the Catalyst Window idioms its users
  * would need on transcript data.
  *
  * [[featureSet]] computes any mix of them in one pass (Factor Windows):
  * every window partitions by conv_id (per-role adds role, which a conv_id
  * hash already clusters), so a feature *set* costs exactly one hash
  * exchange on the conversation key — the natural distribution key at
  * 10^12 turns — and one sort per distinct ordering: (conv_id, turn_idx)
  * for lag/lead and sessions, (conv_id, ts) for tool usage, (conv_id, role,
  * ts) for per-role rolling. Range frames order by epoch microseconds (a
  * long, computed once per row) so frames are exact and codegen-friendly.
  */
object TranscriptFeatures {

  /** Which features [[featureSet]] computes; every part is optional.
    *
    * @param lagLead        prev_role, next_role, gap_prev_us, gap_next_us
    * @param rollingPerRole (valueCol, windowSec): role_cnt_w, role_sum_w,
    *                       role_avg_w over the trailing window per (conv_id, role)
    * @param toolUsageSec   window: tool_cnt_w, turn_cnt_w over the trailing window
    * @param sessionGapSec  inactivity gap: session_id, turn_in_session
    */
  final case class Spec(
      lagLead: Boolean = false,
      rollingPerRole: Option[(String, Long)] = None,
      toolUsageSec: Option[Long] = None,
      sessionGapSec: Option[Long] = None)

  private val Tus = "__tus"
  private val NewSession = "__new_session"
  private val Rn = "__rn"

  /** The transcript's own columns followed by the features `spec` asks for
    * (lag/lead, session, per-role rolling, tool-usage columns, in that
    * order), over one conv_id exchange with no join-back. Gaps are exact
    * epoch microseconds; range windows are trailing and end-inclusive.
    */
  def featureSet(transcript: DataFrame, spec: Spec): DataFrame = {
    val tus = col(Tus)
    val byTurn = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    def trailing(partition: Seq[Column], sec: Long) =
      Window.partitionBy(partition: _*).orderBy(tus).rangeBetween(-sec * 1000000L, 0L)

    val lagLead = if (!spec.lagLead) Nil else Seq(
      lag(col("role"), 1).over(byTurn).as("prev_role"),
      lead(col("role"), 1).over(byTurn).as("next_role"),
      (tus - lag(tus, 1).over(byTurn)).as("gap_prev_us"),
      (lead(tus, 1).over(byTurn) - tus).as("gap_next_us"))
    // session_id = running count of gaps over gapSec; turn_in_session =
    // row number minus the running max of the session-start row number, so
    // sessions reuse the (conv_id, turn_idx) sort instead of re-sorting by
    // (conv_id, session_id)
    val sessionFlags = spec.sessionGapSec.toSeq.flatMap { gapSec =>
      Seq(when(tus - lag(tus, 1).over(byTurn) > gapSec * 1000000L, 1L).otherwise(0L).as(NewSession),
        row_number().over(byTurn).as(Rn))
    }
    val session = if (spec.sessionGapSec.isEmpty) Nil else {
      val upToHere = byTurn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rn = col(Rn)
      // row number of the session's first turn; 1 until the first gap
      val sessionStart = coalesce(max(when(col(NewSession) === 1L, rn)).over(upToHere), lit(1))
      Seq(sum(col(NewSession)).over(upToHere).as("session_id"),
        (rn - sessionStart + 1).as("turn_in_session"))
    }
    val rolling = spec.rollingPerRole.toSeq.flatMap { case (valueCol, windowSec) =>
      val w = trailing(Seq(col("conv_id"), col("role")), windowSec)
      Seq(count(col(valueCol)).over(w).as("role_cnt_w"),
        sum(col(valueCol)).over(w).as("role_sum_w"),
        avg(col(valueCol)).over(w).as("role_avg_w"))
    }
    // count(tool) skips non-tool turns (tool is null there)
    val tools = spec.toolUsageSec.toSeq.flatMap { windowSec =>
      val w = trailing(Seq(col("conv_id")), windowSec)
      Seq(count(col("tool")).over(w).as("tool_cnt_w"), count(lit(1)).over(w).as("turn_cnt_w"))
    }

    // one select per dependency level; the windows on one ordering share
    // a Window node chain and so one sort. Per-role windows come last (and
    // Catalyst's TransposeWindow puts them above the conv_id-only ones of
    // their level), so the conv_id exchange below already clusters them
    def level(df: DataFrame, cols: Seq[Column]) =
      if (cols.isEmpty) df else df.select(col("*") +: cols: _*)
    Seq(lagLead ++ sessionFlags, session, rolling ++ tools)
      .foldLeft(transcript.withColumn(Tus, unix_micros(col("ts").cast("timestamp"))))(level)
      .drop(Tus, NewSession, Rn)
  }

  /** lag/lead features per turn: previous role, previous ts gap, next gap.
    * Gaps in exact epoch microseconds.
    */
  def lagLead(transcript: DataFrame): DataFrame =
    featureSet(transcript, Spec(lagLead = true)).select("conv_id", "turn_idx", "role",
      "prev_role", "next_role", "gap_prev_us", "gap_next_us")

  /** Per-role rolling aggregate: avg/count of `valueCol` over the trailing
    * `windowSec` seconds *within the same (conv_id, role)* stream.
    */
  def rollingPerRole(transcript: DataFrame, valueCol: String, windowSec: Long): DataFrame =
    featureSet(transcript, Spec(rollingPerRole = Some(valueCol -> windowSec)))
      .select("conv_id", "turn_idx", "role", "role_cnt_w", "role_sum_w", "role_avg_w")

  /** Tool-usage count over a trailing TTL window per conversation:
    * count(tool) skips non-tool turns (tool is null there).
    */
  def toolUsage(transcript: DataFrame, windowSec: Long): DataFrame =
    featureSet(transcript, Spec(toolUsageSec = Some(windowSec)))
      .select("conv_id", "turn_idx", "tool_cnt_w", "turn_cnt_w")

  /** Sessionization by inactivity gap: session_id = running count of gaps
    * greater than `gapSec` (cumulative-sum-of-gap-flags; SURVEY §2.5 last
    * row), plus the turn's 1-based position inside its session.
    */
  def sessionize(transcript: DataFrame, gapSec: Long): DataFrame =
    featureSet(transcript, Spec(sessionGapSec = Some(gapSec)))
      .select("conv_id", "turn_idx", "session_id", "turn_in_session")
}
