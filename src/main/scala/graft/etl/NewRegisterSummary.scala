package graft.etl

import graft.ops.Cols._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** new_register_summary_1d (task-executor/new_rigester_summary/
  * new_register_summary_1d.py): today's registrations joined to today's
  * play summaries, re-grouped to site/game/country grain with a member count.
  *
  * Reference quirks kept for parity:
  *  - the registration join is on player_name ONLY
  *    (new_register_summary_1d.py:113-114) even though platform/site_code are
  *    available — a cross-platform name collision would leak rows; the
  *    engine reproduces that
  *  - the reference reads SUM(wl_amount) from player_summary_5min although
  *    the 5min writer emits w_amount (SURVEY §1.3) — the physical DB is the
  *    schema authority there; the engine standardizes on w_amount.
  *
  * Scale: the registration list for one day is tiny -> broadcast semi join
  * against the day's summaries; one shuffle for the final re-group (A10 —
  * the reference's two pandas groupbys collapsed into one agg).
  */
object NewRegisterSummary {

  val grain = Seq("platform", "site_code", "game_code", "country")

  private val sums = Seq(
    "b_count", "b_amount", "w_amount", "fee_amount", "profit_amount", "refund_amount")
    .map(c => sum(col(c)).as(c))

  def oneDay(playerSummary5min: DataFrame, players: DataFrame, slice: TaskSlice): DataFrame = {
    // New NORMAL members registered inside the day slice.
    val newReg = players
      .filter(inWindow(col("reg_time"), slice.gteStr, slice.ltStr))
      .filter(col("type") === "NORMAL")
      .select("player_name")

    // The day's per-player sums from the 5min tier (the reference pins
    // platform/site_code from the task row; ALL wildcards cover the rest).
    val daySums = playerSummary5min
      .filter(col("summary_date") === slice.dateInt)
      .filter(slice.scope(withGame = true))
      .groupBy(PlayerSummary.keys.map(col): _*)
      .agg(sums.head, sums.tail: _*)

    val regData = daySums.join(broadcast(newReg), Seq("player_name"), "left_semi")

    // A10: sums + member count in ONE aggregation (the reference runs
    // separate .sum() and .count() groupbys and merges them back).
    regData
      .groupBy(grain.map(col): _*)
      .agg(count(col("player_name")).as("reg_count"), sums: _*)
      .withColumn("summary_date", lit(slice.dateInt))
  }
}
