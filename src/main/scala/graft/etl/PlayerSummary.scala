package graft.etl

import graft.ops.Cols._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The player_summary cascade: game rounds -> 5min -> 1h -> 1d -> 1m.
  *
  * Faithful re-expression of task-executor/player_summary modules:
  *  - 5min tier: wide sum battery + rtp over player_profit_log with robot
  *    filter, clamped free/jp sums, inf/NaN -> 0
  *    (player_summary_5min.py:71-106)
  *  - ratio enrichment from game_sites + profit split
  *    (player_summary_5min.py:109-131)
  *  - risky flagging with ordered mask overrides
  *    (player_summary_5min.py:136-148)
  *  - coarser tiers re-aggregate the tier below; rtp is recomputed from the
  *    re-summed profit/bet (weighted, never an average of averages).
  *
  * Scale: game_sites is a tiny dim -> broadcast join, no fact shuffle for the
  * enrichment; the aggregation shuffles once on the 5-part key.
  */
object PlayerSummary {

  val keys = Seq("platform", "site_code", "game_code", "player_name", "country")

  /** The presummed measures every tier carries; coarser tiers sum them. */
  private val sums = Seq(
    "b_count", "b_amount", "w_amount", "fee_amount", "profit_amount", "refund_amount",
    "normal_amount", "bonus_amount", "free_amount", "jp_amount", "valid_amount",
    "cancel_amount")

  /** F8: weighted rtp from the (re-)summed profit and bet. */
  private val rtp = safeDiv(col("profit_amount"), col("b_amount"))

  /** F7: profit split by the revenue-share ratio (player_summary_5min.py:121-123). */
  private def profitSplit(df: DataFrame): DataFrame = df
    .withColumn("p_before_amount", col("profit_amount"))
    .withColumn("p_after_amount", col("profit_amount") * (lit(1.0) - col("ratio")))
    .withColumn("tg_after_amount", col("profit_amount") * col("ratio"))

  /** The A2+A3+F8 battery over the human rounds of `profitLog`, grouped by
    * the keys and `bucket` (an aliased 5-min slice column), then J1 ratio
    * enrichment, profit split, stamps and risky flags. */
  private def aggregate(profitLog: DataFrame, gameSites: DataFrame, bucket: Column,
      cfg: RtpConfig): DataFrame = {
    val agg = profitLog
      .filter(col("is_robot") === 0)
      .groupBy(keys.map(col) :+ bucket: _*)
      .agg(
        count(col("bet")).as("b_count"),
        sum(col("bet")).as("b_amount"),
        sum(col("win")).as("w_amount"),
        sum(col("fee")).as("fee_amount"),
        sum(col("profit")).as("profit_amount"),
        sum(col("refund")).as("refund_amount"),
        sum(col("normal_value")).as("normal_amount"),
        sum(col("bonus_value")).as("bonus_amount"),
        sumClamped(col("free_value")).as("free_amount"),
        sumClamped(col("jp_value")).as("jp_amount"),
        sum(col("valid_value")).as("valid_amount"),
        sum(col("cancel_value")).as("cancel_amount"))
      .withColumn("rtp", rtp)

    // J1: ratio enrichment — broadcast the game_sites dim, miss -> ratio 0
    // (player_summary_5min.py:116-119).
    val dim = gameSites.select(col("platform"), col("code"), col("ratio"))
    val enriched = agg
      .join(broadcast(dim),
        agg("platform") === dim("platform") && agg("site_code") === dim("code"), "left")
      .drop(dim("platform")).drop(dim("code"))
      .na.fill(0.0, Seq("ratio"))
    checkIfRisky(Tiers.stamp(profitSplit(enriched), "5min"), cfg)
  }

  /** The 5-min battery for one slice of player_profit_log; every row is
    * stamped with the slice start (F2). */
  def fiveMin(profitLog: DataFrame, gameSites: DataFrame, slice: TaskSlice,
      cfg: RtpConfig = RtpConfig()): DataFrame =
    aggregate(
      profitLog
        .filter(inWindow(col("round_time"), slice.gteStr, slice.ltStr))
        .filter(slice.scope(withGame = true)),
      gameSites, lit(slice.gteStr).cast("timestamp").as("start_time"), cfg)

  /** Backfill/catch-up path: ALL 5-min slices inside `[gte, lt)` in one
    * aggregation (cf. TransSummary.fiveMinRange) — slice stamps from the
    * floored round_time; identical to per-slice [[fiveMin]] for aligned
    * slices. */
  def fiveMinRange(profitLog: DataFrame, gameSites: DataFrame, gte: String, lt: String,
      cfg: RtpConfig = RtpConfig()): DataFrame =
    aggregate(profitLog.filter(inWindow(col("round_time"), gte, lt)), gameSites,
      graft.time.Slicer.floorTo(col("round_time").cast("timestamp"), "5min").as("start_time"),
      cfg)

  /** F1: ordered mask semantics (player_summary_5min.py:136-148) — base rule
    * first, then the unconditional profit override. Encoded as a single
    * `when` cascade with the LAST pandas mask as the FIRST branch (later
    * masks win in pandas; first match wins in `when`). */
  def checkIfRisky(report: DataFrame, cfg: RtpConfig = RtpConfig()): DataFrame =
    report.withColumn("is_risky",
      when(col("profit_amount") >= cfg.profitUnconditional, 1)
        .when(col("profit_amount") >= cfg.profitThreshold &&
          col("b_count") >= cfg.betCountThreshold &&
          col("rtp") >= cfg.rtpThreshold, 1)
        .otherwise(0))

  /** A4: the `freq` tier ("1H", "1D" or "1M") of every bucket inside
    * `window`, re-aggregated from the finer tier `prev`: the presummed
    * battery summed, rtp recomputed from the re-summed profit/bet, ratio
    * carried with first() (MariaDB non-strict GROUP BY made deterministic —
    * it is constant per site), the profit split rebuilt, risky re-flagged. */
  def rollup(prev: DataFrame, freq: String, window: TaskSlice,
      cfg: RtpConfig = RtpConfig()): DataFrame = {
    val rolled = Tiers.rollup(prev, freq, window, keys,
      sums.map(c => sum(col(c)).as(c)) :+ first(col("ratio")).as("ratio"))
    checkIfRisky(profitSplit(rolled.withColumn("rtp", rtp)), cfg)
  }
}
