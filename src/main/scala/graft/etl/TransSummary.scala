package graft.etl

import graft.ops.Cols._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The trans_summary rollup cascade: wallet transfers -> 5min -> 1h -> 1d -> 1m.
  *
  * Faithful re-expression of task-executor/trans_summary modules:
  *  - 5min tier aggregates player_value_log (trans_summary_5min.py:67-99)
  *  - each coarser tier re-aggregates the tier below, never the raw log
  *    (trans_summary_1h.py:54-92, trans_summary_1d.py, trans_summary_1m.py)
  *  - time columns are stamped from the SLICE start, not the event time,
  *    exactly as the reference stamps gte_time.
  *
  * Scale: each tier groups on (platform, site_code, player_name, country) —
  * the same keys throughout — so the cascade's shuffles co-partition; filters
  * on summary_date hit the sink's partition layout (partition pruning).
  */
object TransSummary {

  val keys = Seq("platform", "site_code", "player_name", "country")

  /** The measure columns every tier carries; coarser tiers sum them. */
  private val measures = Seq(
    "trans_in_amount", "trans_out_amount", "trans_in_count", "trans_out_count",
    "trans_out_lost_amount")

  private val in = col("trade_type") === "IN"
  private val out = col("trade_type") === "OUT"

  /** The A1 battery over the SUCCESS transfers of `valueLog`, grouped by the
    * keys and `bucket` (an aliased 5-min slice column). `prepare` runs between
    * the SUCCESS filter and the grouping: the stream declares its watermark
    * there. */
  private[graft] def aggregate(valueLog: DataFrame, bucket: Column,
      prepare: DataFrame => DataFrame = identity): DataFrame =
    prepare(valueLog.filter(col("trade_status") === "SUCCESS"))
      .groupBy(keys.map(col) :+ bucket: _*)
      .agg(
        sumIf(in, col("value")).as("trans_in_amount"),
        sumIf(out, col("value")).as("trans_out_amount"),
        countIf(in).as("trans_in_count"),
        countIf(out).as("trans_out_count"),
        (sumIf(out, col("before_value")) - sumIf(out, col("after_value"))
          - sumIf(out, col("value"))).as("trans_out_lost_amount"))

  /** A1 over one slice of player_value_log. `slice` carries the half-open
    * window and ALL-wildcard filters (P1/P2/P3/P4); every row is stamped
    * with the slice start. */
  def fiveMin(valueLog: DataFrame, slice: TaskSlice): DataFrame =
    Tiers.stamp(aggregate(
      valueLog
        // P3: redundant int partition-key predicate (trade_date = yyyymmdd of
        // the slice) — in Spark this prunes parquet partitions before the scan.
        .filter(col("trade_date") === slice.dateInt)
        .filter(inWindow(col("trade_time"), slice.gteStr, slice.ltStr))
        .filter(slice.scope(withGame = false)),
      lit(slice.gteStr).cast("timestamp").as("start_time")), "5min")

  /** Backfill/catch-up path: ALL 5-min slices inside `[gte, lt)` in ONE
    * aggregation, grouping by the floored event time instead of running one
    * job per slice (the reference loops 288 sequential tasks per day,
    * trans_summary_5min.py:23). Output is identical to per-slice [[fiveMin]]
    * for aligned slices — the slice stamp IS the 5-min floor of trade_time.
    * At scale this is one shuffle over the day instead of 288 scheduled jobs. */
  def fiveMinRange(valueLog: DataFrame, gte: String, lt: String): DataFrame =
    Tiers.stamp(aggregate(
      valueLog.filter(inWindow(col("trade_time"), gte, lt)),
      graft.time.Slicer.floorTo(col("trade_time").cast("timestamp"), "5min").as("start_time")),
      "5min")

  /** A4: the `freq` tier ("1H", "1D" or "1M") of every bucket inside
    * `window`, re-aggregated from the finer tier `prev` — 1h from 5min rows,
    * 1d from 1h rows, 1m from 1d rows. */
  def rollup(prev: DataFrame, freq: String, window: TaskSlice): DataFrame =
    Tiers.rollup(prev, freq, window, keys, measures.map(c => sum(col(c)).as(c)))
}
