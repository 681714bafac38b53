package graft.etl

import graft.ops.Cols._
import graft.time.Slicer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** What every tier of the cascade shares (SURVEY §2.4 A4): the time stamps
  * a tier row carries and the one rollup step. A coarser tier re-aggregates
  * the tier below it on the same keys, bucketed by the start of its
  * frequency — so one aggregation builds every 1h slice of a day, every day
  * of a month, and so on. */
private[graft] object Tiers {

  /** F2: the stamps of a `freq` tier, from its bucket start in `start_time`
    * (trans_summary_5min.py:96-98, trans_summary_1m.py:91). */
  def stamp(df: DataFrame, freq: String): DataFrame = {
    val t = col("start_time")
    val stamps = freq match {
      case "5min" => Seq("summary_date" -> yyyymmdd(t), "hours" -> hour(t), "mins" -> minute(t))
      case "1H" => Seq("summary_date" -> yyyymmdd(t), "hours" -> hour(t))
      case "1D" => Seq("summary_date" -> yyyymmdd(t))
      case "1M" => Seq("summary_month" -> yyyymm(t))
      case other => throw new IllegalArgumentException(s"unknown freq $other")
    }
    stamps.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
  }

  /** A4: `aggs` over the rows of the finer tier `prev` inside `window`,
    * grouped by `keys` and the `freq` bucket of their start_time, stamped.
    * The summary_date range prunes the tier's partitions; start_time and the
    * slice's wildcards narrow the rows inside them. */
  def rollup(prev: DataFrame, freq: String, window: TaskSlice, keys: Seq[String],
      aggs: Seq[Column]): DataFrame =
    stamp(prev
      .filter(col("summary_date").between(window.dateInt, window.lastDateInt))
      .filter(inWindow(col("start_time"), window.gteStr, window.ltStr))
      .filter(window.scope(withGame = keys.contains("game_code")))
      .groupBy(keys.map(col) :+ Slicer.floorTo(col("start_time"), freq).as("start_time"): _*)
      .agg(aggs.head, aggs.tail: _*), freq)
}
