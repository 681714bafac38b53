package graft.etl

import org.apache.spark.sql.types._

/** Explicit schemas for the reference's data model (SURVEY §1.4, FIXTURES §A).
  *
  * The reference has no schema registry — its schemas live in an external
  * MariaDB's DDL. The engine makes them explicit: every source and report
  * table gets a StructType, and orchestration rows get a case class so the
  * task ledger is a typed Dataset.
  *
  * Money stays DoubleType to match the reference's pandas float64 semantics
  * (the DuckDB oracle compares doubles); the 100 TB upgrade path to
  * DecimalType(38,6) is a one-line change here because every operator reads
  * types from these structs rather than hard-coding them.
  */
object Schemas {

  /** gs.player_profit_log — one row per game round (player_summary_5min.py:71-99). */
  val playerProfitLog: StructType = StructType(Seq(
    StructField("platform", StringType),
    StructField("site_code", StringType),
    StructField("game_code", StringType),
    StructField("player_name", StringType),
    StructField("country", StringType),
    StructField("bet", DoubleType),
    StructField("win", DoubleType),
    StructField("fee", DoubleType),
    StructField("profit", DoubleType),
    StructField("refund", DoubleType),
    StructField("normal_value", DoubleType),
    StructField("bonus_value", DoubleType),
    StructField("free_value", DoubleType),
    StructField("jp_value", DoubleType),
    StructField("valid_value", DoubleType),
    StructField("cancel_value", DoubleType),
    StructField("round_time", TimestampType),
    StructField("is_robot", IntegerType)))

  /** gs.player_value_log — one row per wallet transfer (trans_summary_5min.py:67-89). */
  val playerValueLog: StructType = StructType(Seq(
    StructField("platform", StringType),
    StructField("site_code", StringType),
    StructField("player_name", StringType),
    StructField("country", StringType),
    StructField("trade_type", StringType),      // 'IN' | 'OUT'
    StructField("value", DoubleType),
    StructField("before_value", DoubleType),
    StructField("after_value", DoubleType),
    StructField("trade_date", IntegerType),     // yyyymmdd partition key
    StructField("trade_status", StringType),    // 'SUCCESS' filter
    StructField("trade_time", TimestampType)))

  /** gs.player — registrations (new_register_summary_1d.py:65-75). */
  val player: StructType = StructType(Seq(
    StructField("player_name", StringType),
    StructField("platform", StringType),
    StructField("site_code", StringType),
    StructField("reg_time", TimestampType),
    StructField("type", StringType),            // 'NORMAL' | 'ROBOT'
    StructField("status", StringType)))         // 'ACTIVATE'

  /** tg_admin.game_sites — revenue-share dim (player_summary_5min.py:109-113). */
  val gameSites: StructType = StructType(Seq(
    StructField("platform", StringType),
    StructField("code", StringType),
    StructField("ratio", DoubleType)))

  /** task_board / rerun_board (ExecUtils.py:12-20, ProduceNewTask.py:9-11). */
  val taskBoard: StructType = StructType(Seq(
    StructField("create_time", TimestampType),
    StructField("level", IntegerType),
    StructField("platform", StringType),
    StructField("site_code", StringType),
    StructField("game_code", StringType),
    StructField("report_class", StringType),
    StructField("assignee", StringType),
    StructField("freq_type", StringType),       // '5min'|'1H'|'1D'|'1M'
    StructField("gte_time", TimestampType),
    StructField("lt_time", TimestampType),
    StructField("apply_time", TimestampType),
    StructField("complete_time", TimestampType),
    StructField("runtime_second", LongType),
    StructField("retry", IntegerType),
    StructField("done", IntegerType)))
}

/** One work item: a report × time-slice (the typed task-board row). */
case class TaskSlice(
    platform: String = "ALL",
    site_code: String = "ALL",
    game_code: String = "ALL",
    report_class: String = "",
    assignee: String = "",
    freq_type: String = "5min",
    level: Int = 100,
    gte_time: java.sql.Timestamp = java.sql.Timestamp.valueOf("1970-01-01 00:00:00"),
    lt_time: java.sql.Timestamp = java.sql.Timestamp.valueOf("1970-01-01 00:00:00")) {
  // Derived literals are defs, not fields: the Dataset[TaskSlice] encoder
  // stays the board's nine columns.

  /** The half-open bounds as the strings `Cols.inWindow` compares against. */
  def gteStr: String = graft.ops.Cols.tsString(gte_time)
  def ltStr: String = graft.ops.Cols.tsString(lt_time)

  /** The calendar day of the slice start. */
  def day: java.time.LocalDate = gte_time.toLocalDateTime.toLocalDate

  /** yyyymmdd of the first and of the last day the slice covers. */
  def dateInt: Int = graft.ops.Cols.dateInt(day)
  def lastDateInt: Int = graft.ops.Cols.dateInt(lt_time.toLocalDateTime.minusNanos(1).toLocalDate)

  /** P1: the slice's ALL-wildcard filters on platform, site_code and, with
    * `withGame`, game_code (trans_summary_5min.py:56-65). */
  def scope(withGame: Boolean): org.apache.spark.sql.Column = {
    import graft.ops.Cols.eqOrAll
    import org.apache.spark.sql.functions.col
    val base = eqOrAll(col("platform"), platform) && eqOrAll(col("site_code"), site_code)
    if (withGame) base && eqOrAll(col("game_code"), game_code) else base
  }
}

/** Risk thresholds — mirrors report_config.py risk_ctrl_1d_config +
  * player_summary_rtp_config verbatim. */
case class RtpConfig(
    profitThreshold: Double = 10000,
    profitUnconditional: Double = 50000,
    rtpThreshold: Double = 1,
    betCountThreshold: Long = 10,
    timeToAlertMinutes: Double = 1,
    alertLimit: Int = 5)

/** Sigma floors (report_config.py default_value_player / default_value_game). */
case class SigmaFloors(
    bWma: Double = 5000000, bWmasd: Double = 5000000,
    pWma: Double = 1000000, pWmasd: Double = 1000000,
    transWma: Double = 5000000, transWmasd: Double = 5000000)

object SigmaFloors {
  val player: SigmaFloors = SigmaFloors()
  val game: SigmaFloors = SigmaFloors(
    bWma = 50000000, bWmasd = 50000000,
    pWma = 10000000, pWmasd = 10000000,
    transWma = 50000000, transWmasd = 50000000)
}

/** Currency conversion rates by country (report_config.py country_rate). */
case class CountryRates(rates: Map[String, Double] =
    Map("THB" -> 0.05, "VND2" -> 1.0, "INR" -> 1.0, "PHP" -> 1.0))

/** risk_score weights (report_config.py risk_score_multi). */
case class RiskWeights(b: Double = 10, wl: Double = 50, trans: Double = 25, pTransMulti: Double = 100)
