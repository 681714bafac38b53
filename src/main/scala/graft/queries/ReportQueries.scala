package graft.queries

import graft.Tables
import graft.etl.{PlayerSummary, TaskSlice, TransSummary}
import graft.ops.Cols.money
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The REAL report operators (graft.etl) driven through the correctness
  * harness: events are mapped deterministically into reference-shaped logs
  * (FIXTURES.md §C binding, same mapping spelled out in the oracle SQL), then
  * the production TransSummary/PlayerSummary code runs a slice. This proves
  * the shipped report library — not just the pattern queries — against the
  * DuckDB oracle every round.
  */
object ReportQueries {

  /** events -> player_value_log (deterministic binding used by both sides).
    * Money columns are EXACT decimals from here on: the fixture values carry
    * ≤2dp so the cast is lossless, `value*2` and `value*0.9` are exact decimal
    * products, and every downstream sum — including the cancellation-heavy
    * trans_out_lost_amount — is order-independent.
    *
    * `window` pre-filters on the RAW nanosecond long (Tables.eventsInWindow)
    * so the slice predicate reaches parquet row-group stats — at 100 TB the
    * difference between scanning one hour and scanning the table. Since
    * trade_time IS ts, pre-filtering to the slice window is semantically
    * identical to the oracle filtering trade_time in SQL. */
  private def valueLog(spark: SparkSession, dir: String,
      window: Option[(String, String)] = None): DataFrame =
    window.fold(Tables.events(spark, dir))(
      w => Tables.eventsInWindow(spark, dir, w._1, w._2)).select(
      concat(lit("P"), (col("user_id") % 2).cast("string")).as("platform"),
      concat(lit("S"), (col("user_id") % 5).cast("string")).as("site_code"),
      concat(lit("u"), col("user_id").cast("string")).as("player_name"),
      concat(lit("C"), (col("user_id") % 4).cast("string")).as("country"),
      when(col("event_type") === "purchase", "IN")
        .when(col("event_type") === "view", "OUT")
        .otherwise("XFER").as("trade_type"),
      money(col("value")).as("value"),
      (money(col("value")) * lit(2)).as("before_value"),
      (money(col("value")) * lit(new java.math.BigDecimal("0.9"))).as("after_value"),
      date_format(col("ts"), "yyyyMMdd").cast("int").as("trade_date"),
      when(col("event_type") === "error", "FAIL").otherwise("SUCCESS").as("trade_status"),
      col("ts").as("trade_time"))

  private val valueLogSql =
    """SELECT
      |  'P' || CAST(user_id % 2 AS VARCHAR) AS platform,
      |  'S' || CAST(user_id % 5 AS VARCHAR) AS site_code,
      |  'u' || CAST(user_id AS VARCHAR) AS player_name,
      |  'C' || CAST(user_id % 4 AS VARCHAR) AS country,
      |  CASE WHEN event_type='purchase' THEN 'IN'
      |       WHEN event_type='view' THEN 'OUT' ELSE 'XFER' END AS trade_type,
      |  CAST(value AS DECIMAL(12,2)) AS value,
      |  CAST(value AS DECIMAL(12,2)) * 2 AS before_value,
      |  CAST(value AS DECIMAL(12,2)) * 0.9 AS after_value,
      |  CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS trade_date,
      |  CASE WHEN event_type='error' THEN 'FAIL' ELSE 'SUCCESS' END AS trade_status,
      |  ts AS trade_time
      |FROM events""".stripMargin

  /** events -> player_profit_log. Money columns are exact decimals (same
    * rationale as [[valueLog]]): ×0.98/×0.02 are exact scale-4 decimal
    * products, so the wide sum battery is order-independent. */
  private def profitLog(spark: SparkSession, dir: String): DataFrame = {
    val v = money(col("value"))
    val zero = lit(0).cast(graft.ops.Cols.MoneyType)
    Tables.events(spark, dir).select(
      concat(lit("P"), (col("user_id") % 2).cast("string")).as("platform"),
      concat(lit("S"), (col("user_id") % 5).cast("string")).as("site_code"),
      concat(lit("g"), (col("event_id") % 3).cast("string")).as("game_code"),
      concat(lit("u"), col("user_id").cast("string")).as("player_name"),
      concat(lit("C"), (col("user_id") % 4).cast("string")).as("country"),
      v.as("bet"),
      (v * lit(new java.math.BigDecimal("0.98"))).as("win"),
      (v * lit(new java.math.BigDecimal("0.02"))).as("fee"),
      (v * lit(new java.math.BigDecimal("0.98")) - v).as("profit"),
      zero.as("refund"),
      v.as("normal_value"),
      zero.as("bonus_value"),
      (v - lit(30)).as("free_value"),
      (v - lit(50)).as("jp_value"),
      v.as("valid_value"),
      zero.as("cancel_value"),
      col("ts").as("round_time"),
      (col("event_id") % 10 === 0).cast("int").as("is_robot"))
  }

  private val profitLogSql =
    """SELECT
      |  'P' || CAST(user_id % 2 AS VARCHAR) AS platform,
      |  'S' || CAST(user_id % 5 AS VARCHAR) AS site_code,
      |  'g' || CAST(event_id % 3 AS VARCHAR) AS game_code,
      |  'u' || CAST(user_id AS VARCHAR) AS player_name,
      |  'C' || CAST(user_id % 4 AS VARCHAR) AS country,
      |  CAST(value AS DECIMAL(12,2)) AS bet,
      |  CAST(value AS DECIMAL(12,2)) * 0.98 AS win,
      |  CAST(value AS DECIMAL(12,2)) * 0.02 AS fee,
      |  CAST(value AS DECIMAL(12,2)) * 0.98 - CAST(value AS DECIMAL(12,2)) AS profit,
      |  CAST(0 AS DECIMAL(12,2)) AS refund,
      |  CAST(value AS DECIMAL(12,2)) AS normal_value,
      |  CAST(0 AS DECIMAL(12,2)) AS bonus_value,
      |  CAST(value AS DECIMAL(12,2)) - 30 AS free_value,
      |  CAST(value AS DECIMAL(12,2)) - 50 AS jp_value,
      |  CAST(value AS DECIMAL(12,2)) AS valid_value,
      |  CAST(0 AS DECIMAL(12,2)) AS cancel_value,
      |  ts AS round_time,
      |  CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS is_robot
      |FROM events""".stripMargin

  /** game_sites dim derived from nation (distinct by key, deterministic). */
  private def gameSites(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .groupBy(
        concat(lit("P"), (col("n_nationkey") % 2).cast("string")).as("platform"),
        concat(lit("S"), (col("n_nationkey") % 5).cast("string")).as("code"))
      .agg((max(col("n_regionkey")) / 10.0).as("ratio"))

  private val gameSitesSql =
    """SELECT 'P' || CAST(n_nationkey % 2 AS VARCHAR) AS platform,
      |       'S' || CAST(n_nationkey % 5 AS VARCHAR) AS code,
      |       max(n_regionkey) / 10.0 AS ratio
      |FROM nation GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------------
  // r1: TransSummary.fiveMin over a 1-hour slice (production code path:
  // wildcard filters, SUCCESS filter, trade_date prefilter, A1 battery,
  // slice stamping). trans_summary_5min.py:39-128.
  // ---------------------------------------------------------------------------
  /** Harness view of a trans_summary tier: the production decimals cast to
    * double for the hash compare (the oracle casts its exact sums the same
    * way — both conversions are correctly rounded, so the bits agree). */
  private def transOut(df: DataFrame): DataFrame =
    Seq("trans_in_amount", "trans_out_amount", "trans_out_lost_amount")
      .foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("double")))

  def r1TransFiveMin(spark: SparkSession, dir: String): DataFrame =
    transOut(TransSummary.fiveMin(
      valueLog(spark, dir, Some(("2024-01-05 08:00:00", "2024-01-05 09:00:00"))), TaskSlice(
      gte_time = java.sql.Timestamp.valueOf("2024-01-05 08:00:00"),
      lt_time = java.sql.Timestamp.valueOf("2024-01-05 09:00:00")))
      .drop("start_time")) // slice-constant; timestamp column adds no signal

  private val r1Sql =
    s"""WITH vlog AS ($valueLogSql)
       |SELECT platform, site_code, player_name, country,
       |  CAST(sum(CASE WHEN trade_type='IN' THEN value ELSE 0 END) AS DOUBLE) AS trans_in_amount,
       |  CAST(sum(CASE WHEN trade_type='OUT' THEN value ELSE 0 END) AS DOUBLE) AS trans_out_amount,
       |  CAST(sum(CASE WHEN trade_type='IN' THEN 1 ELSE 0 END) AS BIGINT) AS trans_in_count,
       |  CAST(sum(CASE WHEN trade_type='OUT' THEN 1 ELSE 0 END) AS BIGINT) AS trans_out_count,
       |  CAST(sum(CASE WHEN trade_type='OUT' THEN before_value ELSE 0 END)
       |    - sum(CASE WHEN trade_type='OUT' THEN after_value ELSE 0 END)
       |    - sum(CASE WHEN trade_type='OUT' THEN value ELSE 0 END) AS DOUBLE) AS trans_out_lost_amount,
       |  20240105 AS summary_date, 8 AS hours, 0 AS mins
       |FROM vlog
       |WHERE trade_date = 20240105 AND trade_status = 'SUCCESS'
       |  AND trade_time >= TIMESTAMP '2024-01-05 08:00:00'
       |  AND trade_time < TIMESTAMP '2024-01-05 09:00:00'
       |GROUP BY 1, 2, 3, 4""".stripMargin

  // ---------------------------------------------------------------------------
  // r2: PlayerSummary.fiveMin over a 1-day slice with a pinned platform
  // (production path: robot filter, clamped sums, weighted rtp, broadcast
  // ratio join with miss -> 0, profit split, risky flags).
  // player_summary_5min.py:39-148.
  // ---------------------------------------------------------------------------
  /** Money outputs of a player_summary tier cast to double for the compare. */
  private def playerOut(df: DataFrame): DataFrame =
    Seq("b_amount", "w_amount", "fee_amount", "profit_amount", "refund_amount",
      "normal_amount", "bonus_amount", "free_amount", "jp_amount",
      "valid_amount", "cancel_amount", "p_before_amount")
      .foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("double")))

  def r2PlayerFiveMin(spark: SparkSession, dir: String): DataFrame =
    playerOut(PlayerSummary.fiveMin(profitLog(spark, dir), gameSites(spark, dir), TaskSlice(
      platform = "P1",
      gte_time = java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
      lt_time = java.sql.Timestamp.valueOf("2024-01-06 00:00:00")))
      .drop("start_time"))

  private val r2Sql =
    s"""WITH plog AS ($profitLogSql), gs AS ($gameSitesSql),
       |agg AS (
       |  SELECT platform, site_code, game_code, player_name, country,
       |    count(bet) AS b_count, sum(bet) AS b_amount, sum(win) AS w_amount,
       |    sum(fee) AS fee_amount, sum(profit) AS profit_amount,
       |    sum(refund) AS refund_amount, sum(normal_value) AS normal_amount,
       |    sum(bonus_value) AS bonus_amount,
       |    sum(CASE WHEN free_value >= 0 THEN free_value ELSE 0 END) AS free_amount,
       |    sum(CASE WHEN jp_value >= 0 THEN jp_value ELSE 0 END) AS jp_amount,
       |    sum(valid_value) AS valid_amount, sum(cancel_value) AS cancel_amount,
       |    CASE WHEN sum(bet) = 0 THEN 0
       |         ELSE CAST(sum(profit) AS DOUBLE) / CAST(sum(bet) AS DOUBLE) END AS rtp
       |  FROM plog
       |  WHERE round_time >= TIMESTAMP '2024-01-05 00:00:00'
       |    AND round_time < TIMESTAMP '2024-01-06 00:00:00'
       |    AND is_robot = 0 AND platform = 'P1'
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT agg.platform, agg.site_code, agg.game_code, agg.player_name, agg.country,
       |  b_count,
       |  CAST(b_amount AS DOUBLE) AS b_amount,
       |  CAST(w_amount AS DOUBLE) AS w_amount,
       |  CAST(fee_amount AS DOUBLE) AS fee_amount,
       |  CAST(profit_amount AS DOUBLE) AS profit_amount,
       |  CAST(refund_amount AS DOUBLE) AS refund_amount,
       |  CAST(normal_amount AS DOUBLE) AS normal_amount,
       |  CAST(bonus_amount AS DOUBLE) AS bonus_amount,
       |  CAST(free_amount AS DOUBLE) AS free_amount,
       |  CAST(jp_amount AS DOUBLE) AS jp_amount,
       |  CAST(valid_amount AS DOUBLE) AS valid_amount,
       |  CAST(cancel_amount AS DOUBLE) AS cancel_amount,
       |  rtp, coalesce(gs.ratio, 0) AS ratio,
       |  CAST(profit_amount AS DOUBLE) AS p_before_amount,
       |  profit_amount * (1 - coalesce(gs.ratio, 0)) AS p_after_amount,
       |  profit_amount * coalesce(gs.ratio, 0) AS tg_after_amount,
       |  20240105 AS summary_date, 0 AS hours, 0 AS mins,
       |  CASE WHEN profit_amount >= 50000 THEN 1
       |       WHEN profit_amount >= 10000 AND b_count >= 10 AND rtp >= 1 THEN 1
       |       ELSE 0 END AS is_risky
       |FROM agg LEFT JOIN gs
       |  ON agg.platform = gs.platform AND agg.site_code = gs.code""".stripMargin

  // ---------------------------------------------------------------------------
  // r3: TransSummary.fiveMinRange — the one-pass backfill path (all 5-min
  // slices of a window in ONE aggregation; slice stamps from the floored
  // event time). Verifies the catch-up path the scheduler uses at scale.
  // ---------------------------------------------------------------------------
  def r3TransBackfill(spark: SparkSession, dir: String): DataFrame =
    transOut(TransSummary.fiveMinRange(
      valueLog(spark, dir, Some(("2024-01-05 00:00:00", "2024-01-05 06:00:00"))),
      "2024-01-05 00:00:00", "2024-01-05 06:00:00")
      .drop("start_time"))

  private val r3Sql =
    s"""WITH vlog AS ($valueLogSql)
       |SELECT platform, site_code, player_name, country,
       |  CAST(sum(CASE WHEN trade_type='IN' THEN value ELSE 0 END) AS DOUBLE) AS trans_in_amount,
       |  CAST(sum(CASE WHEN trade_type='OUT' THEN value ELSE 0 END) AS DOUBLE) AS trans_out_amount,
       |  CAST(sum(CASE WHEN trade_type='IN' THEN 1 ELSE 0 END) AS BIGINT) AS trans_in_count,
       |  CAST(sum(CASE WHEN trade_type='OUT' THEN 1 ELSE 0 END) AS BIGINT) AS trans_out_count,
       |  CAST(sum(CASE WHEN trade_type='OUT' THEN before_value ELSE 0 END)
       |    - sum(CASE WHEN trade_type='OUT' THEN after_value ELSE 0 END)
       |    - sum(CASE WHEN trade_type='OUT' THEN value ELSE 0 END) AS DOUBLE) AS trans_out_lost_amount,
       |  CAST(strftime(trade_time, '%Y%m%d') AS INTEGER) AS summary_date,
       |  CAST(extract(hour FROM trade_time) AS INTEGER) AS hours,
       |  CAST(extract(minute FROM trade_time) - extract(minute FROM trade_time) % 5 AS INTEGER) AS mins
       |FROM vlog
       |WHERE trade_status = 'SUCCESS'
       |  AND trade_time >= TIMESTAMP '2024-01-05 00:00:00'
       |  AND trade_time < TIMESTAMP '2024-01-05 06:00:00'
       |GROUP BY 1, 2, 3, 4, summary_date, hours, mins""".stripMargin

  // ---------------------------------------------------------------------------
  // r4: the full monthly rollup chain — 5min backfill -> 1d -> 1m, each tier
  // via TransSummary.rollup over the tier below — against the direct month
  // aggregation oracle. Proves the whole-cascade identity (each tier only
  // ever reads the tier below) through the driver gate, not just in unit tests.
  // ---------------------------------------------------------------------------
  def r4TransMonthly(spark: SparkSession, dir: String): DataFrame = {
    val month = TaskSlice(freq_type = "1M",
      gte_time = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      lt_time = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val fiveMin = TransSummary.fiveMinRange(
      valueLog(spark, dir, Some(("2024-01-01 00:00:00", "2024-02-01 00:00:00"))),
      month.gteStr, month.ltStr)
    val dayTier = TransSummary.rollup(fiveMin, "1D", month)
    transOut(TransSummary.rollup(dayTier, "1M", month).drop("start_time"))
  }

  private val r4Sql =
    s"""WITH vlog AS ($valueLogSql)
       |SELECT platform, site_code, player_name, country,
       |  CAST(sum(CASE WHEN trade_type='IN' THEN value ELSE 0 END) AS DOUBLE) AS trans_in_amount,
       |  CAST(sum(CASE WHEN trade_type='OUT' THEN value ELSE 0 END) AS DOUBLE) AS trans_out_amount,
       |  CAST(sum(CASE WHEN trade_type='IN' THEN 1 ELSE 0 END) AS BIGINT) AS trans_in_count,
       |  CAST(sum(CASE WHEN trade_type='OUT' THEN 1 ELSE 0 END) AS BIGINT) AS trans_out_count,
       |  CAST(sum(CASE WHEN trade_type='OUT' THEN before_value ELSE 0 END)
       |    - sum(CASE WHEN trade_type='OUT' THEN after_value ELSE 0 END)
       |    - sum(CASE WHEN trade_type='OUT' THEN value ELSE 0 END) AS DOUBLE) AS trans_out_lost_amount,
       |  202401 AS summary_month
       |FROM vlog
       |WHERE trade_status = 'SUCCESS'
       |  AND trade_time >= TIMESTAMP '2024-01-01 00:00:00'
       |  AND trade_time < TIMESTAMP '2024-02-01 00:00:00'
       |GROUP BY 1, 2, 3, 4""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r1_trans_5min" -> (r1TransFiveMin _),
    "r2_player_5min" -> (r2PlayerFiveMin _),
    "r3_trans_backfill" -> (r3TransBackfill _),
    "r4_trans_monthly" -> (r4TransMonthly _))

  val oracleSql: Map[String, String] = Map(
    "r1_trans_5min" -> r1Sql,
    "r2_player_5min" -> r2Sql,
    "r3_trans_backfill" -> r3Sql,
    "r4_trans_monthly" -> r4Sql)
}
