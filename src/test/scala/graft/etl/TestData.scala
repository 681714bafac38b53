package graft.etl

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.Assertions._

/** Reference-shaped inputs derived deterministically from the driver fixtures
  * (FIXTURES.md §C binding) — events become player_value_log /
  * player_profit_log rows so ETL unit tests run on real fixture data. */
object TestData {
  val sf = "/root/testdata/sf0.001"

  private val countries = typedlit(Seq("THB", "VND2", "INR", "PHP"))

  def valueLog(spark: SparkSession, dir: String = sf): DataFrame =
    Tables.events(spark, dir).select(
      concat(lit("P"), (col("user_id") % 2).cast("string")).as("platform"),
      concat(lit("S"), (col("user_id") % 5).cast("string")).as("site_code"),
      concat(lit("u"), col("user_id").cast("string")).as("player_name"),
      element_at(countries, (col("user_id") % 4 + 1).cast("int")).as("country"),
      when(col("event_type") === "purchase", "IN")
        .when(col("event_type") === "view", "OUT")
        .otherwise("XFER").as("trade_type"),
      col("value"),
      (col("value") * 2).as("before_value"),
      (col("value") * 0.9).as("after_value"),
      date_format(col("ts"), "yyyyMMdd").cast("int").as("trade_date"),
      when(col("event_type") === "error", "FAIL").otherwise("SUCCESS").as("trade_status"),
      col("ts").cast("timestamp").as("trade_time"))

  def profitLog(spark: SparkSession, dir: String = sf): DataFrame =
    Tables.events(spark, dir).select(
      concat(lit("P"), (col("user_id") % 2).cast("string")).as("platform"),
      concat(lit("S"), (col("user_id") % 5).cast("string")).as("site_code"),
      concat(lit("g"), (col("event_id") % 3).cast("string")).as("game_code"),
      concat(lit("u"), col("user_id").cast("string")).as("player_name"),
      element_at(countries, (col("user_id") % 4 + 1).cast("int")).as("country"),
      col("value").as("bet"),
      (col("value") * 0.98).as("win"),
      (col("value") * 0.02).as("fee"),
      (col("value") * 0.98 - col("value")).as("profit"),
      lit(0.0).as("refund"),
      col("value").as("normal_value"),
      lit(0.0).as("bonus_value"),
      (col("value") - lit(30.0)).as("free_value"),   // mixed sign -> exercises clamp
      (col("value") - lit(50.0)).as("jp_value"),
      col("value").as("valid_value"),
      lit(0.0).as("cancel_value"),
      col("ts").cast("timestamp").as("round_time"),
      (col("event_id") % 10 === 0).cast("int").as("is_robot"))

  def gameSites(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // Covers P0/P1 x S0..S3; S4 is intentionally missing -> ratio miss -> 0.
    (for { p <- Seq("P0", "P1"); s <- Seq("S0", "S1", "S2", "S3") }
      yield (p, s, 0.1 + s.last.asDigit * 0.05)).toDF("platform", "code", "ratio")
  }

  def slice(gte: String, lt: String, freq: String = "5min",
      platform: String = "ALL", site: String = "ALL", game: String = "ALL"): TaskSlice =
    TaskSlice(platform = platform, site_code = site, game_code = game,
      freq_type = freq,
      gte_time = java.sql.Timestamp.valueOf(gte), lt_time = java.sql.Timestamp.valueOf(lt))

  /** `got` equals `want` column for column: the same columns and types, rows
    * matched on every non-double column (keys, counts, stamps: exact), and
    * doubles within `tol` relative. */
  def assertSameTable(name: String, got: DataFrame, want: DataFrame, tol: Double = 1e-9): Unit = {
    val cols = want.columns.sorted.toSeq
    assert(got.columns.sorted.toSeq === cols, s"$name columns")
    cols.foreach(c => assert(got.schema(c).dataType === want.schema(c).dataType, s"$name.$c type"))
    val (doubles, exact) = cols.partition(c => want.schema(c).dataType == DoubleType)
    def rows(df: DataFrame): Map[Seq[Any], Seq[Any]] = {
      val rs = df.select((exact ++ doubles).map(col): _*).collect().toSeq
        .map(r => r.toSeq.take(exact.size) -> r.toSeq.drop(exact.size))
      assert(rs.map(_._1).distinct.size === rs.size, s"$name has duplicate rows")
      rs.toMap
    }
    val (g, w) = (rows(got), rows(want))
    assert(w.nonEmpty, s"$name is empty")
    assert(g.keySet === w.keySet, s"$name rows")
    for ((k, wv) <- w; ((gd, wd), c) <- g(k).zip(wv).zip(doubles)) (gd, wd) match {
      case (a: Double, b: Double) =>
        assert(math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b))),
          s"$name.$c at $k: $a vs $b")
      case _ => assert(gd === wd, s"$name.$c at $k")
    }
  }
}
