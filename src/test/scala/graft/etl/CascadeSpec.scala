package graft.etl

import graft.SparkTestSession
import graft.time.Slicer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end cascade tests on fixture-derived reference-shaped data:
  * 5min -> 1h -> 1d -> 1m rollup identity, wildcard filters, ratio join,
  * clamped sums, weighted rtp, risky-mask ordering. */
class CascadeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val vlog = TestData.valueLog(spark).cache()
  private lazy val plog = TestData.profitLog(spark).cache()
  private lazy val sites = TestData.gameSites(spark)

  private def ts(ldt: java.time.LocalDateTime) = java.sql.Timestamp.valueOf(ldt)


  /** Drive the real cascade over the first `hours` hours of a day: slicer ->
    * per-slice fiveMin -> 1h rollup of those hours -> 1d rollup. (Bounded
    * hours keep the unioned test plan small; production materializes each
    * tier to parquet between steps.) */
  private def runTier(day: String, hours: Int): (DataFrame, DataFrame, DataFrame) = {
    val d0 = java.time.LocalDate.parse(day).atStartOfDay()
    val slices = Slicer.explodeSlices(
      Seq(("ALL", "5min", ts(d0), ts(d0.plusHours(hours))))
        .toDF("platform", "freq_type", "gte_time", "lt_time"))
      .collect()
    val fiveMin = slices.map { r =>
      TransSummary.fiveMin(vlog, TaskSlice(freq_type = "5min",
        gte_time = r.getAs[java.sql.Timestamp]("gte_time"),
        lt_time = r.getAs[java.sql.Timestamp]("lt_time")))
    }.reduce(_ unionByName _)

    val oneHour = TransSummary.rollup(fiveMin, "1H", TaskSlice(freq_type = "1H",
      gte_time = ts(d0), lt_time = ts(d0.plusHours(hours))))

    val oneDay = TransSummary.rollup(oneHour, "1D", TaskSlice(freq_type = "1D",
      gte_time = ts(d0), lt_time = ts(d0.plusDays(1))))
    (fiveMin, oneHour, oneDay)
  }

  test("trans cascade: slicer -> 5min -> 1h -> 1d equals direct aggregation") {
    val day = "2024-01-03"
    val (_, _, oneDay) = runTier(day, hours = 2)
    val direct = vlog
      .filter(col("trade_status") === "SUCCESS")
      .filter(col("trade_time") >= lit(s"$day 00:00:00") &&
        col("trade_time") < lit(s"$day 02:00:00"))
      .groupBy("platform", "site_code", "player_name", "country")
      .agg(
        sum(when(col("trade_type") === "IN", col("value")).otherwise(0.0)).as("d_in"),
        sum(when(col("trade_type") === "OUT", col("value")).otherwise(0.0)).as("d_out"))
    val joined = oneDay.join(direct, Seq("platform", "site_code", "player_name", "country"), "full_outer")
      .filter(
        abs(coalesce(col("trans_in_amount"), lit(0.0)) - coalesce(col("d_in"), lit(0.0))) > 1e-6 ||
        abs(coalesce(col("trans_out_amount"), lit(0.0)) - coalesce(col("d_out"), lit(0.0))) > 1e-6)
    assert(joined.isEmpty, "rollup diverged from direct day aggregation")
  }

  test("trans 5min: lost amount formula and slice stamping") {
    val s = TestData.slice("2024-01-01 00:00:00", "2024-01-01 01:00:00")
    val r = TransSummary.fiveMin(vlog, s)
    val row = r.agg(
      sum(col("trans_out_lost_amount")).as("lost"),
      sum(col("trans_out_amount")).as("out")).head
    // before-after-value = 2v-0.9v-v = 0.1v per OUT row -> lost = 0.1*out
    assert(math.abs(row.getDouble(0) - 0.1 * row.getDouble(1)) < 1e-6)
    val stamps = r.select("summary_date", "hours", "mins").distinct().collect()
    assert(stamps.length === 1 && stamps.head === org.apache.spark.sql.Row(20240101, 0, 0))
  }

  test("trans 5min honors ALL-wildcard vs pinned platform filters") {
    val all = TransSummary.fiveMin(vlog, TestData.slice("2024-01-01 00:00:00", "2024-01-02 00:00:00"))
    val p0 = TransSummary.fiveMin(vlog, TestData.slice("2024-01-01 00:00:00", "2024-01-02 00:00:00", platform = "P0"))
    assert(p0.select("platform").distinct().collect().map(_.getString(0)).toSeq === Seq("P0"))
    assert(all.count() > p0.count())
  }

  test("player 5min: clamped sums, weighted rtp, ratio join with miss -> 0") {
    val s = TestData.slice("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    val r = PlayerSummary.fiveMin(plog, sites, s).cache()
    // clamp: free_amount sums only positive (value-30) terms -> never negative
    assert(r.filter(col("free_amount") < 0).isEmpty)
    // ratio: S4 missing from game_sites -> 0; S0..S3 -> configured value
    assert(r.filter(col("site_code") === "S4" && col("ratio") =!= 0.0).isEmpty)
    assert(math.abs(r.filter(col("site_code") === "S1").select("ratio").distinct().head.getDouble(0) - 0.15) < 1e-9)
    // profit split identity: p_after + tg_after == profit
    assert(r.filter(abs(col("p_after_amount") + col("tg_after_amount") - col("profit_amount")) > 1e-9).isEmpty)
    // rtp is weighted: recompute from sums
    assert(r.filter(col("b_amount") > 0)
      .filter(abs(col("rtp") - col("profit_amount") / col("b_amount")) > 1e-9).isEmpty)
    // robots excluded
    assert(r.join(plog.filter(col("is_robot") === 1).select("player_name").distinct(),
      Seq("player_name"), "inner").count() <= r.count())
    r.unpersist()
  }

  test("player rollup 1h equals direct hour aggregation (weighted rtp survives)") {
    val s5 = (0 until 12).map(i => TestData.slice(
      f"2024-01-01 10:${i * 5}%02d:00",
      if (i == 11) "2024-01-01 11:00:00" else f"2024-01-01 10:${i * 5 + 5}%02d:00"))
    val fiveMin = s5.map(PlayerSummary.fiveMin(plog, sites, _)).reduce(_ unionByName _)
    val hour = PlayerSummary.rollup(fiveMin, "1H",
      TestData.slice("2024-01-01 10:00:00", "2024-01-01 11:00:00", "1H"))
    val direct = PlayerSummary.fiveMin(plog, sites, TestData.slice("2024-01-01 10:00:00", "2024-01-01 11:00:00", "1H"))
    val k = PlayerSummary.keys
    val bad = hour.alias("h").join(direct.alias("d"), k)
      .filter(abs(col("h.b_amount") - col("d.b_amount")) > 1e-6 ||
        abs(col("h.rtp") - col("d.rtp")) > 1e-9 ||
        col("h.b_count") =!= col("d.b_count"))
    assert(bad.isEmpty)
    assert(hour.count() === direct.count())
  }

  test("risky mask ordering: unconditional profit override beats the base rule") {
    val rows = Seq(
      // profit >= 50000 but b_count below threshold -> STILL risky (override)
      ("P0", "S0", "g0", "big", "THB", 1L, 100.0, 60000.0, 1.2),
      // meets base rule exactly
      ("P0", "S0", "g0", "base", "THB", 10L, 100.0, 10000.0, 1.0),
      // high rtp, low profit -> not risky
      ("P0", "S0", "g0", "no", "THB", 10L, 100.0, 9999.0, 5.0))
      .toDF("platform", "site_code", "game_code", "player_name", "country",
        "b_count", "b_amount", "profit_amount", "rtp")
    val got = PlayerSummary.checkIfRisky(rows)
      .select("player_name", "is_risky").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("big" -> 1, "base" -> 1, "no" -> 0))
  }

  test("new register: day summary counts only members registered in the slice") {
    val players = Seq(
      ("u1", "P1", "S1", java.sql.Timestamp.valueOf("2024-01-01 08:00:00"), "NORMAL", "ACTIVATE"),
      ("u3", "P1", "S3", java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), "NORMAL", "ACTIVATE"),
      ("u2", "P0", "S2", java.sql.Timestamp.valueOf("2023-12-31 08:00:00"), "NORMAL", "ACTIVATE"),
      ("u4", "P0", "S4", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "ROBOT", "ACTIVATE"))
      .toDF("player_name", "platform", "site_code", "reg_time", "type", "status")
    val fiveMin = PlayerSummary.fiveMin(plog, sites,
      TestData.slice("2024-01-01 00:00:00", "2024-01-02 00:00:00"))
    val r = NewRegisterSummary.oneDay(fiveMin, players,
      TestData.slice("2024-01-01 00:00:00", "2024-01-02 00:00:00", "1D"))
    val names = fiveMin.join(r.select("platform", "site_code", "game_code", "country"),
      Seq("platform", "site_code", "game_code", "country"), "left_semi")
      .select("player_name").distinct().collect().map(_.getString(0)).toSet
    // u2 registered before the slice, u4 is a robot: only u1/u3 groups remain
    assert(r.count() > 0)
    assert(r.agg(sum("reg_count")).head.getLong(0) ===
      fiveMin.filter(col("player_name").isin("u1", "u3")).count())
  }
}
