package graft.etl

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, YearMonth}

import scala.collection.mutable

import graft.SparkTestSession
import graft.etl.TestData.assertSameTable
import graft.ops.Cols.safeDiv
import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The day driver end to end: `Pipeline.runTransDay`, `runPlayerDay`,
  * `runReportsDay` and `runMonth` write every tier of one day into a temp
  * warehouse, and each written table must equal the per-slice composition —
  * `fiveMin` run slice by slice, then summed up hour -> day -> month by plain
  * group-bys in this spec, then the report operators over those tiers.
  * Counts, keys and stamps match exactly, doubles to 1e-9 relative. Every
  * tier read of the run must prune on its summary_date partitions. The
  * concurrently written reports are also run twice on one day (the rtp
  * ledger merge over an existing ledger) and with one failing write, which
  * must surface only after the other writes are done. */
class PipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark

  private val day = LocalDate.of(2024, 1, 12)
  private val now = Timestamp.valueOf("2024-01-13 00:30:00")
  private def ts(x: LocalDateTime) = Timestamp.valueOf(x)
  private val daySlice = TaskSlice(freq_type = "1D",
    gte_time = ts(day.atStartOfDay()), lt_time = ts(day.plusDays(1).atStartOfDay()))

  private lazy val vlog = TestData.valueLog(spark).cache()
  private lazy val plog = TestData.profitLog(spark).cache()
  private lazy val sites = TestData.gameSites(spark)

  /** Registrations: every third player joins during the day, one of those
    * as a robot; the rest registered the day before. */
  private lazy val players: DataFrame = {
    import spark.implicits._
    vlog.select("player_name", "platform", "site_code").distinct().collect()
      .sortBy(_.getString(0)).zipWithIndex.map { case (r, i) =>
        val reg = if (i % 3 == 0) day.atStartOfDay().plusHours(i) else day.atStartOfDay().minusHours(i)
        (r.getString(0), r.getString(1), r.getString(2), ts(reg),
          if (i == 3) "ROBOT" else "NORMAL", "ACTIVATE")
      }.toSeq.toDF("player_name", "platform", "site_code", "reg_time", "type", "status")
  }

  private lazy val base = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
  private lazy val paths = Pipeline.Paths(base)

  /** Runs the day once; returns the executed plan of every query it ran. */
  private lazy val plans: Seq[SparkPlan] = {
    val seen = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized(seen += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pipeline.runTransDay(spark, vlog, paths, day)
      Pipeline.runPlayerDay(spark, plog, sites, paths, day)
      Pipeline.runReportsDay(spark, players, paths, day, now)
      Pipeline.runMonth(spark, paths, YearMonth.from(day))
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  private def table(name: String): DataFrame = { plans; spark.read.parquet(s"$base/$name") }

  // -- the per-slice composition ---------------------------------------------

  /** 5-min slices of the day that hold at least one raw row; the others
    * contribute no rows to any tier. */
  private lazy val sliceStarts: Seq[LocalDateTime] = {
    import spark.implicits._
    def inDay(df: DataFrame, c: String) = df
      .filter(col(c) >= lit(ts(day.atStartOfDay())) && col(c) < lit(ts(day.plusDays(1).atStartOfDay())))
      .select(col(c)).as[Timestamp].collect().toSeq
    (inDay(vlog, "trade_time") ++ inDay(plog, "round_time")).map { t =>
      val x = t.toLocalDateTime
      x.withMinute(x.getMinute / 5 * 5).withSecond(0).withNano(0)
    }.distinct.sorted
  }

  /** `fiveMin` slice by slice, concatenated. */
  private def perSlice(fiveMin: TaskSlice => DataFrame): DataFrame = {
    val parts = sliceStarts.map(s =>
      fiveMin(TaskSlice(gte_time = ts(s), lt_time = ts(s.plusMinutes(5)))))
    val rows = parts.flatMap(_.collect())
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), parts.head.schema)
  }

  private val transMeasures = Seq(
    "trans_in_amount", "trans_out_amount", "trans_in_count", "trans_out_count",
    "trans_out_lost_amount")
  private val playerSums = Seq(
    "b_count", "b_amount", "w_amount", "fee_amount", "profit_amount", "refund_amount",
    "normal_amount", "bonus_amount", "free_amount", "jp_amount", "valid_amount", "cancel_amount")

  private val toHour = Seq(col("summary_date"), col("hours"),
    date_trunc("hour", col("start_time")).as("start_time"))
  private val toDay = Seq(col("summary_date"), date_trunc("day", col("start_time")).as("start_time"))
  private val toMonth = Seq((col("summary_date") / 100).cast("int").as("summary_month"),
    date_trunc("month", col("start_time")).as("start_time"))

  private def rollTrans(prev: DataFrame, stamps: Seq[Column]): DataFrame =
    prev.groupBy(TransSummary.keys.map(col) ++ stamps: _*)
      .agg(sum(transMeasures.head).as(transMeasures.head),
        transMeasures.tail.map(c => sum(c).as(c)): _*)

  private def rollPlayer(prev: DataFrame, stamps: Seq[Column]): DataFrame =
    PlayerSummary.checkIfRisky(prev.groupBy(PlayerSummary.keys.map(col) ++ stamps: _*)
      .agg(max("ratio").as("ratio"), playerSums.map(c => sum(c).as(c)): _*)
      .withColumn("rtp", safeDiv(col("profit_amount"), col("b_amount")))
      .withColumn("p_before_amount", col("profit_amount"))
      .withColumn("p_after_amount", col("profit_amount") * (lit(1.0) - col("ratio")))
      .withColumn("tg_after_amount", col("profit_amount") * col("ratio")))

  private lazy val trans5 = perSlice(TransSummary.fiveMin(vlog, _)).cache()
  private lazy val trans1h = rollTrans(trans5, toHour).cache()
  private lazy val trans1d = rollTrans(trans1h, toDay).cache()
  private lazy val player5 = perSlice(PlayerSummary.fiveMin(plog, sites, _)).cache()
  private lazy val player1h = rollPlayer(player5, toHour).cache()
  private lazy val player1d = rollPlayer(player1h, toDay).cache()

  test("trans tiers equal the per-slice 5min -> 1h -> 1d -> 1m composition") {
    assertSameTable("trans_summary_5min", table("trans_summary_5min"), trans5)
    assertSameTable("trans_summary_1h", table("trans_summary_1h"), trans1h)
    assertSameTable("trans_summary_1d", table("trans_summary_1d"), trans1d)
    assertSameTable("trans_summary_1m", table("trans_summary_1m"), rollTrans(trans1d, toMonth))
  }

  test("player tiers equal the per-slice 5min -> 1h -> 1d -> 1m composition") {
    assertSameTable("player_summary_5min", table("player_summary_5min"), player5)
    assertSameTable("player_summary_1h", table("player_summary_1h"), player1h)
    assertSameTable("player_summary_1d", table("player_summary_1d"), player1d)
    assertSameTable("player_summary_1m", table("player_summary_1m"), rollPlayer(player1d, toMonth))
  }

  /** The report tables besides the rtp ledger, by the report operators over
    * the composed tiers. */
  private lazy val otherReports: Seq[(String, DataFrame)] = Seq(
    "risk_ctrl_player_1d" -> RiskCtrl.playerOneDay(player1h, trans1h, player1d, trans1d, daySlice),
    "risk_ctrl_game_1d" -> RiskCtrl.gameOneDay(player1h, player1d, daySlice),
    "new_register_summary_1d" -> NewRegisterSummary.oneDay(player5, players, daySlice))

  private lazy val rtpSnapshot = RiskCtrl.rtpSnapshot(player1h, daySlice)

  test("risk and register reports equal the report operators over the composed tiers") {
    otherReports.foreach { case (t, want) => assertSameTable(t, table(t), want) }
    assertSameTable("risk_ctrl_rtp_1d", table("risk_ctrl_rtp_1d"),
      RiskCtrl.rtpLedgerMerge(rtpSnapshot.limit(0), rtpSnapshot, now))
  }

  /** A fresh warehouse holding the day's trans and player tiers only. */
  private def tiersOnly(): Pipeline.Paths = {
    val p = Pipeline.Paths(java.nio.file.Files.createTempDirectory("graft_reports").toString)
    Pipeline.runTransDay(spark, vlog, p, day)
    Pipeline.runPlayerDay(spark, plog, sites, p, day)
    p
  }

  private def read(p: Pipeline.Paths, t: String): DataFrame = spark.read.parquet(s"${p.base}/$t")

  test("a reports rerun merges the day's rtp ledger and leaves the other reports unchanged") {
    val p = tiersOnly()
    Pipeline.runReportsDay(spark, players, p, day, now)
    // pinned before the rerun overwrites the files they were read from
    val first = (otherReports.map(_._1) :+ "risk_ctrl_rtp_1d")
      .map(t => t -> read(p, t).localCheckpoint()).toMap
    val later = Timestamp.valueOf("2024-01-13 02:30:00")
    Pipeline.runReportsDay(spark, players, p, day, later)
    otherReports.foreach { case (t, _) => assertSameTable(t, read(p, t), first(t)) }
    assertSameTable("risk_ctrl_rtp_1d", read(p, "risk_ctrl_rtp_1d"),
      RiskCtrl.rtpLedgerMerge(first("risk_ctrl_rtp_1d"), rtpSnapshot, later))
  }

  test("a failing report write is rethrown only after the other report tables are written") {
    val p = tiersOnly()
    // checkpointed, so the analyzer cannot resolve `type` below the drop
    val untyped = players.drop("type").localCheckpoint()
    val err = intercept[AnalysisException](Pipeline.runReportsDay(spark, untyped, p, day, now))
    assert(err.getMessage.contains("`type`"), err.getMessage)
    assert(!new java.io.File(p.newRegister1d).exists(), "new_register_summary_1d written")
    otherReports.filter(_._1 != "new_register_summary_1d")
      .foreach { case (t, want) => assertSameTable(t, read(p, t), want) }
    assertSameTable("risk_ctrl_rtp_1d", read(p, "risk_ctrl_rtp_1d"),
      RiskCtrl.rtpLedgerMerge(rtpSnapshot.limit(0), rtpSnapshot, now))
  }

  test("every tier read prunes on its summary_date partitions") {
    val tiers = Seq("trans_summary_5min", "trans_summary_1h", "trans_summary_1d",
      "player_summary_5min", "player_summary_1h", "player_summary_1d")
    val scans = plans.flatMap(p => collectWithSubqueries(p) { case s: FileSourceScanExec => s })
      .flatMap(s => s.relation.location.rootPaths.map(_.getName).filter(tiers.contains).map(_ -> s))
    assert(scans.map(_._1).toSet === tiers.toSet, "tiers read")
    scans.foreach { case (t, s) =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "summary_date")),
        s"$t read without a summary_date partition filter:\n$s")
    }
  }
}
