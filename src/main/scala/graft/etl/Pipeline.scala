package graft.etl

import graft.io.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The executor's end-to-end daily run, as a library: raw logs -> 5min ->
  * 1h -> 1d (-> 1m) materialized tiers + the three risk reports + the
  * new-register report, every tier landing as dynamic-partition-overwritten
  * parquet (idempotent re-runs, SURVEY §3.2).
  *
  * Tier handoff goes THROUGH the sink (each tier re-reads the parquet the
  * previous tier wrote), exactly like the reference's report DB — this is
  * what makes slices independently re-runnable and lets the 1h tier run on a
  * different schedule (or cluster) than the 5min tier.
  *
  * Execution model per day: the 5min tier uses the one-pass backfill
  * aggregation; coarser tiers aggregate the materialized tier below, so each
  * cascade's 5min -> 1h -> 1d chain stays serial through the sink. All tiers
  * partition on summary_date. The four report tables of a day and the two
  * month rollups each read only tiers that are already materialized and
  * write a table no other of them reads, so `runReportsDay` and `runMonth`
  * write theirs concurrently and return once every write is done: at this
  * scale fixed per-job overhead, not data, sets the time, and overlapping
  * independent jobs fills the cores one job leaves idle. The writer threads
  * are created per call, so each inherits the caller's Spark local
  * properties (job group, tags) and none carries a stale SQL execution id
  * from an earlier use.
  */
object Pipeline {

  case class Paths(base: String) {
    val trans5min = s"$base/trans_summary_5min"
    val trans1h = s"$base/trans_summary_1h"
    val trans1d = s"$base/trans_summary_1d"
    val player5min = s"$base/player_summary_5min"
    val player1h = s"$base/player_summary_1h"
    val player1d = s"$base/player_summary_1d"
    val riskPlayer1d = s"$base/risk_ctrl_player_1d"
    val riskGame1d = s"$base/risk_ctrl_game_1d"
    val riskRtp1d = s"$base/risk_ctrl_rtp_1d"
    val newRegister1d = s"$base/new_register_summary_1d"
  }

  private def ts(x: java.time.LocalDateTime) = java.sql.Timestamp.valueOf(x)

  private def daySlice(day: java.time.LocalDate): TaskSlice = TaskSlice(freq_type = "1D",
    gte_time = ts(day.atStartOfDay()), lt_time = ts(day.plusDays(1).atStartOfDay()))

  private def write(df: DataFrame, path: String): Unit =
    Sinks.overwriteSlices(df, path, Seq("summary_date"))

  /** Runs every write on a thread of its own, waits for all of them, then
    * rethrows the first failure (in argument order; later ones ride along as
    * suppressed). Each write builds its frame on its thread, so a branch that
    * fails at analysis never stops the others. */
  private def concurrently(writes: (() => Unit)*): Unit = {
    val failures = Array.fill[Option[Throwable]](writes.size)(None)
    val threads = writes.zipWithIndex.map { case (w, i) =>
      new Thread(() => try w() catch { case e: Throwable => failures(i) = Some(e) },
        s"graft-pipeline-write-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.flatten.toList match {
      case first :: rest => rest.foreach(first.addSuppressed); throw first
      case Nil =>
    }
  }

  /** One day of a cascade: the 5min tier in one pass over the raw log, then
    * the day's whole 1h tier in one aggregation over the 5min tier it wrote,
    * then the 1d tier over the 1h tier. */
  private def runDay(spark: SparkSession, day: java.time.LocalDate,
      fiveMin: TaskSlice => DataFrame, rollup: (DataFrame, String, TaskSlice) => DataFrame,
      fiveMinPath: String, hourPath: String, dayPath: String): Unit = {
    val slice = daySlice(day)
    // each tier is read back with the schema of the frame just written, which
    // skips the parquet footer-inference job of a schema-less read
    def writeAndReread(df: DataFrame, path: String): DataFrame = {
      write(df, path)
      spark.read.schema(df.schema).parquet(path)
    }
    val fiveMinTier = writeAndReread(fiveMin(slice), fiveMinPath)
    val hourTier = writeAndReread(rollup(fiveMinTier, "1H", slice), hourPath)
    write(rollup(hourTier, "1D", slice), dayPath)
  }

  /** Run one day of the trans_summary cascade end-to-end. */
  def runTransDay(spark: SparkSession, valueLog: DataFrame, paths: Paths,
      day: java.time.LocalDate): Unit =
    runDay(spark, day, s => TransSummary.fiveMinRange(valueLog, s.gteStr, s.ltStr),
      TransSummary.rollup, paths.trans5min, paths.trans1h, paths.trans1d)

  /** Run one day of the player_summary cascade end-to-end. */
  def runPlayerDay(spark: SparkSession, profitLog: DataFrame, gameSites: DataFrame,
      paths: Paths, day: java.time.LocalDate, cfg: RtpConfig = RtpConfig()): Unit =
    runDay(spark, day, s => PlayerSummary.fiveMinRange(profitLog, gameSites, s.gteStr, s.ltStr, cfg),
      PlayerSummary.rollup(_, _, _, cfg), paths.player5min, paths.player1h, paths.player1d)

  /** Monthly rollup for both cascades (consumes the materialized 1d tiers;
    * re-run every cycle while the month is open, exactly like the reference's
    * realtime 1m tasks — idempotent via partition overwrite). */
  def runMonth(spark: SparkSession, paths: Paths, month: java.time.YearMonth): Unit = {
    val slice = TaskSlice(freq_type = "1M", gte_time = ts(month.atDay(1).atStartOfDay()),
      lt_time = ts(month.plusMonths(1).atDay(1).atStartOfDay()))
    concurrently(
      () => Sinks.overwriteSlices(TransSummary.rollup(spark.read.parquet(paths.trans1d), "1M", slice),
        s"${paths.base}/trans_summary_1m", Seq("summary_month")),
      () => Sinks.overwriteSlices(PlayerSummary.rollup(spark.read.parquet(paths.player1d), "1M", slice),
        s"${paths.base}/player_summary_1m", Seq("summary_month")))
  }

  /** Risk + registration reports for one day (consume the materialized
    * tiers), the four tables written concurrently. */
  def runReportsDay(spark: SparkSession, players: DataFrame, paths: Paths,
      day: java.time.LocalDate, now: java.sql.Timestamp): Unit = {
    val slice = daySlice(day)
    val ps1h = spark.read.parquet(paths.player1h)
    val ps1d = spark.read.parquet(paths.player1d)
    val ts1h = spark.read.parquet(paths.trans1h)
    val ts1d = spark.read.parquet(paths.trans1d)
    val ps5 = spark.read.parquet(paths.player5min)

    def rtpLedger(): Unit = {
      val snapshot = RiskCtrl.rtpSnapshot(ps1h, slice)
      val old = Sinks.readOrEmpty(spark, paths.riskRtp1d, snapshot.schema)
      // the ledger merge operates on THIS day's partition (the reference reads
      // WHERE summary_date = d); first run has no ledger columns yet -> empty
      val oldForDay =
        if (old.columns.contains("alert_count")) old.filter(col("summary_date") === slice.dateInt)
        else old.limit(0)
      // The merge below dynamic-partition-overwrites the SAME path the ledger
      // was just read from. Path-based V1 overwrites bypass Spark's
      // cannot-overwrite-a-read-path guard, and a failed/retried write job
      // could lose the day's alert state. localCheckpoint() materializes the
      // old rows BEFORE the target partitions are replaced, cutting the lineage
      // back to the files being overwritten.
      val oldMaterialized = oldForDay.localCheckpoint()
      write(RiskCtrl.rtpLedgerMerge(oldMaterialized, snapshot, now), paths.riskRtp1d)
    }

    concurrently(
      () => write(RiskCtrl.playerOneDay(ps1h, ts1h, ps1d, ts1d, slice), paths.riskPlayer1d),
      () => write(RiskCtrl.gameOneDay(ps1h, ps1d, slice), paths.riskGame1d),
      () => rtpLedger(),
      () => write(NewRegisterSummary.oneDay(ps5, players, slice), paths.newRegister1d))
  }
}
