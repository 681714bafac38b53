package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, YearMonth}

import scala.collection.mutable

import graft.etl.{Pipeline, Schemas}
import graft.io.Sinks
import graft.orchestrate.TaskLedger
import graft.orchestrate.TaskLedger.ReportDef
import graft.time.Slicer
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** cascade_catchup: the production job in catch-up mode, one caller.
  *
  * The task board is bootstrapped, one producer cycle publishes the whole
  * backlog, and each day is drained through the trans, player and reports
  * calls, with its slices marked done as the dependency gate releases them.
  * Then the month rolls up, the 5-min tiers are compacted, and a late-data
  * rerun request for trans_summary re-executes the first day's trans
  * cascade and the month over existing partitions.
  * Whole catch-up cycles repeat, each into a fresh warehouse, until the
  * run's seconds are used (at least one cycle).
  */
object Cascade extends Workload {
  val First: LocalDate = LocalDate.of(2024, 1, 1)

  val reports: Seq[ReportDef] = for {
    (cls, tiers) <- Seq(
      "trans_summary" -> Seq("5min" -> 100, "1H" -> 200, "1D" -> 300, "1M" -> 400),
      "player_summary" -> Seq("5min" -> 100, "1H" -> 200, "1D" -> 300, "1M" -> 400),
      "risk_ctrl" -> Seq("1D" -> 500),
      "new_register" -> Seq("1D" -> 500))
    (freq, level) <- tiers
  } yield ReportDef(cls, s"${cls}_${freq.toLowerCase}", freq, level)

  /** Which finished tier releases which coarse report: (report_class of the
    * finer tier, its freq, assignee of the coarse task it counts toward). */
  private val depEdges = Seq(
    ("trans_summary", "5min", "trans_summary_1h"), ("trans_summary", "1H", "trans_summary_1d"),
    ("trans_summary", "1D", "trans_summary_1m"), ("player_summary", "5min", "player_summary_1h"),
    ("player_summary", "1H", "player_summary_1d"), ("player_summary", "1D", "player_summary_1m"),
    ("player_summary", "1H", "risk_ctrl_1d"), ("player_summary", "1H", "new_register_1d"))

  private def ts(d: LocalDate): Timestamp = Timestamp.valueOf(d.atStartOfDay())

  /** Set-up: the input reads. */
  def prepare(spark: SparkSession, args: Args): Ctx => Outcome = {
    val in = s"${args.work}/cascade"
    val days = new java.io.File(s"$in/value_log").list().count(_.startsWith("trade_date="))
    val valueLog = spark.read.parquet(s"$in/value_log")
    val profitLog = spark.read.parquet(s"$in/profit_log")
    val players = spark.read.parquet(s"$in/player")
    val gameSites = spark.read.parquet(s"$in/game_sites")
    val inputBytes = Files.bytes(s"$in/value_log") + Files.bytes(s"$in/profit_log")
    ctx => run(ctx, days, valueLog, profitLog, players, gameSites, inputBytes)
  }

  private def run(ctx: Ctx, days: Int, valueLog: DataFrame, profitLog: DataFrame,
      players: DataFrame, gameSites: DataFrame, inputBytes: Long): Outcome = {

    val daySamples = mutable.ArrayBuffer.empty[Double]
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    ctx.startWindow()
    val t0 = System.nanoTime()
    do {
      cycles += new Cycle(ctx, cycles.size, days, valueLog, profitLog, players, gameSites)
        .run(daySamples)
    } while ((System.nanoTime() - t0) / 1e9 < ctx.args.seconds)
    ctx.endWindow()

    val drainS = cycles.map(_.drainS).sum
    val slices = cycles.map(_.slices).sum
    val reportBytes = ctx.meter.bytesWritten("etl") + ctx.meter.bytesWritten("sink")
    val writeAmp = reportBytes.toDouble / (inputBytes * cycles.size)
    def sum(f: Cycle => Double) = cycles.map(f).sum
    Outcome(
      attempted = cycles.map(_.ops).sum,
      failed = 0,
      opSamples = daySamples.toSeq,
      throughputPerS = slices / drainS,
      report = Seq(
        "catchup_slices_per_s" -> slices / drainS,
        "catchup_day_p50_s" -> Stats.median(daySamples.toSeq),
        "catchup_write_amp" -> writeAmp,
        "cycles" -> cycles.size, "days_per_cycle" -> days,
        "drain_s" -> drainS, "slices" -> slices,
        "rerun_day_s" -> Stats.median(cycles.map(_.rerunDayS).toSeq)),
      layers = Map(
        "ledger.produce_s" -> sum(_.produceS),
        "ledger.gate_s" -> sum(_.gateS),
        "ledger.mark_done_s" -> sum(_.markS),
        "ledger.slices" -> slices.toDouble,
        "ledger.gate_release_ratio" -> sum(_.released) / sum(_.gated),
        "etl.trans_day_s" -> sum(_.transS),
        "etl.player_day_s" -> sum(_.playerS),
        "etl.reports_day_s" -> sum(_.reportsS),
        "etl.month_s" -> sum(_.monthS),
        "sink.compact_s" -> sum(_.compactS),
        "sink.write_amp" -> writeAmp))
  }

  /** One catch-up cycle into its own warehouse and ledger. */
  final class Cycle(ctx: Ctx, n: Int, days: Int, valueLog: DataFrame, profitLog: DataFrame,
      players: DataFrame, gameSites: DataFrame) {
    private val spark = ctx.spark
    import spark.implicits._
    private val paths = Pipeline.Paths(ctx.path(s"cascade/out/c$n/warehouse"))
    private val ledgerDir = ctx.path(s"cascade/out/c$n/ledger")
    private val now = ts(First.plusDays(days))
    private var version = 0

    var drainS, produceS, gateS, markS, transS, playerS, reportsS, monthS, compactS,
      rerunDayS = 0.0
    var gated, released = 0.0
    var slices = 0L
    var ops = 0L

    private def timed[T](layer: String, name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = ctx.span(layer, name)(body)
      ops += 1
      (r, (System.nanoTime() - t0) / 1e9)
    }

    private def board: DataFrame = spark.read.parquet(s"$ledgerDir/board_v$version")

    private def boardCols(df: DataFrame): DataFrame =
      df.select(Schemas.taskBoard.fields.toSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)

    private def markDone(completed: DataFrame): Unit = {
      val next = TaskLedger.markDone(board, completed, now)
      version += 1
      Sinks.append(boardCols(next), s"$ledgerDir/board_v$version")
    }

    private def depsAligned(b: DataFrame): DataFrame =
      b.filter(col("done") === 1)
        .join(depEdges.toDF("report_class", "freq_type", "target"), Seq("report_class", "freq_type"))
        .withColumn("assignee", col("target")).drop("target")

    /** Gate the undone coarse tasks matching `scope`; returns the cached
      * gate output. */
    private def gate(scope: Column): DataFrame = {
      val b = board.cache()
      val tasks = b.filter(col("done") === 0 && col("freq_type") =!= "5min" && scope)
      val g = TaskLedger.gateWithBypass(tasks, depsAligned(b)).cache()
      val counts = g.agg(count(lit(1)), sum(col("matched"))).head
      gated += counts.getLong(0)
      released += Option(counts.get(1)).map(_.toString.toDouble).getOrElse(0.0)
      b.unpersist()
      g
    }

    private def dayScope(d: LocalDate): Column =
      col("gte_time") >= lit(ts(d)) && col("lt_time") <= lit(ts(d.plusDays(1)))

    def run(daySamples: mutable.ArrayBuffer[Double]): Cycle = {
      val t0 = System.nanoTime()
      // bootstrap, one producer cycle publishing the whole backlog, first gate
      produceS += timed("ledger", "produce") {
        Sinks.append(boardCols(TaskLedger.initTaskList(spark, reports, s"$First 00:00:00")),
          s"$ledgerDir/board_v0")
        val wm = TaskLedger.watermarkScan(board)
        Sinks.append(boardCols(TaskLedger.newTasks(wm, now)), s"$ledgerDir/board_v0")
      }._2
      val published = ctx.checking(board.count())
      // the dep log of the published backlog (FilterNotMatched); later gates
      // only release tasks
      gateS += timed("ledger", "gate") {
        val b = board
        val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq()))
        Sinks.append(TaskLedger.refreshDepLog(none,
          TaskLedger.gateWithBypass(b.filter(col("done") === 0), depsAligned(b))),
          s"$ledgerDir/dep_log")
      }._2

      for (i <- 0 until days) {
        val d = First.plusDays(i)
        val (_, tt) = timed("etl", "trans_day")(Pipeline.runTransDay(spark, valueLog, paths, d))
        val (_, tp) = timed("etl", "player_day")(
          Pipeline.runPlayerDay(spark, profitLog, gameSites, paths, d))
        val (_, tr) = timed("etl", "reports_day")(
          Pipeline.runReportsDay(spark, players, paths, d, now))
        transS += tt; playerS += tp; reportsS += tr
        daySamples += tt + tp + tr
        markS += timed("ledger", "mark_done")(
          markDone(board.filter(col("freq_type") === "5min" && dayScope(d))))._2
        // 1H tasks are released by their twelve 5-min slices, 1D by 24 hours
        for (_ <- 0 until 2) {
          val (g, tg) = timed("ledger", "gate")(gate(dayScope(d)))
          gateS += tg
          markS += timed("ledger", "mark_done")(markDone(g.filter(col("matched") === 1)))._2
          g.unpersist()
        }
      }

      // 1M tasks are realtime: re-run every cycle while the month is open,
      // without waiting for the gate (which needs every day of the month)
      val month = YearMonth.from(First)
      monthS += timed("etl", "month")(Pipeline.runMonth(spark, paths, month))._2
      markS += timed("ledger", "mark_done")(
        markDone(board.filter(col("freq_type") === "1M" && col("done") === 0)))._2
      drainS += (System.nanoTime() - t0) / 1e9

      val dayInts = (0 until days).map(i =>
        First.plusDays(i).format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toInt)
      def hashes(tables: Seq[String]) =
        ctx.checking(tables.map(t => t -> Hashes.of(spark.read.parquet(t))).toMap)
      val fiveMinTiers = Seq(paths.trans5min, paths.player5min)
      val beforeCompact = hashes(fiveMinTiers)
      compactS += timed("sink", "compact") {
        fiveMinTiers.foreach(p => Sinks.compactSlices(spark, p, "summary_date", dayInts))
      }._2
      // the rerun rewrites the trans cascade and both month tables
      val rerunTables = Seq(paths.trans5min, paths.trans1h, paths.trans1d,
        s"${paths.base}/trans_summary_1m", s"${paths.base}/player_summary_1m")
      val beforeRerun = hashes(rerunTables)
      fiveMinTiers.foreach { p =>
        val after = beforeRerun.getOrElse(p, hashes(Seq(p))(p))
        ctx.check(after == beforeCompact(p), s"compaction changed $p")
      }

      val t1 = System.nanoTime()
      val rerunSlices = timed("ledger", "cascade_rerun") {
        val requests = Seq(
          ("ALL", "ALL", "ALL", "trans_summary", ts(First), ts(First.plusDays(1)), 1, 1, 1, 1))
          .toDF("platform", "site_code", "game_code", "report_class", "gte_time", "lt_time",
            "5min", "1h", "1d", "1m")
        val tasks = Slicer.explodeSlices(Slicer.cascadeRerun(requests))
        Sinks.append(boardCols(tasks.withColumn("done", lit(0))), s"$ledgerDir/rerun_board")
        spark.read.parquet(s"$ledgerDir/rerun_board").count()
      }._1
      val (_, r1) = timed("etl", "trans_day")(Pipeline.runTransDay(spark, valueLog, paths, First))
      val (_, r2) = timed("etl", "month")(Pipeline.runMonth(spark, paths, month))
      transS += r1; monthS += r2
      rerunDayS = r1
      markS += timed("ledger", "mark_done") {
        val rb = spark.read.parquet(s"$ledgerDir/rerun_board")
        Sinks.append(boardCols(TaskLedger.markDone(rb, rb, now)), s"$ledgerDir/rerun_board_done")
      }._2
      drainS += (System.nanoTime() - t1) / 1e9

      hashes(rerunTables).foreach { case (p, h) =>
        ctx.check(h == beforeRerun(p), s"rerun changed $p")
      }
      val finished = ctx.checking(board.filter(col("done") === 1).count())
      ctx.check(finished == published, s"$finished of $published published slices done")
      slices = finished + rerunSlices
      ctx.checking(checkTierSums())
      this
    }

    /** Amount sums agree from the raw log through every tier. */
    private def checkTierSums(): Unit = {
      def sums(p: String, cs: Seq[String]): Seq[Double] = {
        val r = spark.read.parquet(p).agg(sum(lit(0)), cs.map(c => sum(col(c))): _*).head
        cs.indices.map(i => Option(r.get(i + 1)).map(_.toString.toDouble).getOrElse(0.0))
      }
      def close(a: Seq[Double], b: Seq[Double]) = a.zip(b).forall { case (x, y) =>
        math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(x))
      }
      val trans = Seq("trans_in_amount", "trans_out_amount", "trans_in_count", "trans_out_count")
      val raw = valueLog.filter(col("trade_status") === "SUCCESS").agg(
        sum(when(col("trade_type") === "IN", col("value")).otherwise(0)),
        sum(when(col("trade_type") === "OUT", col("value")).otherwise(0)),
        sum(when(col("trade_type") === "IN", 1L).otherwise(0L)),
        sum(when(col("trade_type") === "OUT", 1L).otherwise(0L))).head
      val rawSums = (0 until 4).map(i => raw.get(i).toString.toDouble)
      val player = Seq("b_amount", "b_count", "w_amount", "profit_amount")
      for ((tierSet, cs, expected) <- Seq(
          (Seq("trans_summary_5min", "trans_summary_1h", "trans_summary_1d",
            "trans_summary_1m"), trans, Some(rawSums)),
          (Seq("player_summary_5min", "player_summary_1h", "player_summary_1d",
            "player_summary_1m"), player, None))) {
        val got = tierSet.map(t => t -> sums(s"${paths.base}/$t", cs))
        val base = expected.getOrElse(got.head._2)
        got.foreach { case (t, s) => ctx.check(close(s, base), s"$t sums $s != $base") }
      }
    }
  }
}

/** Content hash of a table, independent of row order and file layout;
  * doubles are rounded to 1e-6 first (the project's canonical form). */
object Hashes {
  def of(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.toSeq.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(c), 6)
        case _: ArrayType | _: MapType | _: StructType => to_json(struct(col(c)))
        case _ => col(c)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

object Files {
  def bytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => bytes(x.getPath)).sum).getOrElse(0L)
  }
}
