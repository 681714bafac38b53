package perfbench

import java.io.File
import java.nio.file.{Files => NioFiles, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.etl.TransSummary
import graft.streaming.StreamingSummary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** stream_5min: the realtime 5-min tier as an open loop.
  *
  * Pre-built files, one per simulated 5-minute slice, land in the source
  * directory by atomic rename on a fixed wall-clock schedule that does not
  * wait for the engine. `StreamingSummary.startTransFiveMin` aggregates them
  * with a 10-minute watermark into the `Sinks.upsertSlices` sink. A file's
  * latency runs from its due time to the end of the batch that committed
  * it; the file-to-batch mapping comes from the source log under the
  * checkpoint directory.
  */
object StreamFiveMin extends Workload {

  /** Source-log and offset-log readers for the streaming checkpoint. */
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r
  private val WatermarkRe = "\"batchWatermarkMs\":(\\d+)".r

  /** File name -> batch id, from every source-log file (incl. compactions). */
  def fileBatches(ckpt: String): Map[String, Long] = {
    val dir = new File(s"$ckpt/sources/0")
    Option(dir.listFiles).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => readLines(f)).flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
  }

  private def committed(ckpt: String): Set[Long] =
    Option(new File(s"$ckpt/commits").list).toSeq.flatten
      .filter(_.forall(_.isDigit)).map(_.toLong).toSet

  private def watermarkMs(ckpt: String, batch: Long): Long =
    if (batch < 0) 0L
    else readLines(new File(s"$ckpt/offsets/$batch")).flatMap(WatermarkRe.findFirstMatchIn)
      .headOption.map(_.group(1).toLong).getOrElse(0L)

  private def readLines(f: File): Seq[String] =
    try NioFiles.readAllLines(f.toPath).asScala.toSeq
    catch { case _: java.io.IOException => Nil }

  /** Set-up is the session start alone; the warm-up batch runs first in
    * `run`, because the stream query must stay up through the window. */
  def prepare(spark: SparkSession, args: Args): Ctx => Outcome = run

  private def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val staged = new File(ctx.path("stream/staged")).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val src = ctx.path("stream/src")
    val table = ctx.path("stream/table")
    val ckpt = ctx.path("stream/checkpoint")
    new File(src).mkdirs()
    val schema = spark.read.parquet(staged.head.getPath).schema
    val query = StreamingSummary.startTransFiveMin(
      spark.readStream.schema(schema).parquet(src), table, ckpt)

    def land(f: File): Unit = NioFiles.move(f.toPath, Paths.get(src, f.getName),
      StandardCopyOption.ATOMIC_MOVE)
    def awaitCommitted(n: Int, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      def done = {
        val c = committed(ckpt)
        fileBatches(ckpt).values.count(c.contains) >= n
      }
      while (!done && System.nanoTime() < deadline && query.isActive) Thread.sleep(20)
      done
    }

    // warm-up: the first file lands and commits before the window opens
    land(staged.head)
    require(awaitCommitted(1, 120), "warm-up batch did not commit")
    Main.phase("warm-up batch committed")

    val timed = staged.tail
    val intervalUs = ctx.args.seconds * 1e6 / timed.size
    ctx.startWindow()
    val startUs = Clock.nowUs + 100000L
    val dueUs = timed.indices.map(i => startUs + (i * intervalUs).toLong)
    val landUs = new Array[Long](timed.size)
    val scheduler = new Thread(() => {
      for (i <- timed.indices) {
        val waitUs = dueUs(i) - Clock.nowUs
        if (waitUs > 0) Thread.sleep(waitUs / 1000, ((waitUs % 1000) * 1000).toInt)
        land(timed(i))
        landUs(i) = Clock.nowUs
      }
    }, "perfbench-lander")
    scheduler.start()
    scheduler.join()
    val allIn = awaitCommitted(staged.size, 60)
    ctx.endWindow()
    Main.phase("all files committed")
    query.stop()
    Main.phase("stream stopped")
    ctx.check(allIn, "not every landed file was committed within 60 s")

    // executed batches (idle-trigger reports carry no addBatch)
    val batches: Map[Long, StreamingQueryProgress] = ctx.progress.synchronized(ctx.progress.toSeq)
      .map(_.progress).filter(_.durationMs.containsKey("addBatch"))
      .map(p => p.batchId -> p).toMap
    def endUs(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L +
        p.durationMs.get("triggerExecution").longValue * 1000L
    batches.values.foreach(p => ctx.tracer.add("stream", s"batch ${p.batchId}",
      endUs(p) - p.durationMs.get("triggerExecution").longValue * 1000L, endUs(p)))

    val log = new java.io.PrintWriter(ctx.path("stream/progress.jsonl"), "UTF-8")
    try batches.toSeq.sortBy(_._1).foreach { case (_, p) => log.println(p.json) } finally log.close()
    val batchOf = fileBatches(ckpt)
    val latencies = timed.indices.flatMap { i =>
      batchOf.get(timed(i).getName).flatMap(batches.get).map(p => (endUs(p) - dueUs(i)) / 1e6)
    }
    ctx.check(latencies.size == timed.size,
      s"${timed.size - latencies.size} landed files have no committed batch")
    val timedBatches = timed.flatMap(f => batchOf.get(f.getName)).distinct.flatMap(batches.get)
    val rowsPerFile = timedBatches.map(_.numInputRows).sum.toDouble / timed.size
    val busyS = timedBatches.map(_.durationMs.get("triggerExecution").longValue).sum / 1e3
    val capacity = timedBatches.map(_.numInputRows).sum / busyS

    checkAgainstBatch(ctx, staged, batchOf, ckpt, table, schema)
    Main.phase("output checked")

    val ops = batches.toSeq.sortBy(_._1).map(_._2)
    val stateOps = ops.flatMap(_.stateOperators.headOption)
    val commitUs = timed.flatMap(f => batchOf.get(f.getName).flatMap(batches.get).map(endUs))
    val backlogPeak = landUs.map(t => landUs.count(_ <= t) - commitUs.count(_ <= t)).max
    val (tail, _, _) = Stats.tail(latencies)
    val updated = stateOps.map(_.numRowsUpdated).sum.toDouble
    Outcome(
      attempted = timed.size + 1,
      failed = 0,
      opSamples = latencies,
      throughputPerS = capacity,
      report = Seq(
        "stream_latency_p50_s" -> Stats.median(latencies),
        "stream_latency_tail_s" -> tail,
        "stream_max_rows_per_s" -> capacity,
        "nominal_rows_per_s" -> rowsPerFile / (intervalUs / 1e6),
        "files" -> timed.size, "interval_s" -> intervalUs / 1e6),
      layers = Map(
        "stream.batches" -> ops.size.toDouble,
        "stream.empty_batches" -> ops.count(_.numInputRows == 0).toDouble,
        "stream.batch_p50_s" -> Stats.median(
          ops.map(_.durationMs.get("triggerExecution").longValue / 1e3)),
        "stream.state_rows" -> stateOps.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "stream.state_bytes" ->
          stateOps.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "stream.state_commit_s" -> stateOps.map(_.commitTimeMs).sum / 1e3,
        "stream.backlog_files_peak" -> backlogPeak.toDouble,
        "stream.generator_late_s" -> timed.indices.map(i => landUs(i) - dueUs(i)).max / 1e6,
        "stream.rows_dropped_by_watermark" -> stateOps.map(_.numRowsDroppedByWatermark).sum.toDouble,
        "sink.upsert_s" -> ops.map(_.durationMs.get("addBatch").longValue).sum / 1e3,
        "sink.upsert_rewrite_ratio" ->
          (if (updated > 0) ctx.meter.rowsWritten.values.sum / updated else 0.0)))
  }

  /** The streamed table must equal the batch 5-min aggregation over the rows
    * that arrived within the watermark. A row is late when its 5-minute
    * window ends at or before the watermark of the batch that read it (the
    * offset log's batchWatermarkMs). */
  private def checkAgainstBatch(ctx: Ctx, files: Seq[File], batchOf: Map[String, Long],
      ckpt: String, table: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val lateAfterUs = batchOf.values.toSeq.distinct
      .map(b => b -> watermarkMs(ckpt, b) * 1000L).toDF("batch", "late_us")
    val fileBatch = batchOf.toSeq.toDF("file", "batch")
    val landed = spark.read.schema(schema).parquet(files.map(f => s"${ctx.path("stream/src")}/${f.getName}"): _*)
      .withColumn("file", regexp_extract(input_file_name(), "[^/]+$", 0))
    val windowEndUs = (floor(unix_micros(col("trade_time")) / 300000000L) + 1) * 300000000L
    val onTime = landed.join(fileBatch, "file").join(lateAfterUs, "batch")
      .filter(windowEndUs > col("late_us"))
    val expected = TransSummary.fiveMinRange(onTime, "1900-01-01 00:00:00", "2100-01-01 00:00:00")
    val streamed = spark.read.parquet(table)
    val cols = streamed.columns.sorted.toSeq
    val exp = expected.select(cols.map(c => col(c).cast(streamed.schema(c).dataType).as(c)): _*)
    val (gotN, gotH) = Hashes.of(streamed.select(cols.map(col): _*))
    val (expN, expH) = Hashes.of(exp)
    ctx.check(gotN == expN && gotH == expH,
      s"streamed 5-min table ($gotN rows) != batch fiveMinRange over on-time rows ($expN rows)")
  }
}
