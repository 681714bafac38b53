package perfbench

/** Per-layer figures of the traced run: engine totals from the listener,
  * write commands by output table, and each layer's self time. Layers the
  * workload does not touch are left out; the runner reports them as 0. */
object Layers {
  val Tables = Seq("trans_summary_5min", "trans_summary_1h", "trans_summary_1d",
    "trans_summary_1m", "player_summary_5min", "player_summary_1h", "player_summary_1d",
    "player_summary_1m", "risk_ctrl_player_1d", "risk_ctrl_game_1d", "risk_ctrl_rtp_1d",
    "new_register_summary_1d")

  def of(ctx: Ctx, outcome: Outcome): Map[String, Double] = {
    val c = ctx.meter.asInstanceOf[Collector]
    val (w0, w1) = ctx.windowUs
    // the benchmark's own output checks are not the program's time
    val wallS = (w1 - w0) / 1e6 - ctx.checkS
    val jobs = c.jobs.filter(j => j.startUs >= w0 - 1000 && j.startUs <= w1).toSeq
    val jobIv = jobs.map(j => (math.max(j.startUs, w0), math.min(j.endUs, w1)))
    val engine = Map(
      "engine.jobs" -> jobs.size.toDouble,
      "engine.driver_only_s" -> (wallS - Stats.unionUs(jobIv) / 1e6),
      "engine.stages" -> c.stages.toDouble,
      "engine.tasks" -> c.tasks.toDouble,
      "engine.task_run_s" -> c.taskRunMs / 1e3,
      "engine.task_cpu_s" -> c.taskCpuNs / 1e9,
      "engine.gc_s" -> c.gcMs / 1e3,
      "engine.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "engine.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "engine.spill_bytes" -> c.spill.toDouble,
      "engine.busy_share" -> (c.taskRunMs / 1e3) / (wallS * ctx.args.cores),
      "query.checkpoint_jobs" -> jobs.count(c.isCheckpoint).toDouble)

    val reportWrites = c.writes.filter(w => Tables.contains(tableOf(w.path)))
    val tiers = Tables.flatMap { t =>
      val ws = reportWrites.filter(w => tableOf(w.path) == t)
      Seq(s"tier.${short(t)}_s" -> ws.map(w => w.endUs - w.startUs).sum / 1e6,
        s"tier.${short(t)}_rows" -> ws.map(_.rows).sum.toDouble)
    }
    val sink = Map(
      "sink.bytes_written" -> c.writes.map(_.bytes).sum.toDouble,
      "sink.files_written" -> c.writes.map(_.files).sum.toDouble)

    val jobSpans = jobs.map(j => Span(0, 0, "engine", j.site, j.startUs, j.endUs))
    val all = Tracer.withJobs(ctx.tracer.spans, jobSpans.zipWithIndex.map {
      case (s, i) => s.copy(id = -1L - i) })
    Tracer.write(all, s"${ctx.args.out}.spans.jsonl")
    val self = Tracer.selfTimeS(all).map { case (l, s) => s"self.${l}_s" -> s }

    engine ++ tiers ++ sink ++ stream(ctx) ++ self ++ outcome.layers ++ Map(
      "trace.spans" -> all.size.toDouble)
  }

  /** Streaming figures from every query progress in the window (the stream
    * workload's own figures, which know its files, take precedence). */
  def stream(ctx: Ctx): Map[String, Double] = {
    val ps = ctx.progress.synchronized(ctx.progress.toSeq).map(_.progress)
      .filter(_.durationMs.containsKey("addBatch"))
    if (ps.isEmpty) return Map.empty
    val state = ps.flatMap(_.stateOperators)
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.empty_batches" -> ps.count(_.numInputRows == 0).toDouble,
      "stream.batch_p50_s" ->
        Stats.median(ps.map(_.durationMs.get("triggerExecution").longValue / 1e3)),
      "stream.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "stream.state_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble,
      "stream.state_commit_s" -> state.map(_.commitTimeMs).sum / 1e3,
      "stream.rows_dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark).sum.toDouble)
  }

  def tableOf(path: String): String = path.stripSuffix("/").split('/').last

  /** trans_summary_5min -> trans_5min, risk_ctrl_player_1d -> risk_player_1d. */
  def short(table: String): String =
    table.replace("_summary", "").replace("risk_ctrl", "risk")
}
