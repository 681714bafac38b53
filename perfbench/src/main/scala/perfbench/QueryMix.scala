package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** query_mix: a closed loop with one client over a fixed, named list of
  * registered queries. After an untimed warm-up on two other queries, passes
  * over the list repeat until the run's seconds are used (at least one pass).
  * Each query writes its result once, to its own staged output; the timed
  * operation is plan + execute + write. Every result's row count and content
  * hash must equal the values recorded for the fixture at the commit that
  * defined the benchmark.
  *
  * The fixture (the repository's test tables) and the order are fixed, so
  * the seed does not change this workload: a seeded order makes each
  * query's time depend on how warm the JVM is when it runs (medians moved by
  * a quarter between seeds).
  */
object QueryMix extends Workload {
  val List: Seq[String] = Seq(
    // the heaviest at the defining commit (s4_stream_interval_join, 10-18 s
    // alone, does not fit the one-hour budget for 4 + 22 runs per workload)
    "q49_communities", "q52_khop", "x67_ppjoin_pairs", "x83_dedup_sweep",
    "x88_containment_pairs", "s3_stream_dedup",
    // light ones, so the median sits in a dense cluster of similar queries
    "q1_trans_summary", "q3_clamped", "q11_set_ops", "q22_quantiles", "q23_distinct",
    "r1_trans_5min", "r3_trans_backfill",
    "x1_exact_dedup", "x5_text_stats", "x17_stratified_sample", "x24_topk_agg")

  /** Untimed warm-up: light queries outside the list (codegen, JIT). */
  val WarmUp: Seq[String] = Seq("q2_player_summary", "q4_rollup_month")

  /** Set-up: the untimed warm-up queries. */
  def prepare(spark: SparkSession, args: Args): Ctx => Outcome = {
    val outDir = s"${args.work}/query_out"
    WarmUp.foreach(n =>
      SparkEntry.queries(n)(spark, args.data).write.mode("overwrite").parquet(s"$outDir/$n"))
    run(_, outDir)
  }

  private def run(ctx: Ctx, outDir: String): Outcome = {
    val spark = ctx.spark
    val data = ctx.args.data
    val expected = Expected.load(ctx.args.expected)
    val queries = SparkEntry.queries
    var failed = 0L

    def once(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try {
        ctx.span("query", name) {
          queries(name)(spark, data).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        true
      } catch { case e: Exception =>
        System.err.println(s"QUERY FAILED $name: $e")
        false
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (!ok) { failed += 1; None }
      else {
        val got = ctx.checking(Hashes.of(spark.read.parquet(s"$outDir/$name")))
        if (ctx.args.record) Expected.put(name, got)
        else ctx.check(expected.get(name).contains(got),
          s"$name result ${got} != recorded ${expected.get(name)}")
        Some(s)
      }
    }

    if (ctx.args.record) {
      List.foreach(once)
      Expected.save(ctx.args.expected)
      return Outcome(List.size, failed, Seq(1.0), 1.0, Nil, Map.empty)
    }

    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    var attempted = 0L
    var passes = 0
    ctx.startWindow()
    val t0 = System.nanoTime()
    do {
      List.foreach { name =>
        attempted += 1
        once(name).foreach(s => samples += name -> s)
      }
      passes += 1
    } while ((System.nanoTime() - t0) / 1e9 < ctx.args.seconds)
    ctx.endWindow()

    val times = samples.map(_._2).toSeq
    val perQuery = samples.groupBy(_._1).map { case (n, xs) => n -> Stats.median(xs.map(_._2).toSeq) }
    def family(f: Char) = perQuery.filter(_._1.head == f).values.sum
    val (tail, pct, n) = Stats.tail(times)
    val jobsPerQuery: Seq[Double] = ctx.meter match {
      case c: Collector => ctx.tracer.spans.filter(_.layer == "query")
        .filter(_.startUs >= ctx.windowUs._1).map(s =>
        c.jobs.count(j => j.startUs >= s.startUs && j.startUs < s.endUs).toDouble)
      case _ => Nil
    }
    Outcome(
      attempted = attempted,
      failed = failed,
      opSamples = times,
      throughputPerS = times.size / times.sum,
      report = Seq(
        "query_p50_s" -> Stats.median(times),
        "query_tail_s" -> tail,
        "query_tail_percentile" -> pct, "query_samples" -> n,
        "query_total_s" -> perQuery.values.sum,
        "passes" -> passes, "queries" -> List.size),
      layers = Map(
        "query.family_q_s" -> family('q'),
        "query.family_r_s" -> family('r'),
        "query.family_x_s" -> family('x'),
        "query.family_s_s" -> family('s')) ++
        (if (jobsPerQuery.nonEmpty) Map("query.jobs_p50" -> Stats.median(jobsPerQuery))
         else Map.empty))
  }

  /** Recorded (rows, hash) per query, as `name rows hash` lines. */
  object Expected {
    private val recorded = mutable.LinkedHashMap.empty[String, (Long, BigDecimal)]
    def put(name: String, v: (Long, BigDecimal)): Unit = recorded(name) = v
    def save(path: String): Unit = {
      val w = new java.io.PrintWriter(path, "UTF-8")
      try recorded.foreach { case (n, (r, h)) => w.println(s"$n $r $h") } finally w.close()
    }
    def load(path: String): Map[String, (Long, BigDecimal)] = {
      val f = new java.io.File(path)
      if (!f.exists) Map.empty
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.trim.nonEmpty).map { l =>
          val Array(n, r, h) = l.trim.split("\\s+")
          n -> (r.toLong, BigDecimal(h))
        }.toMap finally src.close()
      }
    }
  }
}
