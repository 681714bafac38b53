package perfbench

import scala.collection.mutable

import graft.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String, cores: Int, record: Boolean, data: String, expected: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv("out"), kv("cores").toInt, kv.get("record").contains("1"),
      kv.getOrElse("data", ""), kv.getOrElse("expected", ""))
  }
}

/** What a workload measured. `opSamples` are the wall times of its unit
  * operation (a drained day, a landed file, a query), in seconds. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    opSamples: Seq[Double],
    throughputPerS: Double,
    report: Seq[(String, Any)],
    layers: Map[String, Double])

/** A workload. `prepare` is its part of set-up, after the session starts:
  * input reads and untimed warm-up, up to the first timed operation. It
  * returns the measured part. */
trait Workload {
  def prepare(spark: SparkSession, args: Args): Ctx => Outcome
}

/** Shared state of one run: the session, the tracer and the listeners. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val meter: Meter = if (args.trace) new Collector else new Meter
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val progressListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  var windowUs: (Long, Long) = (0L, 0L)
  private val checkIv = mutable.ArrayBuffer.empty[(Long, Long)]
  private val problems = mutable.ArrayBuffer.empty[String]

  def sc = spark.sparkContext
  def path(rel: String): String = s"${args.work}/$rel"

  /** Start of the measured window: listeners attach here, after warm-up. */
  def startWindow(): Unit = {
    sc.addSparkListener(meter)
    spark.streams.addListener(progressListener)
    windowUs = (Clock.nowUs, 0L)
  }

  /** End of the measured window: the listeners see nothing after it. */
  def endWindow(): Unit = {
    windowUs = (windowUs._1, Clock.nowUs)
    drain()
    sc.removeSparkListener(meter)
    spark.streams.removeListener(progressListener)
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  def span[T](layer: String, name: String)(body: => T): T =
    tracer.span(layer, name)(Tag(sc, layer)(body))

  /** Runs the Spark work of an output check under the "check" tag: the
    * collector leaves its jobs, stages and tasks out, and the window's wall
    * time leaves out its interval. */
  def checking[T](body: => T): T = {
    val start = Clock.nowUs
    try Tag(sc, Tag.Check)(body) finally checkIv += ((start, Clock.nowUs))
  }

  /** Wall time of output checks inside the measured window, in seconds. */
  def checkS: Double = {
    val (w0, w1) = windowUs
    Stats.unionUs(checkIv.toSeq.map { case (s, e) => (math.max(s, w0), math.min(e, w1)) }) / 1e6
  }

  /** Record a failed output check; it counts as one failed operation. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"CHECK FAILED: $what") }
  def failures: Seq[String] = problems.toSeq
}

object Main {
  private val started = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2f s: $what")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    phase("jvm up")
    val workload: Workload = args.workload match {
      case "cascade_catchup" => Cascade
      case "stream_5min" => StreamFiveMin
      // the build's class-data archive records query_mix's set-up
      case "query_mix" | "archive" => QueryMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var measure: Ctx => Outcome = null
    // set-up (session start + the workload's input reads and warm-up) runs
    // three times; its median is setup_s, so work moved into set-up shows
    // against a figure that one slow start does not move
    for (_ <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(args.cores, "perfbench")
      measure = workload.prepare(spark, args)
      setups += (System.nanoTime() - t0) / 1e9
    }
    phase(f"set-up done, median ${Stats.median(setups.toSeq)}%.2f s")
    if (args.workload == "archive") { // the build's class-data archive run
      spark.stop()
      val w = new java.io.PrintWriter(args.out, "UTF-8")
      try w.println("{}") finally w.close()
      return
    }
    val ctx = new Ctx(spark, args, new Tracer(args.trace))
    val outcome = measure(ctx)
    phase("workload done")
    ctx.drain()
    val failed = outcome.failed + ctx.failures.size
    val attempted = math.max(outcome.attempted, failed)
    val (tail, tailPct, n) = Stats.tail(outcome.opSamples)
    val e2e = Seq(
      "setup_s" -> Stats.median(setups.toSeq),
      "op_p50_s" -> Stats.median(outcome.opSamples),
      "op_tail_s" -> tail,
      "throughput_per_s" -> outcome.throughputPerS,
      "peak_rss_mb" -> peakRssMb)
    // the traced run's own end-to-end figures: tracing overhead is these
    // minus the untraced run's
    val layers = if (!args.trace) Map.empty[String, Double] else Layers.of(ctx, outcome) ++
      Map("trace.op_p50_s" -> e2e.toMap.apply("op_p50_s"),
        "trace.throughput_per_s" -> outcome.throughputPerS)
    val result = Json.obj(Seq(
      "workload" -> args.workload,
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> ctx.failures,
      "e2e" -> e2e.toMap,
      "tail" -> Map("percentile" -> tailPct, "samples" -> n),
      "ops_failed_ratio" -> failed.toDouble / attempted,
      "report" -> outcome.report.toMap,
      "layers" -> layers))
    val w = new java.io.PrintWriter(args.out, "UTF-8")
    try w.println(result) finally w.close()
    spark.stop()
    phase("session stopped")
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
