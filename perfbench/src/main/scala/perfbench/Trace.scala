package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Wall clock in epoch microseconds with nanoTime resolution, so benchmark
  * spans line up with the listener's epoch-millisecond job times. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One interval of the traced run. `layer` groups spans for self time. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spans around the benchmark's calls into the program. Disabled, `span`
  * only runs its body; enabled, spans are kept in memory until the end. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0L)
      open.set(id :: open.get)
      val start = Clock.nowUs
      try body
      finally {
        open.set(open.get.tail)
        done.add(Span(id, parent, layer, name, start, Clock.nowUs))
      }
    }

  /** Add a span measured elsewhere (a streaming batch). */
  def add(layer: String, name: String, startUs: Long, endUs: Long): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), 0L, layer, name, startUs, endUs))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.startUs, s.id))
}

object Tracer {
  /** Engine spans (jobs) become children of the innermost benchmark span
    * that contains their start; a layer's self time is its spans' duration
    * minus the part covered by their children. */
  def withJobs(bench: Seq[Span], jobs: Seq[Span]): Seq[Span] = {
    val linked = jobs.map { j =>
      val holder = bench.filter(b => b.startUs <= j.startUs && j.startUs < b.endUs)
      if (holder.isEmpty) j else j.copy(parent = holder.minBy(_.durUs).id)
    }
    bench ++ linked
  }

  def selfTimeS(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      // a span's own time is its interval minus its children's; spans of one
      // layer can overlap (concurrent jobs), so the layer's time is the union
      val own = ss.flatMap { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
        Stats.minus((s.startUs, s.endUs), kids)
      }
      layer -> Stats.unionUs(own) / 1e6
    }
  }

  def write(spans: Seq[Span], path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    } finally w.close()
  }
}

/** Tags every job with the caller's label through a local property, so
  * listener figures split by benchmark phase. */
object Tag {
  val Key = "perfbench.tag"
  /** The benchmark's own output checks; the collector leaves them out. */
  val Check = "check"
  def apply[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** Listener for the untraced run too: bytes and rows written by tasks, per
  * tag. Cheap: one map update per finished task. */
class Meter extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  val bytesWritten = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val rowsWritten = mutable.Map.empty[String, Long].withDefaultValue(0L)

  protected def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tag.Key))).getOrElse("untagged")

  protected def isCheckStage(stageId: Int): Boolean = stageTag.get(stageId).contains(Tag.Check)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTag(e.stageInfo.stageId) = tagOf(e.properties)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val tag = stageTag.getOrElse(e.stageId, "untagged")
    bytesWritten(tag) += e.taskMetrics.outputMetrics.bytesWritten
    rowsWritten(tag) += e.taskMetrics.outputMetrics.recordsWritten
  }
}

/** Job records of the traced run. */
final case class JobRec(id: Int, site: String, startUs: Long, var endUs: Long)

/** Write command of one SQL execution, attributed by its output path. */
final case class WriteRec(execId: Long, path: String, startUs: Long, var endUs: Long,
    var rows: Long = 0, var bytes: Long = 0, var files: Long = 0)

/** The traced run's listener: jobs, stages, task metrics, SQL executions
  * (write commands by output path) and checkpoint jobs by call site. Jobs
  * of the benchmark's output checks are left out. */
final class Collector extends Meter {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val writes = mutable.ArrayBuffer.empty[WriteRec]
  private val writeByExec = mutable.Map.empty[Long, WriteRec]
  private val accName = mutable.Map.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tagOf(e.properties) != Tag.Check) {
    // the result stage is named by the job's call site ("localCheckpoint at X.scala:N")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = JobRec(e.jobId, site, e.time * 1000L, e.time * 1000L)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobById.get(e.jobId).foreach(_.endUs = e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!isCheckStage(e.stageInfo.stageId)) stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!isCheckStage(e.stageId)) {
    super.onTaskEnd(e)
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  // formatted plan: the node's details list its output path first in Arguments
  private val WritePath =
    "\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand[^\\n]*\\n(?:[^\\n]*\\n)*?Arguments: ([^,\\s]+)".r

  private def learnMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accName(m.accumulatorId) = m.name)
    p.children.foreach(learnMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      learnMetrics(s.sparkPlanInfo)
      WritePath.findFirstMatchIn(s.physicalPlanDescription).foreach { m =>
        val w = WriteRec(s.executionId, m.group(1), s.time * 1000L, s.time * 1000L)
        writes += w
        writeByExec(s.executionId) = w
      }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => learnMetrics(u.sparkPlanInfo)
    case x: SparkListenerSQLExecutionEnd =>
      writeByExec.get(x.executionId).foreach(_.endUs = x.time * 1000L)
    case d: SparkListenerDriverAccumUpdates =>
      writeByExec.get(d.executionId).foreach { w =>
        d.accumUpdates.foreach { case (id, v) =>
          accName.get(id) match {
            case Some("number of output rows") => w.rows += v
            case Some("written output") => w.bytes += v
            case Some("number of written files") => w.files += v
            case _ =>
          }
        }
      }
    case _ =>
  }

  def isCheckpoint(j: JobRec): Boolean =
    j.site.startsWith("localCheckpoint at") || j.site.startsWith("checkpoint at")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the 11th
    * largest sample. Returns (value, percentile, samples). Below 21 samples
    * that percentile would fall under the median, so the largest sample
    * stands in. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n >= 21) (s(n - 11), 100.0 * (n - 10) / n, n) else (s.last, 100.0, n)
  }

  /** The parts of [start, end) that no interval in `cut` covers. */
  def minus(iv: (Long, Long), cut: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    var from = iv._1
    val out = Seq.newBuilder[(Long, Long)]
    cut.filter { case (s, e) => e > iv._1 && s < iv._2 }.sortBy(_._1).foreach { case (s, e) =>
      if (s > from) out += ((from, s))
      from = math.max(from, e)
    }
    if (iv._2 > from) out += ((from, iv._2))
    out.result()
  }

  /** Length of the union of [start, end) intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
