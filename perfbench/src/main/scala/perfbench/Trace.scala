package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A span of the trace: `[startMs, endMs]` on the driver's wall clock. The
  * benchmark records one span per public call it makes into the engine
  * (parent = the op's span); the listener adds one child span per Spark job.
  */
final case class Span(id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double) {
  def durationMs: Double = endMs - startMs
}

object Spans {

  /** Total length of the union of `intervals`, each clipped to `[lo, hi]`. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- clipped) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (overlapping children count once).
    */
  def selfTimeMs(span: Span, children: Seq[Span]): Double =
    span.durationMs - unionLength(
      children.map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)
}

/** Task-metric totals of one stage, plus each task's duration. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** One Spark job as the listener saw it. `site` is the file of Spark's own
  * call site for the job (`Dedup` for `count at Dedup.scala:123`), `span`
  * the benchmark span it ran under.
  */
final class JobRec(val jobId: Int, val span: Long, val site: String,
    val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

/** Records every job and stage, and the task metrics of every stage, tagged
  * with the benchmark span that was current on the submitting thread.
  * Only the listener-bus thread writes; readers call [[awaitQuiet]] first.
  */
final class JobListener extends SparkListener {
  import JobListener._

  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty
  val stages: mutable.Map[Int, StageAgg] = mutable.Map.empty
  /** Call-site file of each SQL execution: the engine line whose action
    * started it. Jobs that adaptive execution submits from its own threads
    * carry only the execution id, so they are attributed through it.
    */
  private val executionSites = mutable.Map.empty[Long, String]
  private val lastEventNs = new AtomicLong(System.nanoTime())
  @volatile private var open = 0

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    val executionSite = props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSites.get(id.toLong))
    val site = executionSite.getOrElse(siteFile(
      props.flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
        .getOrElse("")))
    jobs += new JobRec(e.jobId, span, site, e.time,
      e.stageInfos.map(_.stageId))
    open += 1
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
    open -= 1
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    val info = e.taskInfo
    a.tasks += 1
    a.taskMs += info.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      // the Spark UI's scheduler-delay formula
      a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
    }
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = touch()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executionSites(x.executionId) = siteFile(x.description) match {
        case "" => siteFile(x.details)
        case f => f
      }
    }
    case _ =>
  }

  /** Wait until every started job has ended and no event arrived for
    * `quietMs`, at most `maxMs`.
    */
  def awaitQuiet(quietMs: Long = 100L, maxMs: Long = 5000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def quiet = open <= 0 &&
      System.nanoTime() - lastEventNs.get() > quietMs * 1000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(10)
  }
}

object JobListener {
  /** Local property that carries the benchmark's current span id. */
  val SpanProperty = "perfbench.span"

  private val SitePattern = """at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+""".r

  /** `count at Dedup.scala:123` → `Dedup`; "" when the site names no file. */
  def siteFile(shortSite: String): String =
    SitePattern.findFirstMatchIn(shortSite).map(_.group(1)).getOrElse("")
}
