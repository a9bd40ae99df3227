package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory trace of a traced pass: spans recorded by the benchmark
  * around its calls into the program, and the Spark work those calls
  * caused, attributed through the job group the benchmark sets on its own
  * thread before each call (nothing in the program sets one).
  *
  * Listener events arrive on Spark's listener thread; every map here is
  * concurrent and per-group counters are updated under the group's lock.
  */
final class Trace extends SparkListener {

  /** Times are epoch milliseconds with sub-millisecond precision, on the
    * clock Spark stamps its job events with. */
  final case class Span(name: String, start: Double, end: Double, parent: String,
      request: String)

  /** Spark work of one job group, that is of one traced request. */
  final class Work {
    var jobs, stages, tasks = 0
    var rankAggJobs = 0
    var taskMs, cpuNs, bytesRead, rowsRead, shuffleWrite, spill = 0L
    var schedWaitMs = 0L
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
    /** call site of the action behind each job */
    val jobSites = mutable.ArrayBuffer[String]()
  }

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val work = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[(Int, Int), Long]()

  /** SQL execution id -> (short, long) call site of the action */
  private val executionSite = new ConcurrentHashMap[Long, (String, String)]()

  private val RankAggSite = "graft.operators.(RankAggregate|FacetSearch)".r

  /** Group of jobs submitted without one, such as jobs a query starts
    * from a thread pool that did not inherit the caller's job group. Set
    * it only while one call runs at a time, and drain the listener bus
    * before changing it. */
  @volatile var fallbackGroup = ""

  def workOf(group: String): Work = work.computeIfAbsent(group, _ => new Work)

  /** Run `body` as span `name` of `request`. */
  def span[T](name: String, parent: String, request: String)(body: => T): T = {
    val t0 = Trace.nowMs
    try body finally spans.add(Span(name, t0, Trace.nowMs, parent, request))
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSite.put(x.executionId, (x.description, x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse(fallbackGroup)
    if (group.nonEmpty) {
      jobGroup.put(e.jobId, (group, e.time))
      e.stageIds.foreach(stageGroup.put(_, group))
      // a SQL job's stages are named after the thread that submitted them
      // (adaptive execution submits from its own pool); the action's call
      // site is the one its SQL execution recorded
      val site = Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => Option(executionSite.get(id.toLong)))
        .getOrElse(("", e.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n")))
      val w = workOf(group)
      w.synchronized {
        w.jobs += 1
        if (RankAggSite.findFirstIn(site._2).isDefined) w.rankAggJobs += 1
        w.jobSites += site._1
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (group, start) =>
      val w = workOf(group)
      w.synchronized { w.jobIntervals += ((start, e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    Option(stageGroup.get(s.stageId)).foreach { group =>
      stageSubmit.put((s.stageId, s.attemptNumber()),
        s.submissionTime.getOrElse(System.currentTimeMillis()))
      val w = workOf(group)
      w.synchronized { w.stages += 1 }
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageGroup.get(e.stageId)).foreach { group =>
      val key = (e.stageId, e.stageAttemptId)
      if (stageFirstLaunch.putIfAbsent(key, e.taskInfo.launchTime) == null)
        Option(stageSubmit.get(key)).foreach { submit =>
          val w = workOf(group)
          w.synchronized { w.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submit) }
        }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { group =>
      val w = workOf(group)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.taskMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.bytesRead += m.inputMetrics.bytesRead
          w.rowsRead += m.inputMetrics.recordsRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

object Trace {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  /** Length of the part of [start, end] that no interval covers. */
  def uncovered(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var cursor = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    (end - start) - covered
  }
}

/** Counts whole-stage and expression code compilations. The count comes
  * from Spark's own codegen histogram; the compile time is summed from the
  * code generator's "Code generated in N ms" log line, captured by an
  * appender on that one logger while a traced pass runs. */
final class CodegenProbe {
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val loggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Line = "Code generated in ([0-9.]+) ms".r.unanchored
  @volatile private var ms = 0.0
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Line(t) => CodegenProbe.this.synchronized { ms += t.toDouble }
      case _ =>
    }
  }
  private val ctx = org.apache.logging.log4j.LogManager.getContext(false)
    .asInstanceOf[LoggerContext]

  def install(): Unit = {
    appender.start()
    val config = ctx.getConfiguration
    val lc = new LoggerConfig(loggerName, org.apache.logging.log4j.Level.INFO, false)
    lc.addAppender(appender, org.apache.logging.log4j.Level.INFO, null)
    config.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }

  def uninstall(): Unit = {
    ctx.getConfiguration.removeLogger(loggerName)
    ctx.updateLoggers()
    appender.stop()
  }

  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMs: Double = synchronized(ms)
}
