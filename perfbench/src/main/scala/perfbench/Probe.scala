package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job, as the listener saw it. Task figures sum over the
  * tasks of the stages the job ran.
  */
final class JobRec(val id: Int, val op: String, val phase: String,
    val startMs: Long, val site: String) {
  var endMs: Long = -1L
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var maxTaskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

final class StageRec(val id: Int, val job: Int, val startMs: Long,
    val endMs: Long, val name: String)

/** Everything the benchmark reads from Spark's public listener API.
  * Jobs are tied to the op that caused them by the job group the
  * benchmark sets per op (`spark.jobGroup.id`) and to the op's phase
  * by the `perfbench.phase` local property, which only traced passes
  * set: jobs without it are not recorded. Records are read only after
  * the context has stopped, which delivers every posted event first;
  * the listener bus is a single thread, so the maps need no locking
  * while it writes.
  *
  * A job's site is the engine object in Spark's call site. Adaptive
  * execution submits most stages from a pool thread whose call site
  * shows no engine frame; those take the call site of their SQL
  * execution, which Spark records on the thread that started the query
  * and posts before any of the query's jobs.
  */
final class Probe extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val executionSite = mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionSite(s.executionId.toString) = Probe.siteOf(s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val phase = prop(Probe.PhaseKey)
    if (phase.nonEmpty) {
      val site = (e.stageInfos.maxByOption(_.stageId).map(s => Probe.siteOf(s.details)) ++
        Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
          .flatMap(k => executionSite.get(prop(k))))
        .find(_ != "bench").getOrElse("bench")
      jobs(e.jobId) = new JobRec(e.jobId, prop("spark.jobGroup.id"), phase,
        e.time, site)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    for (job <- stageJob.get(s.stageId); start <- s.submissionTime;
         end <- s.completionTime)
      stages += new StageRec(s.stageId, job, start, end, s.name)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      val ms = e.taskInfo.duration
      j.taskMs += ms
      j.maxTaskMs = math.max(j.maxTaskMs, ms)
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
}

object Probe {
  val PhaseKey = "perfbench.phase"

  private val Site = """graft\.(operators|sources|queries)\.([A-Za-z0-9_]+)""".r

  /** The engine object whose frame is innermost in a job's call site
    * (for example `operators.Dedup`), or `bench` when the job was
    * launched by the benchmark's own materialization call.
    */
  def siteOf(longCallSite: String): String =
    Site.findFirstMatchIn(longCallSite)
      .map(m => s"${m.group(1)}.${m.group(2).stripSuffix("$")}")
      .getOrElse("bench")
}

/** Counts log events at ERROR or above, attributed to the op running
  * when they were logged. Attached to the root logger, so it sees
  * Spark's own error lines, which a clean run should not produce.
  */
final class ErrorCounter extends AbstractAppender("perfbench-errors",
    null, null, true, Property.EMPTY_ARRAY) {
  @volatile var currentOp: String = ""
  val byOp = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
      byOp.computeIfAbsent(currentOp, _ => new AtomicLong()).incrementAndGet()
      if (samples.size < 20) samples.add(
        String.valueOf(e.getMessage.getFormattedMessage).take(300))
    }

  def count(op: String): Long =
    Option(byOp.get(op)).map(_.get()).getOrElse(0L)
}

object ErrorCounter {
  def attach(): ErrorCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val c = new ErrorCounter
    c.start()
    ctx.getConfiguration.getRootLogger.addAppender(c, Level.ERROR, null)
    ctx.updateLoggers()
    c
  }
}

/** The end of physical planning of every query Spark ran (epoch ms),
  * read from the query's own `QueryPlanningTracker`: the plan that
  * actually runs, with no second planning.
  */
final class PlanProbe extends QueryExecutionListener {
  val planEnds = new ConcurrentLinkedQueue[Long]()

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.get("planning").foreach(p => planEnds.add(p.endTimeMs))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** JVM heap and GC figures. */
object Heap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** (end of collection in ms since JVM start, MB in use across the heap
    * pools right after it), one entry per collection from [[attach]] on.
    */
  val afterGc = new ConcurrentLinkedQueue[(Long, Double)]()

  /** Subscribes to the JVM's collection notifications. */
  def attach(): Unit = {
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = info.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        afterGc.add((info.getEndTime, used / 1048576.0))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Milliseconds since JVM start, the time base of [[afterGc]]. */
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Post-collection heap figures of the collections that ended in
    * [from, to] (uptime ms).
    */
  def afterGcMb(from: Long, to: Long): Seq[Double] =
    afterGc.asScala.collect { case (t, mb) if t >= from && t <= to => mb }.toSeq

  /** Full collections until the heap stops shrinking. A collection lets
    * Spark's context cleaner drop the blocks of unreachable RDDs and
    * broadcasts, which the next one reclaims; repeating makes the heap a
    * pass starts from independent of how far the asynchronous cleaner
    * had got.
    */
  def collect(): Unit = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var next = last
    var rounds = 1
    do {
      Thread.sleep(100)
      last = next
      next = used()
      rounds += 1
    } while (next < last * 0.99 && rounds < 6)
  }

  /** Cumulative collection time of all collectors. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
}
