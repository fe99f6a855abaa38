package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. `kind` is the layer it belongs to: `op`, `step`,
  * `build` (the ops.* call), `plan` (executedPlan), `execute` (the action).
  * Spark jobs and stages become child spans later, from the listener. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, var endNs: Long = -1L)

/** In-memory span recorder. Spans nest by call structure; when `traced`, each
  * span also names the Spark job group, so every job it submits can be
  * attributed back to it. */
final class Spans(sc: SparkContext) {
  val anchorMs: Long = System.currentTimeMillis()
  val anchorNs: Long = System.nanoTime()
  val all = mutable.ArrayBuffer[Span]()
  var traced = false
  private var stack = List.empty[Span]

  def span[T](name: String, kind: String)(body: => T): T = {
    val s = Span(all.size, stack.headOption.fold(-1)(_.id), name, kind, System.nanoTime())
    all += s
    stack = s :: stack
    if (traced) sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (traced) stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def toJson: Seq[Map[String, Any]] = all.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
    "start_ns" -> (s.startNs - anchorNs), "end_ns" -> (s.endNs - anchorNs)))
}

/** Scheduler and query-execution events, kept in memory. Times are the
  * listener's epoch milliseconds, re-based onto the span clock by the
  * reader (`anchor_ms`). */
final class Recorder(indexPath: () => String) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val events = new java.util.concurrent.atomic.AtomicLong
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Any]]()
  private val queries = mutable.ArrayBuffer[Map[String, Any]]()
  private var jobStarts = 0
  private var jobEnds = 0

  def eventCount: Long = events.get()
  def balanced: Boolean = synchronized(jobStarts == jobEnds)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events.incrementAndGet(); jobStarts += 1
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = mutable.Map("id" -> e.jobId, "group" -> group.getOrElse(""),
      "submit_ms" -> e.time, "end_ms" -> -1L, "stage_ids" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events.incrementAndGet(); jobEnds += 1
    jobs.get(e.jobId).foreach(_("end_ms") = e.time)
  }

  private def stage(id: Int, attempt: Int) = stages.getOrElseUpdate((id, attempt),
    mutable.Map[String, Any]("id" -> id, "attempt" -> attempt, "submit_ms" -> -1L,
      "complete_ms" -> -1L, "tasks" -> 0L, "first_launch_ms" -> Long.MaxValue,
      "task_ms" -> 0L, "gc_ms" -> 0L, "shuffle_read_bytes" -> 0L,
      "shuffle_write_bytes" -> 0L, "spill_bytes" -> 0L, "input_bytes" -> 0L))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events.incrementAndGet()
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s("submit_ms") = e.stageInfo.submissionTime.getOrElse(-1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events.incrementAndGet()
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s("submit_ms") = e.stageInfo.submissionTime.getOrElse(s("submit_ms"))
    s("complete_ms") = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events.incrementAndGet()
    val s = stage(e.stageId, e.stageAttemptId)
    def add(k: String, v: Long): Unit = s(k) = s(k).asInstanceOf[Long] + v
    add("tasks", 1L)
    s("first_launch_ms") = math.min(s("first_launch_ms").asInstanceOf[Long], e.taskInfo.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
    }
  }

  /** Per finished query: planning phase times, files and rows its scans
    * read, and what its write command wrote. Tagged with the operation that
    * was running when the event arrived; the drain guarantees that is the
    * operation that ran it. */
  @volatile var currentOp: Int = -1

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(funcName, qe, ok = false)

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    events.incrementAndGet()
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val plan: SparkPlan = qe.executedPlan
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    val idx = indexPath()
    val writes = collect(plan) { case w: DataWritingCommandExec => w.cmd.metrics }
    def wm(k: String): Long = writes.map(m => m.get(k).map(_.value).getOrElse(0L)).sum
    val row = Map[String, Any](
      "op" -> currentOp, "func" -> funcName, "ok" -> ok, "plan_ms" -> planMs,
      "files_read" -> scans.map(metric(_, "numFiles")).sum,
      "rows_scanned" -> scans.map(metric(_, "numOutputRows")).sum,
      "index_rows_scanned" -> scans.filter(s => idx.nonEmpty &&
        s.relation.location.rootPaths.exists(_.toString.contains(idx)))
        .map(metric(_, "numOutputRows")).sum,
      "files_written" -> wm("numFiles"), "bytes_written" -> wm("numOutputBytes"),
      "write_commit_ms" -> (wm("taskCommitTime") + wm("jobCommitTime")))
    synchronized(queries += row)
  }

  def toJson: Map[String, Any] = synchronized(Map(
    "jobs" -> jobs.values.map(_.toMap).toSeq,
    "stages" -> stages.values.map(_.toMap).toSeq,
    "queries" -> queries.toSeq))
}

/** Waits until the listener has seen the end of every job it saw start and
  * then stays quiet for several polls in a row. A drain that reaches its
  * deadline returns false: the caller marks that operation's counters
  * invalid instead of letting its events bleed into the next one. */
object Drain {
  def apply(rec: Recorder, quietPolls: Int = 3, pollMs: Long = 20,
      deadlineMs: Long = 10000): Boolean = {
    val deadline = System.currentTimeMillis() + deadlineMs
    var quiet = 0
    var last = rec.eventCount
    while (quiet < quietPolls && System.currentTimeMillis() < deadline) {
      Thread.sleep(pollMs)
      val now = rec.eventCount
      if (now == last && rec.balanced) quiet += 1 else quiet = 0
      last = now
    }
    quiet >= quietPolls
  }
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
