package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-query measurement main:
  * `runMain graft.tools.Profile <sfDir> <reps> <name> [name...]`.
  *
  * For each named query it prints the plan/analysis wall (time from
  * queries(name) call to executedPlan materialization, measured on a FRESH
  * DataFrame so nothing is pre-analyzed) split into Catalyst phases, then
  * runs `reps` timed reps. Each rep builds the frame and writes its FULL
  * output to the `noop` sink — the work `graft.Verify` pays for; a bare
  * `count()` lets column pruning drop most of a plan (q152 goes from 146
  * logical nodes to 21). Per query it prints the min wall, every run, the
  * min rep's jobs / stages / tasks, summed task and GC time, shuffle
  * read+write bytes and top stages by task time, and finally the post-AQE
  * plan of the last timed execution (ReusedExchange nodes and final stage
  * shapes that a pre-execution `explain()` cannot show). A query whose
  * task time is 1/10th of its wall is stage-latency-bound (fix the plan
  * shape, not the kernels); one whose task time ≈ wall × cores is
  * compute-bound (fix the kernels).
  *
  * Same-session A/B of runtime confs: with `GRAFT_CONF="k=v,k2=v2"` set,
  * each query warms both arms once, then interleaves arm A (the session
  * defaults) and arm B (GRAFT_CONF applied) rep by rep in one JVM, the
  * only honest comparison under ambient drift, and reports each arm as
  * above. The confs are restored after every query.
  * `GRAFT_PROFILE_RULES=1` adds the 25 costliest Catalyst rules.
  *
  * Session config matches [[graft.Bench]] (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus, UTC, UI off) so numbers line up with
  * BENCH_full.json. */
object Profile {

  /** One timed rep. Counters are whole-rep sums; `truncated` means the
    * listener drain hit its deadline, so some of this rep's events may be
    * missing from them. */
  final case class Rep(wall: Double, jobs: Int, jobEnds: Int, stages: Int,
      tasks: Int, taskSec: Double, gcSec: Double, shuffleBytes: Long,
      topStages: Seq[String], plan: String, truncated: Boolean)

  /** Scheduler and query-execution events of the rep in flight. */
  final class Counters extends SparkListener with QueryExecutionListener {
    private val events = new AtomicLong
    private val jobs = new AtomicInteger
    private val jobEnds = new AtomicInteger
    private val stages = new AtomicInteger
    private val tasks = new AtomicInteger
    private val taskMs = new AtomicLong
    private val gcMs = new AtomicLong
    private val shuffleBytes = new AtomicLong
    private val stageNames = new ConcurrentHashMap[Int, String]
    private val stageMs = new ConcurrentHashMap[Int, AtomicLong]
    private val stageShuf = new ConcurrentHashMap[Int, AtomicLong]
    private val stageTasks = new ConcurrentHashMap[Int, AtomicLong]
    private val executed = new AtomicReference[QueryExecution]

    def reset(): Unit = {
      Seq(jobs, jobEnds, stages, tasks).foreach(_.set(0))
      Seq(taskMs, gcMs, shuffleBytes).foreach(_.set(0L))
      Seq(stageNames, stageMs, stageShuf, stageTasks).foreach(_.clear())
      executed.set(null)
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      events.incrementAndGet(); jobs.incrementAndGet()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      events.incrementAndGet(); jobEnds.incrementAndGet()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet(); stages.incrementAndGet()
      stageNames.put(s.stageInfo.stageId,
        s.stageInfo.name.linesIterator.next().take(120))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet(); tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        val sb = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        shuffleBytes.addAndGet(sb)
        stageMs.computeIfAbsent(t.stageId, _ => new AtomicLong).addAndGet(m.executorRunTime)
        stageShuf.computeIfAbsent(t.stageId, _ => new AtomicLong).addAndGet(sb)
        stageTasks.computeIfAbsent(t.stageId, _ => new AtomicLong).incrementAndGet()
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet(); executed.set(qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      events.incrementAndGet()

    /** The listener bus is async: waits until every job that started has
      * ended, the write's query execution has been reported (when
      * `query`), and no event has arrived for three polls in a row, so a
      * straggler task-end cannot bleed into the next rep. False when the
      * 5 s deadline came first. */
    def drain(query: Boolean): Boolean = {
      val (quietPolls, pollMs) = (3, 50L)
      val deadline = System.currentTimeMillis() + 5000L
      var quiet = 0
      var last = events.get
      while (quiet < quietPolls && System.currentTimeMillis() < deadline) {
        Thread.sleep(pollMs)
        val now = events.get
        val settled = jobEnds.get == jobs.get && (!query || executed.get != null)
        if (now == last && settled) quiet += 1 else quiet = 0
        last = now
      }
      quiet >= quietPolls
    }

    def snapshot(wall: Double, truncated: Boolean): Rep = {
      val top = stageMs.asScala.toSeq.sortBy(-_._2.get).take(6).map { case (sid, ms) =>
        f"stage $sid taskSec=${ms.get / 1e3}%.2f " +
          f"tasks=${stageTasks.getOrDefault(sid, new AtomicLong).get} " +
          f"shufMB=${stageShuf.get(sid).get / 1e6}%.1f ${stageNames.getOrDefault(sid, "?")}"
      }
      // the AQE root's final plan; the noop write node above it is noise
      val plan = Option(executed.get).fold("(not reported)") { qe =>
        qe.executedPlan.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .getOrElse(qe.executedPlan).toString
      }
      Rep(wall, jobs.get, jobEnds.get, stages.get, tasks.get, taskMs.get / 1e3,
        gcMs.get / 1e3, shuffleBytes.get, top, plan, truncated)
    }
  }

  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def detach(spark: SparkSession, c: Counters): Unit = {
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }

  /** One timed rep: builds the frame and writes its full output to the
    * `noop` sink, then drains the listener and snapshots its counters.
    * Only the build and the write are timed. */
  def rep(counters: Counters)(df: => DataFrame): Rep = {
    counters.drain(query = false) // events of earlier work stay out of this rep
    counters.reset()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    counters.snapshot(wall, truncated = !counters.drain(query = true))
  }

  private def say(s: String): Unit = System.err.println(s"[profile] $s")

  private def report(label: String, planSec: Double, runs: Seq[Rep]): Unit = {
    runs.zipWithIndex.filter(_._1.truncated).foreach { case (_, i) =>
      say(s"$label rep ${i + 1}: listener drain hit its deadline; counters truncated")
    }
    val best = runs.minBy(_.wall)
    say(f"$label wall=${best.wall}%.3f plan=$planSec%.3f " +
      f"jobs=${best.jobs} stages=${best.stages} tasks=${best.tasks} " +
      f"taskSec=${best.taskSec}%.2f gcSec=${best.gcSec}%.2f " +
      f"shufMB=${best.shuffleBytes / 1e6}%.1f " +
      f"runs=${runs.map(r => f"${r.wall}%.2f").mkString(",")}")
    best.topStages.foreach(s => say(s"  $s"))
    say(s"$label final plan (last rep):\n${runs.last.plan}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val conf = sys.env.getOrElse("GRAFT_CONF", "")
      .split(",").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val counters = attach(spark)
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    def armB(on: Boolean): Unit =
      if (on) conf.foreach { case (k, v) => spark.conf.set(k, v) }
      else saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // plan cost: fresh frame, force analysis + optimization + physical
      // planning without executing; tracker splits the phases
      val tp0 = System.nanoTime()
      val qe = fn(spark, sfDir).queryExecution
      qe.executedPlan
      val planSec = (System.nanoTime() - tp0) / 1e9
      say(s"$name phases: " + qe.tracker.phases.map { case (p, s) =>
        f"$p=${(s.endTimeMs - s.startTimeMs) / 1e3}%.2f" }.mkString(" "))
      if (sys.env.contains("GRAFT_PROFILE_RULES")) {
        org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
        fn(spark, sfDir).queryExecution.executedPlan
        val top = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
        say(s"$name rules:\n" + top.linesIterator.take(25).mkString("\n"))
      }
      def timed(): Rep = rep(counters)(fn(spark, sfDir))
      if (conf.isEmpty) report(name, planSec, (1 to reps).map(_ => timed()))
      else try {
        armB(true); timed() // warm both arms once, B first
        armB(false); timed()
        val (as, bs) = (1 to reps).map { _ =>
          armB(false); val a = timed()
          armB(true); val b = timed()
          (a, b)
        }.unzip
        report(s"$name A", planSec, as)
        report(s"$name B[${conf.map { case (k, v) => s"$k=$v" }.mkString(";")}]", planSec, bs)
      } finally armB(false)
    }
    spark.stop()
  }
}
