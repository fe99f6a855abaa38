package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes everything it measured to
  * `<work>/result.json`; `run.py` checks the outputs and prints the metrics.
  *
  * {{{
  * Main --workload rag_serve --data <inputs> --work <dir> --seconds 12
  *      --trace 0|1 [--max-ops N] [--warmup N]
  * }}}
  *
  * With `--trace 1` the first half of the measured time runs untraced and
  * the second half traced (listener, job groups), so the tracing overhead
  * is the difference between the two halves of the same warm JVM. */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = Jvm.startMs
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val maxOps = opt.get("max-ops").map(_.toInt).getOrElse(Int.MaxValue)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionReadyMs = System.currentTimeMillis()

    val meta = Json.parse(new String(Files.readAllBytes(Paths.get(s"$data/meta.json")), UTF_8))
    val spans = new Spans(sc)
    val ctx = Ctx(spark, data, work, spans, meta)
    val wl: Workload = workload match {
      case "rag_serve" => new RagServe(work)
      case "curation_mix" => new CurationMix(work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val warmup = opt.get("warmup").map(_.toInt).getOrElse(wl.warmupOps)
    val warmupBudgetS = if (opt.contains("warmup")) 0.0 else wl.warmupSeconds
    val storageMb = () => sc.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum / 1048576.0

    // with --trace 1 the recorder listens to set-up and to the traced half
    val recorder = new Recorder(() => wl.indexPath)
    def listen(on: Boolean): Unit = {
      if (on) { sc.addSparkListener(recorder); spark.listenerManager.register(recorder) }
      else { sc.removeSparkListener(recorder); spark.listenerManager.unregister(recorder) }
      spans.traced = on
      if (!on) sc.clearJobGroup()
    }

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    def runOp(i: Int, phase: String)(body: => Unit): Unit = {
      recorder.currentOp = i
      val gc0 = Jvm.gcMs
      val sid = spans.all.size
      val error = try { spans.span(if (i < 0) phase else s"op$i", "op")(body); "" }
        catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(2000) }
      val wallMs = (spans.all(sid).endNs - spans.all(sid).startNs) / 1e6
      val drained = !spans.traced || Drain(recorder)
      if (!drained) System.err.println(s"[perfbench] $phase op $i: listener drain hit its deadline; counters invalid")
      ops += Map("i" -> i, "phase" -> phase, "span" -> sid, "wall_ms" -> wallMs,
        "error" -> error, "counters_valid" -> drained, "gc_ms" -> (Jvm.gcMs - gc0),
        "storage_mb" -> storageMb())
    }

    if (trace) listen(true)
    runOp(-1, "setup")(wl.setup(ctx))
    if (trace) listen(false)
    var next = 0
    def measure(phase: String, budgetS: Double, cap: Int, min: Int = 1): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < cap && (n < min || (System.nanoTime() - t0) / 1e9 < budgetS)) {
        val i = next
        runOp(i, phase)(wl.op(ctx, i))
        next += 1; n += 1
      }
    }
    val warmT0 = System.nanoTime()
    measure("warmup", warmupBudgetS, Int.MaxValue, min = warmup)
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    // measured: untraced, then (with --trace 1) traced for the second half
    if (trace) {
      measure("untraced", seconds / 2, math.max(1, maxOps / 2))
      listen(true)
      measure("traced", seconds / 2, math.max(1, maxOps / 2))
      recorder.currentOp = -2
    } else measure("untraced", seconds, maxOps, min = math.min(wl.minMeasuredOps, maxOps))
    // storage still held once everything unreachable has been cleaned: two
    // full GCs, each followed by a pause for the context cleaner
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
    val retainedMb = storageMb()
    val probes = if (trace) wl.stageProbes(ctx) else Map.empty[String, Double]
    if (trace) { Drain(recorder); listen(false) }

    val outputs = wl.flush(ctx)
    val result = Map(
      "workload" -> workload, "trace" -> trace,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "warmup_s" -> warmupS, "warmup_ops" -> warmup, "probes" -> probes,
      "retained_storage_mb" -> retainedMb,
      "ops" -> ops.toSeq, "outputs" -> outputs,
      "anchor_ms" -> spans.anchorMs, "spans" -> spans.toJson,
      "recorder" -> (if (trace) recorder.toJson else Map.empty))
    Files.write(Paths.get(s"$work/result.json"), Json.render(result).getBytes(UTF_8))
    spark.stop()
  }
}
