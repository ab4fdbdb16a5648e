package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** What a workload tells the harness. Fixtures are numbered by setup
  * repetition: warm-up runs against fixture 0, the timed phase against the
  * last one. */
trait Workload {
  /** Work units one main operation completes (the throughput numerator). */
  def unitsPerOp: Double
  /** Ops in one round: the timed phase runs whole rounds, so every run
    * measures the same mix of op kinds (op `i` is of kind `i % roundSize`). */
  def roundSize: Int
  def stage(s: SparkSession, fx: Int): Unit
  def op(s: SparkSession, fx: Int, i: Int): Unit
  /** Reads issued after op `i`; each returns an error message if its
    * result is wrong. */
  def reads(s: SparkSession, fx: Int, i: Int): Seq[() => Option[String]]
  /** Untimed, after the timed phase: what the output checks need. */
  def finish(s: SparkSession, fx: Int, opsDone: Int, rec: mutable.Map[String, Any]): Unit
}

final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val spans: Spans, val plans: PlanCounters) {
  /** Every op runs on its own session, so no SessionMemo entry of an
    * earlier op can turn a repeat into a no-op. */
  def fresh(): SparkSession = {
    val s = spark.newSession()
    if (spans.on) s.listenerManager.register(plans)
    s
  }
}

object Main {
  val SetupReps = 3
  /** Reads run after each warm-up op: enough to compile the read path. */
  val WarmReads = 4

  private def now: Long = System.nanoTime()
  private def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val cores = kv("cores").toInt
    val out = kv("record")

    val rec = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.ArrayBuffer.empty[String]
    val heap = new HeapWatch
    val spark = graft.GraftSession.build(s"local[$cores]", cores)
    rec("session_build_s") =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    rec("env") = Map("master" -> s"local[$cores]", "cores" -> cores,
      "spark" -> spark.version, "java" -> sys.props("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))

    val tasks = new TaskCounters
    val plans = new PlanCounters
    if (trace) spark.sparkContext.addSparkListener(tasks)
    val ctx = new Ctx(spark, kv("data"), kv("work"), new Spans(trace), plans)
    try {
      val wl: Workload = workload match {
        case "churn_daily" => new ChurnDaily(ctx)
        case "llm_curation" => new LlmCuration(ctx)
      }
      drive(wl, ctx, seconds, trace, tasks, heap, rec, errors)
    } catch {
      case e: Throwable =>
        errors += s"fatal: $e"
        e.printStackTrace()
    } finally {
      rec("errors") = errors.take(20).toSeq
      rec("n_errors") = errors.size
      rec("spans") = ctx.spans.records
      Json.write(out, rec)
      spark.stop()
    }
  }

  private def drive(wl: Workload, ctx: Ctx, seconds: Double, trace: Boolean,
      tasks: TaskCounters, heap: HeapWatch, rec: mutable.Map[String, Any],
      errors: mutable.Buffer[String]): Unit = {
    val spans = ctx.spans
    def attempt(what: String)(body: => Option[String]): Boolean =
      try body match {
        case None => true
        case Some(msg) => errors += s"$what: $msg"; false
      } catch {
        case e: Throwable =>
          errors += s"$what: $e"
          false
      }

    // set-up: stage the fixture several times, each on a fresh session
    rec("setup_reps_s") = (0 until SetupReps).map { fx =>
      val t = now
      spans("setup") { wl.stage(ctx.fresh(), fx) }
      since(t)
    }

    // one untimed warm-up round on fixture 0: a fixed length, so every run
    // warms up alike
    val warm = mutable.ArrayBuffer.empty[Double]
    val k = wl.roundSize
    while (warm.size < k) {
      val s = ctx.fresh()
      val t = now
      if (!attempt(s"warm-up op ${warm.size}") { wl.op(s, 0, warm.size); None })
        throw new IllegalStateException(errors.last)
      warm += since(t)
      wl.reads(s, 0, warm.size - 1).take(WarmReads).zipWithIndex.foreach { case (r, j) =>
        attempt(s"warm-up read ${warm.size - 1}.$j")(r())
      }
    }
    rec("warmup_s") = warm.toSeq
    if (errors.nonEmpty) throw new IllegalStateException("warm-up failed")

    // timed phase, whole rounds on the last fixture; a traced run runs at
    // least two rounds, tracing every other one, so it can state its own
    // overhead
    val fx = SetupReps - 1
    BenchBus.drain(ctx.spark.sparkContext)
    tasks.active = true
    ctx.plans.active = true
    heap.active = true
    val gc0 = heap.gcSeconds
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val reads = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    val start = now
    val deadline = start + (seconds * 1e9).toLong
    var i = 0
    while (now < deadline || i % k != 0 || (trace && i < 2 * k)) {
      spans.on = trace && (i / k) % 2 == 0
      spans.op = i
      val s = ctx.fresh()
      attempted += 1
      val t = now
      val ok = attempt(s"op $i") { spans("op") { wl.op(s, fx, i) }; None }
      val lat = since(t)
      if (ok) ops += Map("i" -> i, "lat_s" -> lat, "traced" -> spans.on)
      else failed += 1
      if (ok) wl.reads(s, fx, i).zipWithIndex.foreach { case (r, j) =>
        attempted += 1
        val tr = now
        if (attempt(s"read $i.$j")(spans("read") { r() })) reads += since(tr)
        else failed += 1
      }
      i += 1
    }
    val wall = since(start)
    spans.on = trace
    BenchBus.drain(ctx.spark.sparkContext)
    tasks.active = false
    ctx.plans.active = false
    rec("heap_after_run_bytes") = heap.usedAfterFullGc()
    heap.active = false
    rec("heap_peak_bytes") = heap.peakBytes
    rec("gc_s") = heap.gcSeconds - gc0
    rec("timed_wall_s") = wall
    rec("round") = k
    rec("ops") = ops.toSeq
    rec("reads_s") = reads.toSeq
    rec("attempted") = attempted
    rec("failed") = failed
    rec("units_done") = ops.size * wl.unitsPerOp
    if (trace) {
      rec("tasks") = tasks.snapshot
      rec("plan") = ctx.plans.snapshot
    }
    wl.finish(ctx.fresh(), fx, i, rec)
    if (trace) {
      val (probe, seconds) = Probes.run(ctx.fresh(), ctx.data, ctx.work)
      rec("probe") = probe
      rec("probe_s") = seconds
    }
  }
}
