package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the calls a workload makes into graft. Kept in memory and
  * written with the run record; the caller derives self times from them.
  * Disabled (or switched off for an A/B op) it only runs the body. */
final class Spans(val enabled: Boolean) {
  import Spans.Span

  private val all = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var on: Boolean = enabled
  @volatile var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val sp = all.synchronized {
        val s = Span(all.size, name, System.nanoTime(), -1L, parent, op)
        all += s
        s
      }
      stack.set(sp.id :: stack.get)
      try body
      finally {
        sp.endNs = System.nanoTime()
        stack.set(stack.get.tail)
      }
    }

  def records: Seq[Map[String, Any]] = all.synchronized {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    all.toSeq.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
  }
}

object Spans {
  final case class Span(id: Int, name: String, startNs: Long, var endNs: Long,
      parent: Int, op: Int)
}

/** Scheduler, executor, shuffle and input counters from a SparkListener the
  * benchmark registers itself. Counts only while `active`. */
final class TaskCounters extends SparkListener {
  @volatile var active = false
  private val c = mutable.LinkedHashMap(Seq("jobs", "stages", "tasks", "delay_ms",
    "run_ms", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read", "spill",
    "fetch_wait_ms", "input_bytes", "input_rows").map(_ -> new AtomicLong): _*)

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      val info = e.taskInfo
      add("tasks", 1)
      add("delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
      add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_rows", m.inputMetrics.recordsRead)
    }

  def snapshot: Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap
}

/** Leaf scans of a physical plan (adaptive plans included), read for the
  * files they opened. */
object PlanScan extends AdaptiveSparkPlanHelper {
  def filesRead(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case p if p.children.isEmpty => p }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
}

/** Planning-phase times and scan file counts per query, from a
  * QueryExecutionListener registered on each session the workload uses. */
final class PlanCounters extends QueryExecutionListener {
  @volatile var active = false
  private val phases = mutable.LinkedHashMap(Seq("parsing", "analysis", "optimization",
    "planning").map(_ -> new DoubleAdder): _*)
  private val queries = new AtomicLong
  private val files = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) {
      queries.incrementAndGet()
      qe.tracker.phases.foreach { case (ph, sum) =>
        phases.get(ph).foreach(_.add(sum.durationMs / 1e3))
      }
      files.addAndGet(PlanScan.filesRead(qe.executedPlan))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: Map[String, Double] =
    phases.map { case (k, v) => k -> v.sum }.toMap ++
      Map("queries" -> queries.get.toDouble, "files" -> files.get.toDouble)
}

/** Driver heap used after each GC while `active` (peak), and total GC time.
  * Only heap pools count: a GC notification also reports non-heap pools
  * (metaspace, code cache), which Spark's code generation grows. */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile var active = false
  private val peak = new AtomicLong
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (active &&
          n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Heap used right after a full collection. */
  def usedAfterFullGc(): Long = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.accumulateAndGet(used, (a, b) => math.max(a, b))
    used
  }

  def peakBytes: Long = peak.get

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}
