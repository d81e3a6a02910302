package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** One timed call into an engine layer. Times are ns since the harness
  * epoch; `parent` is the enclosing span on the same thread (-1 at the
  * top); `op` ties the spans of one operation together. */
final case class Span(id: Int, parent: Int, name: String, op: Long,
    startNs: Long, endNs: Long)

/** Spans and counters, kept in memory and written when the run ends.
  * Disabled, `span` is a plain call and nothing is recorded. */
final class Tracer(val enabled: Boolean, epochNs: Long) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0
  private val sums = mutable.LinkedHashMap[String, Double]()

  def now(): Long = System.nanoTime() - epochNs

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack.set(parents)
        synchronized {
          spans += Span(id, parents.headOption.getOrElse(-1), name, op, t0, t1)
        }
      }
    }

  /** Add to a named per-layer counter (traced runs only). */
  def add(name: String, v: Double): Unit =
    if (enabled) synchronized { sums(name) = sums.getOrElse(name, 0.0) + v }

  def set(name: String, v: Double): Unit =
    if (enabled) synchronized { sums(name) = v }

  def counters: Map[String, Double] = synchronized(sums.toMap)

  def clearCounters(): Unit = synchronized(sums.clear())

  def allSpans: Seq[Span] = synchronized(spans.toList)
}

/** Executor-side work, summed from task and stage events between
  * `reset` and reading. Local mode runs executors in-process, so these
  * are the same tasks the end-to-end CPU time covers. */
final class ExecListener extends SparkListener {
  private var v = mutable.LinkedHashMap[String, Double]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private var skews = mutable.ArrayBuffer[Double]()

  def reset(): Unit = synchronized {
    v = mutable.LinkedHashMap[String, Double]()
    stageTaskMs.clear()
    skews = mutable.ArrayBuffer[Double]()
  }

  private def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(add("exec.jobs", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    if (e.taskInfo.failed || e.taskInfo.killed) add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.task_run_s", m.executorRunTime / 1e3)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      v("exec.peak_exec_mem_mb") = math.max(
        v.getOrElse("exec.peak_exec_mem_mb", 0.0), m.peakExecutionMemory / 1e6)
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      add("exec.sched_delay_ms", math.max(0L, delay).toDouble)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      add("exec.stages", 1)
      stageTaskMs.remove(e.stageInfo.stageId).foreach { ms =>
        val mean = ms.sum.toDouble / ms.size
        if (ms.size > 1 && mean > 0) skews += ms.max / mean
      }
    }

  /** Counter values; `exec.stage_skew` is the mean over multi-task
    * stages of slowest task / mean task. */
  def values: Map[String, Double] = synchronized {
    val skew = if (skews.isEmpty) 1.0 else skews.sum / skews.size
    v.toMap + ("exec.stage_skew" -> skew)
  }
}

/** Counts over an executed physical plan, looking inside adaptive query
  * stages and subqueries. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def n(f: PartialFunction[SparkPlan, Boolean]) =
      nodes.count(p => f.applyOrElse(p, (_: SparkPlan) => false)).toDouble
    Map(
      "plan.exchanges" -> n { case _: ShuffleExchangeExec => true },
      "plan.reused_exchanges" -> n { case _: ReusedExchangeExec => true },
      "plan.smj" -> n { case _: SortMergeJoinExec => true },
      "plan.bhj" -> n { case _: BroadcastHashJoinExec => true },
      "plan.inmemory_scans" -> n { case _: InMemoryTableScanExec => true },
      "plan.single_partition_windows" ->
        n { case w: WindowExec => w.partitionSpec.isEmpty },
      "exec.scan_ms" -> nodes.collect { case s: FileSourceScanExec =>
        s.metrics.get("scanTime").map(_.value).getOrElse(0L).toDouble
      }.sum)
  }
}
