package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Cumulative Spark counters read from the public listener interfaces:
  * scheduler events for jobs/stages/tasks and their task metrics, and
  * the SQL `QueryExecutionListener` for Catalyst phase times. Values
  * are monotone; a span's numbers are the difference of two
  * [[snapshot]]s taken after the listener bus has drained. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
  private val stageSubmit = TrieMap.empty[Int, Long]
  // wall time with at least one job running: concurrent jobs (AQE
  // broadcasts, overlapped barriers) count once
  private var running = 0
  private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    if (running == 0) busySince = e.time
    running += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) add("job_ms", e.time - busySince)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1); stageSubmit.remove(e.stageInfo.stageId)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    // queue wait: from the stage's submission until the task launched
    stageSubmit.get(e.stageId).foreach(s =>
      add("wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_w", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_r", m.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill", m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = planned(qe)
  /** Catalyst phases (analysis, optimization, planning) of a query
    * that ran through a Dataset action, or that the benchmark forced. */
  def planned(qe: QueryExecution): Unit =
    add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)

  def snapshot(): Map[String, Double] = {
    def g(k: String): Double = c.get(k).map(_.get.toDouble).getOrElse(0.0)
    val mb = 1024.0 * 1024.0
    Map(
      "jobs" -> g("jobs"), "stages" -> g("stages"), "tasks" -> g("tasks"),
      "job_s" -> g("job_ms") / 1e3, "task_s" -> g("task_ms") / 1e3,
      "cpu_s" -> g("cpu_ns") / 1e9, "gc_s" -> g("gc_ms") / 1e3,
      "task_wait_s" -> g("wait_ms") / 1e3,
      "shuffle_mb" -> (g("shuffle_w") + g("shuffle_r")) / mb,
      "fetch_wait_s" -> g("fetch_wait_ms") / 1e3,
      "spill_mb" -> g("spill") / mb,
      "plan_s" -> g("plan_ms") / 1e3,
      // JVM-wide codegen counters (Janino compiles and their time)
      "compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble,
      "compile_s" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime / 1e9)
  }
}

object Counters {
  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    a.map { case (k, v) => k -> (v - b.getOrElse(k, 0.0)) }

  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** One recorded interval. `layer` is the engine module the call went
  * into (or "unit" for a whole unit); `kind` is "call" for time inside
  * the layer's public functions, "exec" for forcing the layer's lazy
  * output at its boundary, "unit" for the enclosing unit. */
final case class Span(id: Int, parent: Int, unit: Int, layer: String,
    kind: String, startNs: Long, endNs: Long, delta: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and boundary counts for the traced units, kept in memory and
  * written out when the run ends. When a unit is not traced every
  * method is a pass-through: no drains, no forcing, no persists. */
final class Tracer(spark: SparkSession, counters: Counters) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-unit boundary counts of traced units (e.g. rows forced). */
  val counts = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private var on = false
  private var unitId = -1
  private var unitSpan = -1

  def tracing: Boolean = on

  def snap(): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    counters.snapshot()
  }

  private def record[T](layer: String, kind: String, parent: Int)(f: => T): T = {
    val s0 = snap()
    val t0 = System.nanoTime()
    val id = spans.size
    spans += null // reserve the id so children can name their parent
    val r = f
    val t1 = System.nanoTime()
    spans(id) = Span(id, parent, unitId, layer, kind, t0, t1,
      Counters.diff(snap(), s0))
    r
  }

  /** A unit; traced or not. Persisted boundary outputs are released
    * when it ends. */
  def unit[T](id: Int, traced: Boolean)(f: => T): T = {
    on = traced
    unitId = id
    try {
      if (!traced) f
      else {
        counts += mutable.Map.empty[String, Double]
        unitSpan = spans.size
        record("unit", "unit", -1)(f)
      }
    } finally {
      persisted.foreach(_.unpersist(true))
      persisted.clear()
      on = false
      unitSpan = -1
    }
  }

  /** Time inside a layer's public functions. */
  def call[T](layer: String)(f: => T): T =
    if (!on) f else record(layer, "call", unitSpan)(f)

  /** Force a layer's lazy output at its boundary so its execution is
    * attributed to that layer: persist, then run the frame's own
    * executed plan over every row (`queryExecution.toRdd`, which keeps
    * every column, unlike `count()`). Downstream layers read the
    * persisted rows. `rowsAs` names a count to record the row total as. */
  def force(layer: String, df: DataFrame, rowsAs: String = null): DataFrame =
    if (!on) df
    else record(layer, "exec", unitSpan) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val n = p.queryExecution.toRdd.count()
      counters.planned(p.queryExecution)
      persisted += p
      if (rowsAs != null) count(rowsAs, n.toDouble)
      p
    }

  /** Add to a boundary count of the current traced unit. */
  def count(name: String, v: Double): Unit =
    if (on) counts.last(name) = counts.last.getOrElse(name, 0.0) + v

  def writeJsonl(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val d = s.delta.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"unit":${s.unit},""" +
        s""""name":"${s.layer}.${s.kind}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"counters":{$d}}""")
    } finally w.close()
  }
}
