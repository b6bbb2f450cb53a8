package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.graftshim.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters read from Spark's public observers. Every field is a
  * cumulative total, so the cost of an operation is `after - before`. */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Counters =
    Counters(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) })
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

/** The traced run's observers: a `SparkListener` for job, task and I/O
  * counters, a `QueryExecutionListener` for Catalyst phase times, plus the
  * JVM-global codegen and Hadoop FileSystem statistics. The untraced run
  * registers none of them and reads only wall clocks. */
final class Probe(spark: SparkSession) {
  private val sums = mutable.Map.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    sums.synchronized(sums.getOrElseUpdate(k, new AtomicLong)).addAndGet(v)

  /** Job (start, end) wall intervals in ms since the epoch, for the
    * interval union; jobs still running have no end yet. */
  private val jobStart =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs.count", 1)
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) jobSpans.add((s.longValue, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("jobs.tasks", 1)
      if (e.reason != org.apache.spark.Success) add("jobs.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("jobs.task_run_ms", m.executorRunTime)
        add("jobs.task_cpu_ns", m.executorCpuTime)
        add("jobs.gc_ms", m.jvmGCTime)
        add("jobs.scan_bytes", m.inputMetrics.bytesRead)
        add("jobs.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("jobs.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val phases = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add("catalyst.executions", 1)
      val p = qe.tracker.phases
      Seq(QueryPlanningTracker.ANALYSIS -> "catalyst.analysis_us",
        QueryPlanningTracker.OPTIMIZATION -> "catalyst.optimization_us",
        QueryPlanningTracker.PLANNING -> "catalyst.planning_us").foreach {
        case (phase, key) =>
          p.get(phase).foreach(s => add(key, (s.endTimeMs - s.startTimeMs) * 1000L))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(phases)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(phases)
  }

  /** Cumulative counters, after draining the listener bus so that every
    * event of the operations run so far has been counted. */
  def read(): Counters = {
    ListenerDrain.drain(spark.sparkContext)
    val m = mutable.Map.empty[String, Double]
    sums.synchronized(sums.foreach { case (k, v) => m(k) = v.get.toDouble })
    m("codegen.compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    m("codegen.compile_ms") = CodeGenerator.compileTime / 1e6
    val stats = FileSystem.getAllStatistics.asScala
    m("fs.read_ops") = CountingFs.reads.get.toDouble
    m("fs.write_ops") = CountingFs.writes.get.toDouble
    m("fs.list_ops") = CountingFs.lists.get.toDouble
    m("fs.bytes_read") = stats.map(_.getBytesRead).sum.toDouble
    m("fs.bytes_written") = stats.map(_.getBytesWritten).sum.toDouble
    Counters(m.toMap)
  }

  /** Union of job wall intervals clipped to [fromMs, toMs], in ms. */
  def jobWallMs(fromMs: Long, toMs: Long): Double = {
    val spans = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    spans.foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total.toDouble
  }

  /** Drop job intervals that ended before `ms` (keeps the queue short). */
  def forgetBefore(ms: Long): Unit = jobSpans.removeIf(_._2 < ms)
}

object Probe {

  /** Derived layer metrics for a window of `wallMs` wall time whose
    * counter delta is `d` and whose job-interval union is `jobsWallMs`. */
  def layers(d: Counters, wallMs: Double, jobsWallMs: Double): Map[String, Double] = {
    val analysis = d("catalyst.analysis_us") / 1000.0
    val optimization = d("catalyst.optimization_us") / 1000.0
    val planning = d("catalyst.planning_us") / 1000.0
    val compileMs = d("codegen.compile_ms")
    Map(
      "catalyst.analysis_ms" -> analysis,
      "catalyst.optimization_ms" -> optimization,
      "catalyst.planning_ms" -> planning,
      "catalyst.executions" -> d("catalyst.executions"),
      "codegen.compiles" -> d("codegen.compiles"),
      "codegen.compile_ms" -> compileMs,
      "jobs.count" -> d("jobs.count"),
      "jobs.tasks" -> d("jobs.tasks"),
      "jobs.wall_ms" -> jobsWallMs,
      "jobs.task_run_ms" -> d("jobs.task_run_ms"),
      "jobs.task_cpu_ms" -> d("jobs.task_cpu_ns") / 1e6,
      "jobs.gc_ms" -> d("jobs.gc_ms"),
      "jobs.scan_bytes" -> d("jobs.scan_bytes"),
      "jobs.shuffle_bytes" -> d("jobs.shuffle_bytes"),
      "jobs.spill_bytes" -> d("jobs.spill_bytes"),
      "jobs.failed_tasks" -> d("jobs.failed_tasks"),
      "driver.outside_jobs_ms" -> (wallMs - jobsWallMs),
      "driver.residual_ms" ->
        (wallMs - jobsWallMs - analysis - optimization - planning - compileMs),
      "fs.read_ops" -> d("fs.read_ops"),
      "fs.write_ops" -> d("fs.write_ops"),
      "fs.list_ops" -> d("fs.list_ops"),
      "fs.bytes_read" -> d("fs.bytes_read"),
      "fs.bytes_written" -> d("fs.bytes_written"))
  }

  /** Seconds per layer for the "top three layers" ranking. Catalyst and
    * codegen run on the driver, often while no job runs, so the residual
    * is what is left once all three named layers are taken out. */
  def layerSeconds(l: Map[String, Double]): Seq[(String, Double)] =
    if (l.isEmpty) Nil else Seq(
    "catalyst" -> (l("catalyst.analysis_ms") + l("catalyst.optimization_ms") +
      l("catalyst.planning_ms")) / 1000.0,
    "codegen" -> l("codegen.compile_ms") / 1000.0,
    "jobs" -> l("jobs.wall_ms") / 1000.0,
    "driver.residual" -> l("driver.residual_ms") / 1000.0,
  ).sortBy(-_._2)
}
