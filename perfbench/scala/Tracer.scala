package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters and spans for the traced run, recorded from the
  * benchmark side only: a SparkListener (jobs, stages, tasks, shuffle),
  * a QueryExecutionListener (Catalyst phase times of actions run inside
  * the library), JVM beans (JIT, GC) and Spark's codegen counters, each
  * snapshotted around every operation with the listener bus drained. */
final class Tracer(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {

  private val sc = spark.sparkContext
  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    counters.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  private val lastJob = new AtomicLong(-1L)
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val topLevel = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("sched.jobs", 1)
    lastJob.accumulateAndGet(e.jobId.toLong, (a, b) => math.max(a, b))
    jobStart.put(e.jobId, e.time)
    if (e.stageInfos.exists(_.details.contains("graft.core.Ckpt")))
      add("ckpt.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s.longValue, e.time)))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    add("sched.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_ms", m.executorRunTime)
      add("exec.task_cpu_us", m.executorCpuTime / 1000L)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle.spill_bytes", m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_us",
      "optimization" -> "catalyst.optimization_us", "planning" -> "catalyst.planning_us"))
      p.get(phase).foreach(s => add(key, s.durationMs * 1000L))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (!topLevel.synchronized(topLevel.contains(qe))) phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  private def jvm(): Map[String, Long] = Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "codegen.compile_us" -> CodeGenerator.compileTime / 1000L,
    "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum)

  private def snapshot(): Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.get() }.toMap ++ jvm()

  // current operation
  private var before: Map[String, Long] = Map.empty
  private var opStart = 0L
  private var opJob0 = -1L
  private var inOpOverheadNs = 0L
  private var constructNs = 0L
  private var driverJobs = 0L
  private var planUs = Map.empty[String, Long]

  // current pass
  private var passStartMs = 0L
  private var passOverheadNs = 0L
  private var passOps = mutable.LinkedHashMap.empty[String, Map[String, Double]]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

  def beginPass(): Unit = {
    drain()
    jobSpans.clear()
    passOps = mutable.LinkedHashMap.empty
    passOverheadNs = 0L
    passStartMs = System.currentTimeMillis()
  }

  def begin(op: String): Harness.Probe = {
    val t = System.nanoTime()
    drain()
    before = snapshot()
    opJob0 = lastJob.get()
    inOpOverheadNs = 0L
    constructNs = 0L
    driverJobs = 0L
    planUs = Map.empty
    passOverheadNs += System.nanoTime() - t
    currentOp = op
    opStart = System.nanoTime()
    new Harness.Probe {
      def constructed(): Unit = {
        val t = System.nanoTime()
        constructNs = t - opStart
        drain()
        driverJobs = lastJob.get() - opJob0
        inOpOverheadNs += System.nanoTime() - t
      }
      def planned(df: DataFrame): Unit = {
        val qe = df.queryExecution
        topLevel.synchronized(topLevel.add(qe))
        qe.executedPlan
        planUs = qe.tracker.phases.map { case (k, s) => k -> s.durationMs * 1000L }
      }
    }
  }
  private var currentOp = ""

  /** Closes the current operation; returns the tracing time spent inside
    * it (ms), which the caller subtracts from the operation's latency. */
  def end(): Double = {
    val t = System.nanoTime()
    drain()
    val after = snapshot()
    val delta = (after.keySet ++ before.keySet).map(k =>
      k -> (after.getOrElse(k, 0L) - before.getOrElse(k, 0L)).toDouble).toMap
    val storage = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val rec = delta ++ Map(
      "entry.construct_ms" -> (constructNs - inOpOverheadNs.min(constructNs)) / 1e6,
      "entry.driver_jobs" -> driverJobs.toDouble,
      "catalyst.analysis_us" -> (delta.getOrElse("catalyst.analysis_us", 0.0) + planUs.getOrElse("analysis", 0L)),
      "catalyst.optimization_us" -> (delta.getOrElse("catalyst.optimization_us", 0.0) + planUs.getOrElse("optimization", 0L)),
      "catalyst.planning_us" -> (delta.getOrElse("catalyst.planning_us", 0.0) + planUs.getOrElse("planning", 0L)),
      "ckpt.retained_mb" -> storage / 1048576.0)
    passOps(currentOp) = rec
    passOverheadNs += System.nanoTime() - t + inOpOverheadNs
    inOpOverheadNs / 1e6
  }

  def endPass(pass: Int): Unit = {
    drain()
    val endMs = System.currentTimeMillis()
    val spans = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, passStartMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- spans) {
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    val wallMs = (endMs - passStartMs).toDouble
    passes += Map("pass" -> pass, "wall_ms" -> wallMs,
      "overhead_ms" -> passOverheadNs / 1e6,
      "driver_gap_ms" -> (wallMs - passOverheadNs / 1e6 - busy),
      "ops" -> passOps.toMap)
  }

  def record(): Map[String, Any] = Map("cores" -> cores, "passes" -> passes.toSeq)
}
