package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and executor work of one Spark job, summed over its tasks. */
final class JobAgg(val tag: String, val start: Long) {
  var end: Long = -1L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** Spark listener that sums stage and task work per job.
  *
  * A stage belongs to the first job whose `SparkListenerJobStart.stageIds`
  * lists it, and a task to the job of its stage. This stays right when
  * jobs overlap, as the concurrent KMeans fits of k-selection do; the
  * "most recent job" rule would give every stage to whichever job
  * started last. A job carries the tag that was the local property
  * [[SparkTrace.TagKey]] of the thread that submitted it. */
final class SparkTrace extends SparkListener {
  /** Nanoseconds spent inside this listener's callbacks. */
  val hookNs = new java.util.concurrent.atomic.AtomicLong
  private val jobs = mutable.LinkedHashMap[Int, JobAgg]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmitted = mutable.Map[(Int, Int), Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkTrace.TagKey))).getOrElse("")
    jobs(e.jobId) = new JobAgg(tag, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    timed {
      val i = e.stageInfo
      stageSubmitted((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed {
      jobOf(e.stageInfo.stageId).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    jobOf(e.stageId).foreach { j =>
      val info = e.taskInfo
      j.tasks += 1
      if (info.failed || info.killed) j.failedTasks += 1
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { t =>
        j.waitMs += (info.launchTime - t).max(0L)
      }
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(body)
    hookNs.addAndGet(System.nanoTime() - t0)
  }

  private def jobOf(stageId: Int): Option[JobAgg] =
    stageJob.get(stageId).flatMap(jobs.get)

  /** Jobs whose tag satisfies `p`. */
  def jobsTagged(p: String => Boolean): Seq[JobAgg] = synchronized {
    jobs.values.filter(j => p(j.tag)).toSeq
  }
}

object SparkTrace {
  val TagKey = "perfbench.tag"

  /** Wall seconds during which at least one of `jobs` was running. */
  def busySeconds(jobs: Seq[JobAgg]): Double = {
    var busy = 0L
    var reach = Long.MinValue
    jobs.filter(_.end >= 0).sortBy(_.start).foreach { j =>
      val from = j.start.max(reach)
      if (j.end > from) busy += j.end - from
      reach = reach.max(j.end)
    }
    busy / 1e3
  }

  /** The scheduler, executor, shuffle and IO metrics of a set of jobs. */
  def metrics(jobs: Seq[JobAgg], wallSeconds: Double): Map[String, Double] = {
    def sum(f: JobAgg => Long) = jobs.map(f).sum.toDouble
    val mb = 1024.0 * 1024.0
    val busy = busySeconds(jobs)
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.failed_tasks" -> sum(_.failedTasks),
      "spark.task_run_s" -> sum(_.runMs) / 1e3,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.task_gc_s" -> sum(_.gcMs) / 1e3,
      "spark.task_wait_s" -> sum(_.waitMs) / 1e3,
      "spark.job_busy_s" -> busy,
      "spark.driver_only_s" -> (wallSeconds - busy).max(0.0),
      "spark.shuffle_read_mb" -> sum(_.shuffleReadBytes) / mb,
      "spark.shuffle_write_mb" -> sum(_.shuffleWriteBytes) / mb,
      "spark.spill_mb" -> sum(_.spillBytes) / mb,
      "spark.input_mb" -> sum(_.inputBytes) / mb,
      "spark.output_mb" -> sum(_.outputBytes) / mb)
  }
}

/** Counts the statements Catalyst plans and sums its phase times. */
final class CatalystTrace extends QueryExecutionListener {
  /** Nanoseconds spent inside this listener's callbacks. */
  val hookNs = new java.util.concurrent.atomic.AtomicLong
  private var statements = 0L
  private val phaseMs = mutable.Map[String, Long]().withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val t0 = System.nanoTime()
    synchronized {
      statements += 1
      qe.tracker.phases.foreach { case (phase, s) =>
        phaseMs(phase) += s.endTimeMs - s.startTimeMs
      }
    }
    hookNs.addAndGet(System.nanoTime() - t0)
  }

  def snapshot(): Map[String, Double] = synchronized {
    Map(
      "catalyst.statements" -> statements.toDouble,
      "catalyst.analysis_s" -> phaseMs("analysis") / 1e3,
      "catalyst.optimization_s" -> phaseMs("optimization") / 1e3,
      "catalyst.planning_s" -> phaseMs("planning") / 1e3)
  }
}

/** Process-wide cumulative counters, read before and after a pass. */
object Counters {
  private val mb = 1024.0 * 1024.0

  def snapshot(): Map[String, Double] = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    val codegen = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    Map(
      "codegen.compiles" -> codegen.getCount.toDouble,
      "codegen.compile_s" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .compileTime / 1e9,
      "txn.manifest_reads" ->
        graft.sources.TxnTable.manifestReads.get().toDouble,
      "fs.read_ops" -> procIo("syscr"),
      "fs.write_ops" -> procIo("syscw"),
      "fs.bytes_read_mb" -> fs.map(_.getBytesRead.toDouble).sum / mb,
      "fs.bytes_written_mb" -> fs.map(_.getBytesWritten.toDouble).sum / mb,
      "jvm.gc_s" -> gcSeconds(),
      "jvm.jit_s" -> jitSeconds())
  }

  /** Collection time so far, summed over the collectors. */
  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Compilation time so far, summed over the JIT's compiler threads. */
  def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** A counter of /proc/self/io. The local Hadoop filesystem counts
    * bytes but no operations, so operations are the process's read and
    * write system calls. */
  private def procIo(key: String): Double =
    scala.io.Source.fromFile("/proc/self/io").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble)
      .getOrElse(0.0)

  def delta(before: Map[String, Double],
      after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** Process CPU seconds so far, every thread of the JVM included. */
  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Sum of the heap pools' peak usage since the JVM started. */
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / mb

  /** High-water resident set size of this process (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** A timed section of the benchmark: a call into one layer. */
final case class Span(name: String, parent: String, pass: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span log. Spans are kept only while `enabled`, in traced
  * runs; otherwise a call site costs one flag check. */
final class Spans {
  @volatile var enabled = false
  @volatile var pass = 0
  private val log = mutable.ArrayBuffer[Span]()
  private val counts = mutable.Map[(Int, String), Double]()
  private val stack = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parents = stack.get()
      stack.set(name :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val span = Span(name, parents.headOption.getOrElse(""), pass, t0,
          System.nanoTime())
        stack.set(parents)
        log.synchronized(log += span)
      }
    }

  /** Adds `n` to a per-pass value kept beside the spans. */
  def add(name: String, n: Double): Unit =
    if (enabled) counts.synchronized {
      counts((pass, name)) = counts.getOrElse((pass, name), 0.0) + n
    }

  def all: Seq[Span] = log.synchronized(log.toList)

  /** Seconds per span name, and the added values, for one pass. */
  def byName(pass: Int): Map[String, Double] =
    all.filter(_.pass == pass).groupMapReduce(_.name + "_s")(_.seconds)(_ + _) ++
      counts.synchronized(counts.collect { case ((`pass`, n), v) => n -> v })
}
