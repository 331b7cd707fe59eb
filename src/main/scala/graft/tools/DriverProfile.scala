package graft.tools

import java.lang.management.ManagementFactory

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Optimization-round measurement harness (guide §1, §7.3): decompose a
  * query's DRIVER time — the part JobProfile reports only as "gap" —
  * into its actual constituents:
  *
  *   - Catalyst phase times summed over every QueryExecution the query
  *     triggers (parsing / analysis / optimization / planning, from
  *     `qe.tracker.phases`), plus the number of executions (≈ eager
  *     statements);
  *   - whole-stage-codegen Janino compilations (count + total ms, from
  *     `CodegenMetrics`);
  *   - JVM background JIT time, classes loaded, GC time (MX beans);
  *   - TxnTable manifest reads (`TxnTable.manifestReads`).
  *
  * Usage: tools/run_main.sh graft.tools.DriverProfile <sfDir> qec qek ...
  */
object DriverProfile {

  private case class JobT(start: Long, var end: Long = 0L)
  private val jobs = mutable.LinkedHashMap[Int, JobT]()
  private val phaseMs = mutable.Map[String, Long]().withDefaultValue(0L)
  private var nExec = 0

  private def codegenTotalMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }
  private def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  private case class Snap(cgN: Long, cgMs: Double, jit: Long, cls: Long,
      gc: Long, mr: Long)
  private def snap(): Snap = Snap(
    codegenCount, codegenTotalMs,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
    gcMs, graft.sources.TxnTable.manifestReads.get())

  private def profileOne(name: String, df: => DataFrame): Unit = {
    jobs.synchronized(jobs.clear())
    phaseMs.synchronized { phaseMs.clear(); nExec = 0 }
    val s0 = snap()
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400) // let the async listener bus drain
      var jobSumMs = 0L
      jobs.synchronized {
        jobs.values.foreach(j => jobSumMs += (j.end - j.start).max(0L))
      }
      val jobSum = jobSumMs / 1e3
      val phases = phaseMs.synchronized(phaseMs.toMap)
      var execs = 0
      phaseMs.synchronized { execs = nExec }
      val s1 = snap()
      report(name, wall, jobSum, execs, phases, s0, s1)
    } catch { case e: Throwable =>
      println(s"[driver] $name FAILED: ${e.getMessage}")
    }
  }

  private def report(name: String, wall: Double, jobSum: Double, execs: Int,
      phases: Map[String, Long], s0: Snap, s1: Snap): Unit = {
    val phStr = phases.toSeq.sortBy(-_._2)
      .map { case (p, ms) => p + "=" + "%.2f".format(ms / 1e3) + "s" }
      .mkString(" ")
    val phSum = phases.values.sum / 1e3
    println()
    println("[driver] " + name +
      " wall=" + "%.2f".format(wall) +
      "s jobSum=" + "%.2f".format(jobSum) +
      "s gap=" + "%.2f".format(wall - jobSum) +
      "s execs=" + execs)
    println("  catalyst: total=" + "%.2f".format(phSum) + "s  " + phStr)
    println("  codegen: n=" + (s1.cgN - s0.cgN) +
      " ms=" + (s1.cgMs - s0.cgMs).round +
      "  jit=" + (s1.jit - s0.jit) +
      "ms  classes=" + (s1.cls - s0.cls) +
      "  gc=" + (s1.gc - s0.gc) +
      "ms  manifestReads=" + (s1.mr - s0.mr))
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val wanted = args.drop(1).toSeq
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs(e.jobId) = JobT(e.time) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = phaseMs.synchronized {
        nExec += 1
        qe.tracker.phases.foreach { case (p, s) =>
          phaseMs(p) += (s.endTimeMs - s.startTimeMs)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })

    // warm-up outside the measured region (same as Bench)
    spark.range(1000000).selectExpr("sum(id) s", "avg(id) a")
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$dir/lineitem.parquet").limit(1000)
      .write.format("noop").mode("overwrite").save()

    val reps = sys.env.getOrElse("GRAFT_PROFILE_REPS", "1").toInt
    SparkEntry.select(wanted).foreach { case (name, fn) =>
      (1 to reps).foreach(r =>
        profileOne(if (r == 1) name else s"$name#$r", fn(spark, dir)))
    }
    spark.stop()
  }
}
