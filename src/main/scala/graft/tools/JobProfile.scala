package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Optimization-round measurement harness (guide §1): run named queries
  * with a SparkListener recording every job's wall time, stage count and
  * task count, so a query's cost decomposes into its actual Spark jobs
  * (staged commits, read-backs, stats passes, microbatches) instead of
  * one opaque number. Usage:
  *   tools/run_main.sh graft.tools.JobProfile <sfDir> qdi qek ...
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val wanted = args.drop(1).toSeq
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    case class Job(id: Int, desc: String, start: Long,
        var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    // r15 (ADVICE): attribute stage completions by the job-start event's
    // declared stage ids — the old "most recently started job" guess
    // misattributed counts whenever jobs overlapped or a stage finished
    // after a newer job began.
    val stageToJob = mutable.Map[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          // fall back to the result stage's call site (e.g. "collect at
          // Dedup.scala:876") — always present on the stage infos
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        jobs(e.jobId) = Job(e.jobId, desc, e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1; j.tasks += e.stageInfo.numTasks
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // warm-up outside the measured region (same as Bench)
    spark.range(1000000).selectExpr("sum(id) s", "avg(id) a")
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$dir/lineitem.parquet").limit(1000)
      .write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_PROFILE_REPS > 1 runs warm-up reps first and profiles
    // only the LAST rep — the cold rep mixes JIT/codegen first-use into
    // the job times and hides the steady-state shape Bench's min-of-2
    // actually measures.
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt.max(1)
    SparkEntry.select(wanted).foreach { case (name, fn) =>
      (1 until reps).foreach { _ =>
        try fn(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val snap = jobs.synchronized(jobs.values.toSeq)
        val jobSum = snap.map(j => (j.end - j.start).max(0L)).sum / 1e3
        println(f"%n[profile] $name wall=$wall%.2fs jobs=${snap.size} " +
          f"jobTimeSum=$jobSum%.2fs gap=${wall - jobSum}%.2fs")
        snap.sortBy(j => -(j.end - j.start)).take(30).foreach { j =>
          println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3fs " +
            f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(110)}")
        }
      } catch { case e: Throwable =>
        println(s"[profile] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
