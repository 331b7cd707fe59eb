package perfbench

import java.util.concurrent.CountDownLatch

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SparkTraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def job(tag: String, start: Long, end: Long): JobAgg = {
    val j = new JobAgg(tag, start)
    j.end = end
    j
  }

  test("busy time is the union of the job intervals") {
    val jobs = Seq(job("a", 0, 1000), job("b", 500, 1500), job("c", 3000, 3500),
      job("d", 3100, 3200), job("open", 4000, -1))
    assert(SparkTrace.busySeconds(jobs) == 2.0)
    assert(SparkTrace.metrics(jobs, 5.0)("spark.driver_only_s") == 3.0)
  }

  test("stages and tasks of overlapping jobs go to the job that ran them") {
    val sc = spark.sparkContext
    val trace = new SparkTrace
    sc.addSparkListener(trace)
    // `first` is still running when `second` starts and finishes, so a
    // "most recent job" rule would hand first's stage and tasks to second
    val secondDone = new CountDownLatch(1)
    def inThread(body: => Unit) = {
      val t = new Thread(() => body)
      t.start()
      t
    }
    val first = inThread {
      sc.setLocalProperty(SparkTrace.TagKey, "first")
      sc.parallelize(1 to 3, 3).map { x => Thread.sleep(1500); x }.reduce(_ + _)
    }
    Thread.sleep(300)
    val second = inThread {
      sc.setLocalProperty(SparkTrace.TagKey, "second")
      sc.parallelize(1 to 100, 5).map(x => (x % 3, x)).reduceByKey(_ + _, 2)
        .collect()
      secondDone.countDown()
    }
    secondDone.await()
    first.join()
    second.join()
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(trace)

    val Seq(f) = trace.jobsTagged(_ == "first")
    val Seq(s) = trace.jobsTagged(_ == "second")
    assert((f.stages, f.tasks) == ((1L, 3L)))
    assert((s.stages, s.tasks) == ((2L, 7L)))
    assert(s.start > f.start && s.end < f.end)
    assert(f.runMs >= 3 * 1500)
    assert(s.shuffleWriteBytes > 0 && f.shuffleWriteBytes == 0)
    assert(trace.hookNs.get > 0)
  }
}
