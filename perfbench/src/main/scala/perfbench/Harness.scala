package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One JVM of the benchmark. A warm workload sets up (session, an
  * untimed check pass whose outputs are the ones checked and which also
  * warms every step, and the workload's untimed warm passes), then times
  * passes until `--seconds` have passed. A cold workload is a batch job,
  * which pays its start-up on every run: its one pass is timed in the
  * fresh JVM and its outputs are the ones checked. Writes its
  * measurements as JSON to `--result`; `perfbench/run.py` compares the
  * check outputs with the oracle and prints the benchmark's result line.
  *
  * A traced run (`--trace 1`) warms up every workload, then alternates
  * traced and untraced passes: the traced ones, with the listeners and
  * spans on, give the per-layer metrics, and the two medians together
  * the tracing overhead. */
object Harness {
  /** No new pass starts after this many seconds since launch. */
  val Deadline = 120.0

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, sf: String, out: String, result: String,
      launchMs: Long, cpus: Int)

  final case class Failure(step: String, pass: Int, error: String)

  /** A timed pass: wall, and the JIT and GC time within it. */
  final case class Pass(wallS: Double, jitS: Double, gcS: Double,
      layers: Map[String, Double])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("sf"), m("out"), m("result"), m("launch-ms").toLong,
      m("cpus").toInt)
  }

  def session(cpus: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "graft.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.NioLocalFsAbstract")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val failures = mutable.ArrayBuffer[Failure]()
    var attempted = 0
    val spans = new Spans
    val (spark, sessionS) = seconds(session(args.cpus, args.out + "/scratch"))
    val sc = spark.sparkContext
    val sparkTrace = new SparkTrace
    val catalyst = new CatalystTrace
    /** Turns the listeners and spans on or off between passes, once the
      * events of the last pass have all been delivered. */
    def tracing(on: Boolean): Unit = if (on != spans.enabled) {
      PerfbenchBus.drain(sc)
      spans.enabled = on
      if (on) {
        sc.addSparkListener(sparkTrace)
        spark.listenerManager.register(catalyst)
      } else {
        sc.removeSparkListener(sparkTrace)
        spark.listenerManager.unregister(catalyst)
      }
    }

    val workload = Workloads(args.workload, spark, args.sf, spans)
    /** (pass, step, wall seconds, process CPU seconds) of every step run */
    val stepSeconds = mutable.ArrayBuffer[(Int, String, Double, Double)]()

    /** Runs every step once, in the seed's order for a timed pass and in
      * the declared order for the set-up passes (index 0), so that every
      * seed warms the JIT alike; a step that throws is a failure and the
      * pass goes on. Caches are cleared at both ends of a pass, and before
      * every step whose input is not cached for it by an earlier step. */
    def pass(index: Int, sink: Sink): Unit = {
      val order = workload.first ++ (if (index == 0) workload.steps
        else new Random(args.seed * 1000003L + index).shuffle(workload.steps))
      spark.catalog.clearCache()
      order.foreach { step =>
        if (!workload.stepsShareCache) spark.catalog.clearCache()
        sc.setLocalProperty(SparkTrace.TagKey, s"$index/${step.name}")
        attempted += 1
        val t0 = System.nanoTime()
        val cpu0 = Counters.processCpuSeconds()
        try spans(step.name)(step.run(sink))
        catch { case e: Throwable =>
          failures += Failure(step.name, index,
            String.valueOf(e.getMessage).linesIterator.take(3).mkString(" "))
        } finally {
          sc.setLocalProperty(SparkTrace.TagKey, null)
          stepSeconds += ((index, step.name, (System.nanoTime() - t0) / 1e9,
            Counters.processCpuSeconds() - cpu0))
        }
      }
      spark.catalog.clearCache()
    }

    val noop: Sink = (_, df) => df.write.format("noop").mode("overwrite").save()
    val parquet: Sink = (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"${args.out}/check/$name")
    // A traced run warms up every workload, at least once more than the
    // check pass, so that its traced and untraced passes do not differ by
    // how warm the JIT is; its per-layer metrics describe warm passes.
    val cold = workload.cold && !args.trace
    val warmPasses = workload.warmPasses.max(if (args.trace) 1 else 0)
    val (_, warmupS) = seconds {
      if (!cold) {
        pass(0, parquet)
        (1 to warmPasses).foreach(_ => pass(0, noop))
      }
    }
    val setupS = (System.currentTimeMillis() - args.launchMs) / 1e3

    val passes = mutable.ArrayBuffer[Pass]()
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    def launchElapsed = (System.currentTimeMillis() - args.launchMs) / 1e3
    // a traced run times at least one pass of each kind
    val minPasses = workload.minPasses.max(if (args.trace) 2 else 1)
    def more = passes.size < minPasses ||
      (!cold && elapsed < args.seconds && launchElapsed < Deadline)
    while (more) {
      val index = passes.size + 1
      // traced runs trace the odd passes
      val traced = args.trace && index % 2 == 1
      tracing(traced)
      spans.pass = index
      val before = Counters.snapshot() ++ catalyst.snapshot()
      val hook0 = sparkTrace.hookNs.get + catalyst.hookNs.get
      val jit0 = Counters.jitSeconds()
      val gc0 = Counters.gcSeconds()
      val (_, wall) = seconds(pass(index, if (cold) parquet else noop))
      val jit = Counters.jitSeconds() - jit0
      val gc = Counters.gcSeconds() - gc0
      val layers = if (!traced) Map.empty[String, Double] else {
        PerfbenchBus.drain(sc)
        val jobs = sparkTrace.jobsTagged(_.startsWith(s"$index/"))
        val d = Counters.delta(before, Counters.snapshot() ++ catalyst.snapshot())
        val spark = SparkTrace.metrics(jobs, wall)
        val amp = spark("spark.output_mb") match {
          case 0.0 => 0.0
          case out => d("fs.bytes_written_mb") / out
        }
        val callbackS =
          (sparkTrace.hookNs.get + catalyst.hookNs.get - hook0) / 1e9
        d ++ spark ++ spans.byName(index) ++ Map(
          "txn.write_amp" -> amp, "trace.callback_s" -> callbackS)
      }
      passes += Pass(wall, jit, gc, layers)
    }
    tracing(false)

    // A pass's figure is the sum over its steps of each step's median over
    // the timed passes: a burst of load on the host that slows one step
    // of one pass moves no median, where it would move that pass's total.
    val timedSteps = stepSeconds.filter(_._1 > 0).toSeq
    def perStep(f: ((Int, String, Double, Double)) => Double): Double =
      timedSteps.groupBy(_._2).values.map(s => median(s.map(f))).sum
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload,
      "seed" -> args.seed,
      "spark_version" -> spark.version,
      "passes" -> passes.size,
      "pass_s" -> perStep(_._3),
      "cpu_s" -> perStep(_._4),
      "setup_s" -> setupS,
      "peak_rss_mb" -> Counters.peakRssMb(),
      "attempted" -> attempted,
      "failures" -> failures.map(f =>
        Map("step" -> f.step, "pass" -> f.pass, "error" -> f.error)),
      "pass_walls" -> passes.map(_.wallS),
      "pass_jit_s" -> passes.map(_.jitS),
      "pass_gc_s" -> passes.map(_.gcS),
      "step_s" -> stepSeconds.map { case (p, n, t, c) => Seq(p, n, t, c) })
    if (args.trace) {
      val (traced, untraced) = passes.partition(_.layers.nonEmpty)
      val names = traced.flatMap(_.layers.keys).distinct.toSeq
      val layers = names.map(n => n -> median(traced.map(_.layers(n)).toSeq))
      val tracedS = median(traced.map(_.wallS).toSeq)
      val untracedS = median(untraced.map(_.wallS).toSeq)
      result ++= Map("layers" -> (layers.toMap ++ Map(
        "setup.session_s" -> sessionS,
        "setup.warmup_s" -> warmupS,
        "jvm.heap_peak_mb" -> Counters.heapPeakMb(),
        "trace.overhead_pct" -> 100 * (tracedS - untracedS) / untracedS)))
      result ++= Map("spans" -> spans.all.map(s => Map(
        "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    }
    Files.createDirectories(Paths.get(args.out, "check"))
    Files.writeString(Paths.get(args.out, "check", "oracle_sql.json"),
      graft.OracleJson.render(workload.oracleSql))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(args.result), mapper.writeValueAsString(result))
    spark.stop()
  }
}
