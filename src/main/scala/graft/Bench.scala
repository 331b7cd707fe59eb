package graft

/** Driver-run benchmark: every SparkEntry query executed end-to-end at
  * SPARK_GRAFT_SF_DIR (default sf0.1), one JSON line to stdout.
  *
  * Queries are forced through the `noop` datasource sink — a plain
  * `.count()` would let Catalyst prune the projections under test (a
  * count over q19's string functions never evaluates them), so noop is
  * the honest "compute everything, write nothing" harness. */
object Bench {
  def main(args: Array[String]): Unit = {
    // optional prefix filter (dev only — the driver always runs all):
    // tools/run_main.sh graft.Bench q52 q5a
    val wanted = args.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up: JVM/codegen/shuffle-infra first-use costs land
    // here instead of inside whichever query happens to run first
    spark.range(1000000).selectExpr("sum(id) s", "avg(id) a")
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .write.format("noop").mode("overwrite").save()
    // r14 (guide §1 measurement hygiene, documented in
    // OPTIMIZATION_r14.md): the r13 harness warmed only scan+agg, so
    // whichever queries ran FIRST absorbed the one-time JVM costs of
    // the OTHER executor paths — broadcast-exchange machinery, the
    // sort/exchange pipeline, and the parquet WRITE path (q0b's first
    // rep measured 8.7 s vs 1.7 s steady-state purely from this).
    // Exercise each once, untimed; per-query timing methodology is
    // unchanged.
    locally {
      import org.apache.spark.sql.functions.broadcast
      val a = spark.range(100000).selectExpr("id", "id % 97 AS k")
      val b = spark.range(97).selectExpr("id AS k", "id * 2 AS v")
      a.join(broadcast(b), "k").groupBy("k").count().orderBy("k")
        .write.format("noop").mode("overwrite").save()
      val wdir = graft.Fs.scratch("graft_bench_warmup")
      a.limit(10000).repartition(2).write.mode("overwrite").parquet(wdir)
      spark.read.parquet(wdir).write.format("noop").mode("overwrite").save()
      graft.Fs.deleteRecursively(wdir)
    }
    // Caches follow SparkEntry.runGrouped's group policy.
    //
    // Each query runs SPARK_GRAFT_BENCH_REPS times (default 2) and
    // reports the per-query MIN: round-2/3 single-sample numbers made a
    // noisy run and a real regression indistinguishable (q73 recorded
    // 47.8 s then 204.2 s with no query change). Min-of-N is the
    // standard low-variance point estimate for a repeatable workload.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // adaptive extra reps: the documented host-noise bursts (BENCH_NOTES
    // .md) last minutes and hit CONSECUTIVE reps of the same query, so
    // min-of-2 alone can still record a 10-70x-inflated number. When the
    // base reps disagree by >2.5x, take up to N extra samples — free on
    // a quiet machine (reps agree), and a later sample lands after the
    // burst often enough to recover the true min.
    // threshold 2.0 / up to 2 extra: a real round-5 trace (26.4 s and
    // 64.7 s reps, ratio 2.45) slipped under the original 2.5 cutoff
    // and recorded a burst-inflated min — 2.0 catches that class, and
    // agreeing reps on a quiet machine still take zero extra samples
    val maxExtra = sys.env.getOrElse("SPARK_GRAFT_BENCH_ADAPT", "2").toInt.max(0)
    // committed quiet-floor guard (round-6 verdict item 5): min-of-N +
    // the ratio test still record an inflated number when a host-noise
    // burst spans EVERY sample (the reps then agree with each other,
    // just both slow — five such numbers shipped in BENCH_r06). The
    // repo carries the last quiet-window per-query mins; when this
    // run's min is still > 3x that committed floor, the burst likely
    // outlived the base reps — spend extra samples hoping to land past
    // it. The floor only ADDS reps, never edits a measurement: a real
    // 3x regression simply pays maxExtra reps and then records itself.
    val quietPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET", "tools/bench_quiet.json")
    val quietFloor: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(quietPath)), java.nio.charset.StandardCharsets.UTF_8)
        """"([^"]+)"\s*:\s*([0-9][0-9.]*)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val failed = Seq.newBuilder[String]
    val results = SparkEntry.runGrouped(spark, wanted) { (name, fn) =>
      var ok = true
      def rep(): Option[Double] =
        if (!ok) None // a failed query doesn't retry — it's in "failed"
        else {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed += name
            ok = false
            // a failed rep's time-to-failure is NOT a measurement — a
            // 0.3s crash after a 48s success must not win the min
            None
          }
        }
      var times = (1 to reps).flatMap(_ => rep())
      var extra = 0
      while (ok && extra < maxExtra && times.length >= 2 &&
          times.max / times.min.max(1e-9) > 2.0) {
        times = times ++ rep()
        extra += 1
      }
      // quiet-floor pass: separate budget from the ratio pass, so a
      // burst that makes the reps AGREE (both inflated) still gets
      // extra samples
      var extraQuiet = 0
      while (ok && extraQuiet < maxExtra && times.nonEmpty &&
          quietFloor.get(name).exists(q => times.min > 3.0 * q)) {
        times = times ++ rep()
        extraQuiet += 1
      }
      // ANY failed rep marks the query failed (-1.0), even if another rep
      // succeeded — a query can't be both "failed" and carry a valid time
      val dt = if (ok && times.nonEmpty) times.min else -1.0
      System.err.println(
        f"[bench] $name $dt%.2fs (min of ${times.length}: " +
          times.map(t => f"$t%.1f").mkString(",") + ")" + (if (ok) "" else " FAILED"))
      name -> (dt, times)
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":${v._1}%.3f" }
      .mkString("{", ",", "}")
    val failedArr = failed.result().map("\"" + _ + "\"").mkString("[", ",", "]")
    // failed queries (dt == -1.0 marker) must not deflate the aggregate —
    // the total reflects successful measurements only; failures are
    // visible via "failed" + the nonzero exit
    val total = results.collect { case (_, (v, _)) if v >= 0 => v }.sum
    // a failed query must be machine-distinguishable from a fast success:
    // listed in "failed" AND the process exits nonzero
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"reps":$reps,"failed":$failedArr,"sf":"$sfDir"}""")
    // full machine-readable artifact (round-7 verdict item 3): the
    // driver's BENCH_r{N}.json only keeps a truncated stdout tail, so
    // the per-query history had to be excavated from logs. Bench itself
    // now writes the complete map — min + every sample per query — to a
    // committed path; cross-round diffs read THIS, not the tail.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "tools/bench_full.json")
    if (wanted.isEmpty && outPath.nonEmpty) {
      val body = results.map { case (k, (v, samples)) =>
        val ss = samples.map(t => f"$t%.3f").mkString("[", ",", "]")
        f""" "$k": {"min": $v%.3f, "samples": $ss}"""
      }.mkString(",\n")
      val doc =
        f"""{
           |"sf": "$sfDir",
           |"reps": $reps,
           |"total_sec": $total%.3f,
           |"failed": $failedArr,
           |"queries": {
           |$body
           |}
           |}""".stripMargin
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), doc)
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed.result().nonEmpty) sys.exit(1)
  }
}
