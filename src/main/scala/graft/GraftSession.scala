package graft

import org.apache.spark.sql.SparkSession

/** The engine's one Spark session definition. Every entry point — the
  * Bench/Verify/Explain mains, the profilers and the specs — starts its
  * session here, so a session setting is a one-line edit and the test
  * session cannot drift from the production one. */
object GraftSession {

  /** The engine's Catalyst extension class: SQL functions, optimizer
    * rule and the as-of join planner strategy. */
  val extensions: String = classOf[graft.functions.GraftExtensions].getName

  /** Every setting [[builder]] applies, for a `local[cpus]` session. */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // fork-free local-FS permissions (graft.NioLocalFs): Hadoop
    // shells out chmod per created file without libhadoop native
    "spark.hadoop.fs.file.impl" -> "graft.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.NioLocalFsAbstract",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> Fs.scratch("graft_spark_warehouse"),
    // The whole-stage-codegen class cache. The default 100 entries is
    // smaller than ONE txn-lifecycle query's ~150 generated classes, so
    // every statement recompiled its fragments on every rep (qec rep-2:
    // 141 Janino compilations with the default, 0 at 8192; the qd/qe
    // lifecycle family's tail improved 1.3-1.9x). Plan-count-dependent,
    // not data-size-dependent — a production driver serving many
    // distinct statements wants the same headroom.
    "spark.sql.codegen.cache.maxEntries" -> "8192")

  /** The shared settings without the extensions. Only the test session
    * uses it directly: its specs exercise the runtime
    * `GraftExtensions.register*` path, which an extension session would
    * turn into a no-op. */
  def builder(cpus: Int): SparkSession.Builder =
    conf(cpus).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** The production session: the shared settings plus the extensions,
    * activated the sanctioned way (at session construction). */
  def build(cpus: Int): SparkSession =
    builder(cpus).config("spark.sql.extensions", extensions).getOrCreate()
}
