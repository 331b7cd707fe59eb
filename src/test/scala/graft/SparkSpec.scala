package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; specs
  * run on the sf0.001 fixtures so the whole suite stays fast). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // the shared production settings WITHOUT the extensions: the specs
    // exercise the runtime GraftExtensions.register* path (ExtensionsSpec,
    // ChangeFeedSpec), which an extension session would make a no-op.
    // The whole suite doubles as an integration test of graft.NioLocalFs.
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
