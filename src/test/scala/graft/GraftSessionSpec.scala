package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The test session is the production session minus the extensions,
  * and the extension class the production session names is loadable. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries every setting GraftSession.builder sets") {
    val conf = spark.conf.getAll
    GraftSession.conf(4).foreach { case (k, v) =>
      // Spark stores the warehouse dir qualified with its filesystem
      val expected = if (k == "spark.sql.warehouse.dir") s"file:$v" else v
      assert(conf.get(k).contains(expected),
        s"$k = ${conf.get(k)} in the test session, GraftSession sets $expected")
    }
  }

  test("the spark.sql.extensions class of GraftSession.build loads and applies") {
    // the same load Spark performs at session construction, where a bad
    // name would otherwise surface only when a main starts
    val cls = Class.forName(GraftSession.extensions)
    assert(classOf[SparkSessionExtensions => Unit].isAssignableFrom(cls))
    val ext = new SparkSessionExtensions
    cls.getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit](ext)
  }
}
