package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every Spark session in `src/` is built by [[GraftSession]]: a second
  * builder site is a copy of the session settings that drifts (the
  * copies had already diverged on the codegen cache, the NioLocalFs
  * registration and the extensions before they were folded into one). */
class SessionBuilderLintSpec extends AnyFunSuite {
  private val repoRoot = Paths.get(sys.props.getOrElse("user.dir", "."))
  private val builderCall = """\bSparkSession\s*\.\s*builder\b""".r

  private def scalaFiles(dir: String): Seq[Path] = {
    val walk = Files.walk(repoRoot.resolve(dir))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("GraftSession.scala holds the only SparkSession builder call in src/") {
    val sites = (scalaFiles("src/main") ++ scalaFiles("src/test")).flatMap { p =>
      val n = builderCall.findAllMatchIn(Files.readString(p)).size
      if (n > 0) Some(repoRoot.relativize(p).toString -> n) else None
    }.toMap
    assert(sites == Map("src/main/scala/graft/GraftSession.scala" -> 1),
      s"build sessions through graft.GraftSession; builder calls found: $sites")
  }
}
