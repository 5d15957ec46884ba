package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Main code builds its SparkSession in one place, `LocalSession.start`, and
  * resolves graft functions by name in one place, `GraftFunctions`: file
  * scans keep per-entry-point builders (each with its own conf and
  * core-count default) and per-call function registration from growing back.
  */
class SessionFactorySpec extends AnyFunSuite {

  /** The file name of every `src/main/scala` line containing `needle`. */
  private def mainSites(needle: String): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(f => Files.readAllLines(f).asScala.filter(_.contains(needle))
        .map(_ => f.getFileName.toString))
      .toList
  }

  test("src/main/scala has exactly one SparkSession.builder() call, in LocalSession") {
    assert(mainSites("SparkSession.builder()") == List("LocalSession.scala"))
  }

  test("src/main/scala looks up no graft function by name; registerAll( only in GraftFunctions") {
    assert(mainSites("call_function(\"graft_") == Nil)
    assert(mainSites("registerAll(") == List("GraftFunctions.scala"))
  }
}
