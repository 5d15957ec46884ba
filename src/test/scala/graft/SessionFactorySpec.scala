package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Main code builds its SparkSession in one place, `LocalSession.start`:
  * a file scan keeps per-entry-point builders (each with its own conf and
  * core-count default) from growing back.
  */
class SessionFactorySpec extends AnyFunSuite {

  test("src/main/scala has exactly one SparkSession.builder() call, in LocalSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val sites = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(f => Files.readAllLines(f).asScala.filter(_.contains("SparkSession.builder()"))
        .map(_ => f.getFileName.toString))
      .toList
    assert(sites == List("LocalSession.scala"))
  }
}
