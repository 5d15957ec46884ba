package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Main code builds its SparkSession in one place, `LocalSession.start`,
  * resolves graft functions by name in one place, `GraftFunctions`, pins
  * blocks through `AnnStore.trackedCheckpoint`, and routes IVF cells through
  * `AnnIvf.probeIds`: file scans keep per-entry-point builders, per-call
  * function registration, untracked pins and probe-rule copies from
  * growing back.
  */
class SessionFactorySpec extends AnyFunSuite {

  /** The file name of every `dir` line containing `needle`. */
  private def sites(dir: String, needle: String): List[String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(f => Files.readAllLines(f).asScala.filter(_.contains(needle))
        .map(_ => f.getFileName.toString))
      .toList
  }

  private def mainSites(needle: String): List[String] = sites("src/main/scala", needle)

  test("src/main/scala has exactly one SparkSession.builder() call, in LocalSession") {
    assert(mainSites("SparkSession.builder()") == List("LocalSession.scala"))
  }

  test("src/main/scala looks up no graft function by name; registerAll( only in GraftFunctions") {
    assert(mainSites("call_function(\"graft_") == Nil)
    assert(mainSites("registerAll(") == List("GraftFunctions.scala"))
  }

  test("src/main/scala pins blocks only through AnnStore.trackedCheckpoint, plus a reasoned allowlist") {
    val allowed = Map(
      "AnnStore.scala" -> 2, // trackedCheckpoint itself (body and scaladoc)
      "AnnGraph.scala" -> 1, // annGraph's in-query assignment, read by build and descent
      "Dedup.scala" -> 2) // connected components: the edge set and each round's lineage cut
    val found = mainSites(".localCheckpoint()").groupBy(identity).map { case (f, l) => f -> l.size }
    assert(found == allowed)
  }

  test("one probe rule: the retired probe-selection copies are gone from src") {
    // split literals so this file does not match its own needles
    for (name <- Seq("probeList" + "Over", "probeIds" + "For", "cosine" + "FD"))
      assert(sites("src", name) == Nil, s"$name reappeared")
  }
}
