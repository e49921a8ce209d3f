package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Census of the session options the engine reads, over the `src/main`
  * sources. A new `spark.graft.*` key is a new code path to keep tested,
  * so adding one means changing the expected set here on purpose. No
  * plan may read the global `SQLConf` while it is being built: the
  * thread-local conf a builder sees is not necessarily the session the
  * plan runs in. */
class OptionCensusSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toList
    finally files.close()
  }

  test("the spark.graft.* keys read in src/main are exactly the known set") {
    assert(sources.nonEmpty, "src/main not found from the working directory")
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]+)\"".r
    val keys = sources.flatMap { case (_, src) =>
      key.findAllMatchIn(src).map(_.group(1)) }.toSet
    assert(keys == Set("bandBreakEven", "localCcEdges",
      "reliableCheckpoint", "checkpointDir"))
  }

  test("no source in src/main calls SQLConf.get") {
    val offenders = sources.collect {
      case (path, src) if "SQLConf\\s*\\.\\s*get\\b".r.findFirstIn(src).nonEmpty =>
        path
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
