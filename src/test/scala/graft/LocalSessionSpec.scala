package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard for the one local session profile: the spec session runs
  * on exactly the settings every bundled main gets, and no second session
  * builder can appear in the sources to drift away from it. */
class LocalSessionSpec extends SparkSpec {

  test("the spec session carries every LocalSession setting unchanged") {
    val drift = LocalSession.settings(4).filterNot { case (k, v) => spark.conf.getOption(k).contains(v) }
    assert(drift.isEmpty, s"settings the spec session lacks or overrides: $drift")
  }

  test("LocalSession.scala is the only session builder under src/") {
    val needle = "SparkSession" + ".builder" // split so this file never matches
    val files = Files.walk(Paths.get("src"))
    val sites =
      try files.iterator().asScala.filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains(needle)).map(_.getFileName.toString).toList
      finally files.close()
    assert(sites == List("LocalSession.scala"), sites)
  }
}
