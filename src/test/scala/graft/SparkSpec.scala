package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run. */
object TestSession {
  lazy val spark: SparkSession = LocalSession.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), prefix)
    d.toString
  }
}
