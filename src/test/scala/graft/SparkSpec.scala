package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run, under the timed
  * config. */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(GraftSession.scratchRoot)), prefix)
    d.toString
  }
}
