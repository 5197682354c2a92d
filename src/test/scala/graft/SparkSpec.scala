package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Recursively delete a fixture directory (crash-window tests). */
  def rmTree(p: String): Unit = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally s.close()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = LocalSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
