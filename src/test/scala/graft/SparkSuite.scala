package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (sbt runs suites in one
  * JVM; getOrCreate reuses it).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Fresh checkpoint/scratch directory for streaming tests. */
  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSuite {
  /** `Sessions.local`'s configs on 4 cores (so every spec runs under the
    * same recipe as the tools, streaming checkpoints included), plus the
    * test-only temp warehouse and graft's planner extensions.
    */
  lazy val session: SparkSession = {
    val s = Sessions.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
