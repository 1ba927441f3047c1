package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  // the mains' local-filesystem policy and log level, so specs run the
  // FS the bench runs and the suite's output is WARN and above
  lazy val spark: SparkSession = {
    val s = graft.core.LocalFs(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val fixtures = "/root/repo/fixtures"
  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-test").toString
}
