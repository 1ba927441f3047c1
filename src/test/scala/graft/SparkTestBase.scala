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

  /** The description of every Spark job `body` starts, in start order
    * (null for a job without one): a listener records job starts until a
    * marker job run after `body` has started (a listener sees events in
    * order).
    */
  def jobDescriptions(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val marker = "job log marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        if (d.contains(marker)) drained.countDown()
        else jobs.add(d): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      graft.core.Jobs.described(spark, marker)(spark.range(1).count())
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq.map(_.orNull)
  }
}
