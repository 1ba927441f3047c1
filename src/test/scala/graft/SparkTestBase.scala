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
    * (null for a job without one).
    */
  def jobDescriptions(body: => Unit): Seq[String] =
    jobLog(body).map(_.prop("spark.job.description").orNull)

  /** Every Spark job `body` starts, in start order, with its local
    * properties and the rows its tasks wrote: a listener records job
    * starts and task ends until a marker job run after `body` has started
    * (a listener sees events in order).
    */
  def jobLog(body: => Unit): Seq[JobLog] = {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val marker = "job log marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, java.util.Properties)]
    val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val written = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new java.util.Properties)
        if (props.getProperty("spark.job.description") == marker)
          drained.countDown()
        else {
          e.stageIds.foreach(stageJob.put(_, e.jobId))
          jobs.add(e.jobId -> props): Unit
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageJob.get(e.stageId).filter(_ => e.taskMetrics != null)
          .foreach(j => written.merge(j,
            e.taskMetrics.outputMetrics.recordsWritten, _ + _))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      graft.core.Jobs.described(spark, marker)(spark.range(1).count())
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq.map { case (id, props) =>
      JobLog(props, written.getOrDefault(id, 0L))
    }
  }
}

/** One Spark job: its local properties and the rows its tasks wrote. */
final case class JobLog(props: java.util.Properties, rowsWritten: Long) {
  def prop(key: String): Option[String] = Option(props.getProperty(key))
}
