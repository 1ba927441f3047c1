package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchaccess.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: Spark jobs, stages and task metrics,
  * Catalyst phase times per action, and streaming progress per
  * micro-batch. Registered only with `--trace 1`; end-to-end runs have
  * none of it. Counting starts at [[start]] (after set-up, with the
  * listener bus drained) so only the timed calls are counted.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false
  private val lock = new Object

  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  private val jobStart = mutable.Map.empty[Int, Long]
  var stages = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var execGcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L

  var actions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  var batches = 0L
  var triggerMs = 0L
  var addBatchMs = 0L
  var walMs = 0L
  var stateCommitMs = 0L
  var stateRows = 0L
  var stateMemPeak = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) lock.synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (on) lock.synchronized {
        jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) lock.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) lock.synchronized {
        val m = e.taskMetrics
        tasks += 1
        execRunMs += m.executorRunTime
        execCpuNs += m.executorCpuTime
        execGcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
        output += m.outputMetrics.bytesWritten
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = lock.synchronized {
      actions += 1
      val p = qe.tracker.phases
      analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (on) phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      if (on) phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) lock.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        batches += 1
        triggerMs += d.getOrElse("triggerExecution", 0L)
        addBatchMs += d.getOrElse("addBatch", 0L)
        walMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)
        p.stateOperators.foreach { s =>
          stateCommitMs += s.commitTimeMs
          stateRows += s.numRowsUpdated
          stateMemPeak = stateMemPeak.max(s.memoryUsedBytes)
        }
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def start(): Unit = { ListenerBus.drain(spark.sparkContext); on = true }
  def stop(): Unit = { ListenerBus.drain(spark.sparkContext); on = false }

  /** Seconds of the timed spans not covered by any Spark job. */
  def driverGapS(timed: Seq[(Long, Long)]): Double = {
    val jobs = jobSpans.toSeq.sortBy(_._1)
    timed.map { case (a, b) =>
      // union of the job intervals clipped to [a, b]
      var covered = 0L
      var curS = -1L
      var curE = -1L
      jobs.foreach { case (s0, e0) =>
        val s = s0.max(a)
        val e = e0.min(b)
        if (e > s) {
          if (curE < s) {
            if (curE > curS) covered += curE - curS
            curS = s; curE = e
          } else curE = curE.max(e)
        }
      }
      if (curE > curS) covered += curE - curS
      (b - a - covered).max(0L)
    }.sum / 1e3
  }

  def jobSpanS: Double = jobSpans.map { case (s, e) => e - s }.sum / 1e3
}
