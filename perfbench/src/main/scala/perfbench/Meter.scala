package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Process counters read around every timed call: wall time, process CPU
  * time (all threads) and the `/proc/self/io` character and syscall
  * counts. The deltas of the timed calls are summed over the whole run;
  * everything outside a timed call (set-up, the benchmark's own file
  * staging, output checks) is excluded.
  */
final class Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** End-to-end sums over the timed calls. */
  var wallNs = 0L
  var cpuNs = 0L
  var rchar = 0L
  var wchar = 0L
  var syscr = 0L
  var syscw = 0L
  var attempted = 0
  var failed = 0
  var firstCallMs = -1L
  /** Wall seconds per layer name (one entry per kind of timed call). */
  val layerWall: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Spans of the timed calls, for the driver-gap computation. */
  val spans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  private def procIo(): Map[String, Long] =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala.flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) => Some(k -> v.trim.toLong)
        case _ => None
      }
    }.toMap

  /** Time `f` as one operation of layer `layer`. A throwing operation is
    * counted as failed and reported on stderr; the run goes on.
    */
  def timed(layer: String)(f: => Unit): Boolean = {
    if (firstCallMs < 0) firstCallMs = System.currentTimeMillis()
    val io0 = procIo()
    val cpu0 = os.getProcessCpuTime
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok =
      try { f; true }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $layer failed: $e")
          e.printStackTrace()
          false
      }
    val t1 = System.nanoTime()
    val s1 = System.currentTimeMillis()
    val cpu1 = os.getProcessCpuTime
    val io1 = procIo()
    attempted += 1
    if (!ok) failed += 1
    wallNs += t1 - t0
    cpuNs += cpu1 - cpu0
    rchar += io1("rchar") - io0("rchar")
    wchar += io1("wchar") - io0("wchar")
    syscr += io1("syscr") - io0("syscr")
    syscw += io1("syscw") - io0("syscw")
    spans += ((s0, s1))
    addLayer(layer, (t1 - t0) / 1e9)
    ok
  }

  def addLayer(layer: String, seconds: Double): Unit =
    layerWall(layer) = layerWall.getOrElse(layer, 0.0) + seconds

  /** Add the time of `f` to a layer without counting an operation. */
  def layerOnly[A](layer: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally addLayer(layer, (System.nanoTime() - t0) / 1e9)
  }
}

/** JVM-wide counters: GC time, JIT time and the heap peak. */
object JvmCounters {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1e6
}
