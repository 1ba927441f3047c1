package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM (launched by `perfbench/run.py`).
  *
  *   perfbench.Main --workload <name> --rounds <n> --work <dir>
  *     --spawn-ms <epoch ms> --trace <0|1>
  *     [--input <dir>] | [--data <dir> --queries <name,name,...>]
  *
  * Builds the session the way `graft.Bench` does, runs the workload's
  * set-up, then `rounds` timed rounds, and writes `<work>/result.json`
  * with the whole-run sums, the per-layer figures (traced runs) and what
  * the output checks need.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val rounds = args("rounds").toInt
    val work = Paths.get(args("work"))
    val spawnMs = args("spawn-ms").toLong
    val traced = args.get("trace").contains("1")
    val cpus = Runtime.getRuntime.availableProcessors.toString

    val spark = graft.core.LocalFs(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, workload, rounds, work, spawnMs, traced, args)
    finally spark.stop()
  }

  private def run(spark: SparkSession, workload: String, rounds: Int,
      work: Path, spawnMs: Long, traced: Boolean,
      args: Map[String, String]): Unit = {
    val meter = new Meter
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val roundWall = scala.collection.mutable.ArrayBuffer.empty[Double]

    // graft.Bench's session warm-up
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1000).write.format("noop").mode("overwrite").save()

    workload match {
      case "manager_cycle" =>
        val input = Paths.get(args("input"))
        val mc = new ManagerCycle(spark, meter, input, tracer)
        val gc0 = JvmCounters.gcMs
        tracer.foreach(_.start())
        val cycles = (1 to rounds).map { r =>
          val dir = work.resolve(s"cycle_$r")
          val w0 = meter.wallNs
          val res = mc.cycle(dir)
          roundWall += (meter.wallNs - w0) / 1e9
          // only the last cycle's warehouse is kept for the full checks
          if (r < rounds) deleteTree(dir)
          res
        }
        tracer.foreach(_.stop())
        out("gc_ms") = JvmCounters.gcMs - gc0
        out("cycles") = cycles
        out("outputs") = cycles.last

      case "stream_gates" =>
        val data = args("data")
        val names = args("queries").split(",").toSeq
        // The stores and seeds the gates read are built by their first
        // consumer, inside the timed calls.
        val gc0 = JvmCounters.gcMs
        tracer.foreach(_.start())
        (1 to rounds).foreach { r =>
          val w0 = meter.wallNs
          Gates.pass(spark, meter, data, names,
            work.resolve("out").resolve(s"round_$r"))
          roundWall += (meter.wallNs - w0) / 1e9
        }
        tracer.foreach(_.stop())
        out("gc_ms") = JvmCounters.gcMs - gc0
        out("queries") = names
        out("oracle_sql") = names.flatMap(n =>
          graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    }

    out("setup_s") = (meter.firstCallMs - spawnMs) / 1e3
    out("wall_s") = meter.wallNs / 1e9
    out("cpu_s") = meter.cpuNs / 1e9
    out("read_mb") = meter.rchar / 1e6
    out("write_mb") = meter.wchar / 1e6
    out("attempted") = meter.attempted
    out("failed") = meter.failed
    out("rounds") = rounds
    out("round_wall_s") = roundWall.toSeq
    out("nproc") = Runtime.getRuntime.availableProcessors
    out("layers") = meter.layerWall.toMap
    out("io_read_calls") = meter.syscr
    out("io_write_calls") = meter.syscw
    out("jit_ms") = JvmCounters.jitMs
    out("heap_peak_mb") = JvmCounters.heapPeakMb
    tracer.foreach { t =>
      out("spark") = Map(
        "jobs" -> t.jobSpans.size, "job_span_s" -> t.jobSpanS,
        "driver_gap_s" -> t.driverGapS(meter.spans.toSeq),
        "stages" -> t.stages, "tasks" -> t.tasks,
        "executor_run_s" -> t.execRunMs / 1e3,
        "executor_cpu_s" -> t.execCpuNs / 1e9,
        "executor_gc_s" -> t.execGcMs / 1e3,
        "shuffle_write_mb" -> t.shuffleWrite / 1e6,
        "shuffle_read_mb" -> t.shuffleRead / 1e6,
        "spill_mb" -> t.spill / 1e6, "input_mb" -> t.input / 1e6,
        "output_mb" -> t.output / 1e6)
      out("catalyst") = Map("actions" -> t.actions,
        "analysis_s" -> t.analysisMs / 1e3,
        "optimization_s" -> t.optimizationMs / 1e3,
        "planning_s" -> t.planningMs / 1e3)
      out("streaming") = Map("batches" -> t.batches,
        "trigger_s" -> t.triggerMs / 1e3, "add_batch_s" -> t.addBatchMs / 1e3,
        "wal_commit_s" -> t.walMs / 1e3,
        "state_commit_s" -> t.stateCommitMs / 1e3,
        "state_rows" -> t.stateRows, "state_mb" -> t.stateMemPeak / 1e6)
    }
    Files.writeString(work.resolve("result.json"), Json(out.toMap) + "\n")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
}

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
