package graft.compendium

import org.apache.spark.sql.SparkSession

/** CLI dispatcher mirroring the reference's main.py command surface
  * (main.py:15-134). A user of the reference drives the same commands:
  *
  *   xml <taxon> <file> | tags <taxon> <file> | runs [n] | asvs |
  *   runit <pid> | again <pid> | discard <pid> <reason> | status <pid> |
  *   compendium | summary | FORWARD | autoforward
  *
  * Environment: GRAFT_WAREHOUSE (table store root, default ./warehouse),
  * GRAFT_PROJECTS (pipeline workspace root, default ./projects).
  * External side effects (sbatch/git/HTTP) run through the injected
  * boundaries; the default launcher logs intended commands (no SLURM in
  * this environment) and the default EUtils client is the real
  * `java.net.http` implementation (specs inject fakes; the zero-egress
  * test environment never exercises it).
  */
object Cli {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { println("No command given. Exiting."); return }
    val spark = SparkSession.builder()
      .appName("graft-compendium")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String],
      deps: Option[Management.Deps] = None,
      eutils: Option[EUtilsClient] = None): Unit = {
    val whRoot = sys.env.getOrElse("GRAFT_WAREHOUSE", "warehouse")
    val d = deps.getOrElse(Management.Deps(
      new Warehouse(spark, whRoot),
      new LocalWorkspace(sys.env.getOrElse("GRAFT_PROJECTS", "projects")),
      new LoggingLauncher))

    args(0) match {
      case "xml" =>
        require(args.length >= 3, "xml requires <taxon> <file>")
        val n = Ingest.loadSamples(spark, d.wh, args(1), args(2))
        println(s"$n new samples")
      case "tags" =>
        require(args.length >= 3, "tags requires <taxon> <file>")
        val n = Ingest.loadTags(spark, d.wh, args(2))
        println(s"$n new tags")
      case "runs" =>
        val budget = if (args.length > 1) args(1).toInt else 2000
        // default = the real NCBI client (db.py:324-372) — constructing it
        // performs no I/O, so the zero-egress test environment is
        // unaffected (specs always inject fakes)
        val client = eutils.getOrElse(new HttpEUtilsClient(d.cfg))
        val n = EUtils.enrich(spark, d.wh, client, budget, d.cfg)
        println(s"$n samples enriched")
      case "asvs" =>
        val n = RegionInference.inferMissing(spark, d.wh, budget = 100)
        println(s"$n projects inferred")
      case "runit" =>
        require(args.length >= 2, "runit requires <project>")
        Management.initializeAndRun(spark, d, args(1))
      case "again" =>
        require(args.length >= 2, "again requires <project>")
        d.launcher.launch(args(1), rerunAsSingleEnd = false)
        StateMachine.setStatus(d.wh, args(1), "running")
      case "discard" =>
        require(args.length >= 3, "discard requires <project> <reason>")
        StateMachine.setStatus(d.wh, args(1), "failed",
          note1 = Some(args(2)))
        d.ws.delete(args(1))
      case "status" | "eval" =>
        require(args.length >= 2, s"${args(0)} requires <project>")
        val p = args(1)
        if (d.ws.isDone(p))
          SummaryQC.evaluate(spark, d.ws.summaryPath(p), p, d.cfg.thresholds)
            .show(truncate = false)
        else println(s"$p: done=${d.ws.isDone(p)} running=${d.ws.isRunning(p)}")
      case "compendium" =>
        Selection.compendiumSummary(
          d.wh.readOrEmpty("samples", Schemas.samples),
          d.wh.readOrEmpty("asv_counts", Schemas.asvCounts))
          .show(truncate = false)
      case "summary" =>
        val part = Management.determineProjects(d)
        println(s"done: ${part.done.mkString(",")}")
        println(s"running: ${part.running.mkString(",")}")
        println(s"not_done: ${part.notDone.mkString(",")}")
      case "FORWARD" | "autoforward" =>
        val result = Management.autoforward(spark, d)
        result.foreach { case (k, v) => println(s"$k: ${v.mkString(",")}") }
      case other =>
        println(s"Unknown command: $other")
    }
  }
}
