package graft.compendium

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** S9/K6 side-effect boundaries (SURVEY §7.1): the engine stays pure;
  * filesystem probes, archive/delete, and the external pipeline launch
  * (`git clone` projects.py:121, `sbatch` projects.py:132) live behind
  * these traits with injectable fakes for tests.
  */
trait ProjectWorkspace {
  /** check_if_done (projects.py:137-147): pipeline outputs present. */
  def isDone(project: String): Boolean
  /** check_if_running (projects.py:149-154): sentinel file probe. */
  def isRunning(project: String): Boolean
  def projectDir(project: String): String
  def summaryPath(project: String): String
  /** Rerun prep (projects.py:314-321): drop DADA outputs + reverse reads. */
  def prepareRerun(project: String): Unit
  /** K6 (projects.py:530-544): bundle logs + results. */
  def archive(project: String): Unit
  /** rmtree (projects.py:414, 549). */
  def delete(project: String): Unit
  /** K4 (projects.py:79-85): SraAccList.txt sink. */
  def writeAccessionList(project: String, srrs: Seq[String]): Unit
}

trait PipelineLauncher {
  /** initialize_pipeline's clone step (projects.py:121). */
  def initialize(project: String): Unit
  /** RUN (projects.py:127-135): submit the Snakemake job. */
  def launch(project: String, rerunAsSingleEnd: Boolean): Unit
}

/** The orchestration superquery (SURVEY §3.2): determine project states,
  * advance completed ones through QC → react, and fill capacity with new
  * candidates. Iteration is driver-side over the dimension-sized status
  * table (mirroring the reference): its reads and every transition run on
  * the driver ([[StateMachine]]) and start no Spark job. All per-project
  * data work — QC rollup, results load — and the candidate search
  * (`Selection.findTodo`, which anti-joins the status table) are
  * distributed jobs.
  */
object Management {

  final case class Partition(done: Seq[String], running: Seq[String],
      notDone: Seq[String])

  final case class Deps(wh: Warehouse, ws: ProjectWorkspace,
      launcher: PipelineLauncher, cfg: EngineConfig = EngineConfig.default)

  /** determine_projects (management.py:17-39): non-terminal projects
    * partitioned by workspace probes.
    */
  def determineProjects(deps: Deps): Partition = {
    val (done, rest) =
      StateMachine.nonTerminal(deps.wh).partition(deps.ws.isDone)
    val (running, notDone) = rest.partition(deps.ws.isRunning)
    Partition(done, running, notDone)
  }

  /** Advance one completed project: QC evaluate → REACT
    * (projects.py:554-571). Returns the action taken.
    */
  def advanceProject(spark: SparkSession, deps: Deps, project: String): String = {
    val d = SummaryQC.evaluate(spark, deps.ws.summaryPath(project), project,
      deps.cfg.thresholds).collect().head
    val paired = d.getAs[Boolean]("paired")
    val errors = Option(d.getAs[String]("errors")).filter(_.nonEmpty)
    if (d.getAs[Boolean]("discard")) {
      // Discard (projects.py:408-415)
      StateMachine.setStatus(deps.wh, project, "failed",
        note1 = errors, paired = Some(paired))
      deps.ws.delete(project)
      "discard"
    } else if (d.getAs[Boolean]("re_run")) {
      // Rerun_as_single_end (projects.py:314-329)
      deps.ws.prepareRerun(project)
      StateMachine.setStatus(deps.wh, project, "to_re_run",
        note1 = errors, paired = Some(paired), rerunAsSingleEnd = Some(true))
      deps.launcher.launch(project, rerunAsSingleEnd = true)
      "re_run"
    } else {
      // Save_results (projects.py:481-552): load → complete → archive →
      // archived → delete → done
      val (counts, seqs, assignments) =
        ResultsLoad.load(spark, deps.ws.projectDir(project), project, deps.cfg)
      deps.wh.append("asv_counts", counts)
      deps.wh.append("asv_sequences", seqs, partitionCols = Seq("project"))
      deps.wh.append("asv_assignments", assignments)
      StateMachine.setStatus(deps.wh, project, "complete",
        note1 = errors, paired = Some(paired))
      deps.ws.archive(project)
      StateMachine.setStatus(deps.wh, project, "archived")
      deps.ws.delete(project)
      StateMachine.setStatus(deps.wh, project, "done")
      "save"
    }
  }

  /** initialize_pipeline + RUN (projects.py:108-135). */
  def initializeAndRun(spark: SparkSession, deps: Deps, project: String): Unit = {
    StateMachine.initialize(deps.wh, project)
    deps.launcher.initialize(project)
    val srrs = Selection.accessionList(
      deps.wh.readOrEmpty("samples", Schemas.samples), project)
      .collect().map(_.getString(0)).toSeq
    deps.ws.writeAccessionList(project, srrs)
    StateMachine.setStatus(deps.wh, project, "accession_list_created")
    deps.launcher.launch(project, rerunAsSingleEnd = false)
    StateMachine.setStatus(deps.wh, project, "running")
  }

  /** autoforward (main.py:113-134): advance everything done, then fill
    * spare capacity (max_projects − active) with new candidates from the
    * admission band (capped at 1000 samples, main.py:126).
    */
  def autoforward(spark: SparkSession, deps: Deps): Map[String, Seq[String]] = {
    val part = determineProjects(deps)
    val advanced = part.done.map(p => p -> advanceProject(spark, deps, p))
    val toStart = deps.cfg.maxProjects -
      (part.running.length + part.notDone.length)
    val todo =
      if (toStart <= 0) Seq.empty[String]
      else Selection.findTodo(
        deps.wh.readOrEmpty("samples", Schemas.samples),
        deps.wh.readOrEmpty("status", Schemas.status),
        needed = toStart,
        minSamples = deps.cfg.minProjectSamples,
        maxSamples = 1000L)
        .collect().map(_.getString(0)).toSeq
    todo.foreach(p => initializeAndRun(spark, deps, p))
    Map(
      "advanced_save" -> advanced.collect { case (p, "save") => p },
      "advanced_re_run" -> advanced.collect { case (p, "re_run") => p },
      "advanced_discard" -> advanced.collect { case (p, "discard") => p },
      "running" -> part.running,
      "not_done" -> part.notDone,
      "started" -> todo)
  }
}
