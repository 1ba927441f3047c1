package graft.compendium

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The project status state machine (db.py:137-146; README.md:102-111).
  *
  * States: initialized → accession_list_created → running →
  * (to_re_run | complete) → archived → done | failed. A relaunched
  * re-run stays `to_re_run` while its single-end pass is in flight and
  * goes straight to `complete` when that pass's results are saved.
  *
  * Transitions are pure data: validated in Scala, persisted via the tiny
  * `status` table's upsert (K3 — the table is O(projects), a dimension).
  */
object StateMachine {

  val states: Seq[String] = Seq(
    "initialized", "accession_list_created", "running",
    "to_re_run", "complete", "archived", "done", "failed")

  /** Legal transitions (projects.py:87-106, 113, 125, 135, 327, 413,
    * 525, 544, 551; README.md:102-111). `failed` is reachable from any
    * non-terminal state (Discard, projects.py:408-415).
    */
  val transitions: Map[String, Set[String]] = Map(
    "initialized" -> Set("accession_list_created", "failed"),
    "accession_list_created" -> Set("running", "failed"),
    "running" -> Set("to_re_run", "complete", "failed"),
    "to_re_run" -> Set("running", "complete", "failed"),
    "complete" -> Set("archived", "failed"),
    "archived" -> Set("done", "failed"),
    "done" -> Set.empty,
    "failed" -> Set.empty)

  def canTransition(from: String, to: String): Boolean =
    transitions.get(from).exists(_.contains(to))

  /** Initialize tracking for a project (projects.py:108-113). Mirrors the
    * reference's INSERT-conflict guard (projects.py:113-119): re-initializing
    * an already-tracked project raises instead of silently resetting its
    * state (which would bypass canTransition and could resurrect a terminal
    * 'done'/'failed' project).
    */
  def initialize(spark: SparkSession, wh: Warehouse, project: String): Unit = {
    import spark.implicits._
    val already = wh.readOrEmpty("status", Schemas.status)
      .filter(col("project") === project).limit(1).count() > 0
    require(!already,
      s"project $project is already tracked; refusing to re-initialize " +
        "(reference treats this as an IntegrityError, projects.py:113-119)")
    val row = Seq((project, "initialized", false, null.asInstanceOf[java.lang.Boolean], null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("project", "status", "rerun_as_single_end", "paired", "note1", "note2")
    wh.upsert("status", row, "project")
  }

  /** `_set_status` (projects.py:87-106): point upsert of one project's
    * status; illegal transitions throw (the reference silently allows them —
    * documented hardening).
    */
  def setStatus(spark: SparkSession, wh: Warehouse, project: String,
      newStatus: String, note1: Option[String] = None,
      paired: Option[Boolean] = None,
      rerunAsSingleEnd: Option[Boolean] = None): Unit = {
    import spark.implicits._
    require(states.contains(newStatus), s"unknown status $newStatus")
    val current = wh.readOrEmpty("status", Schemas.status)
      .filter(col("project") === project)
      .select("status").collect().headOption.map(_.getString(0))
    current.foreach { c =>
      require(canTransition(c, newStatus),
        s"illegal status transition $c -> $newStatus for $project")
    }
    val row = Seq((project, newStatus,
      rerunAsSingleEnd.map(java.lang.Boolean.valueOf).orNull,
      paired.map(java.lang.Boolean.valueOf).orNull,
      note1.orNull, null.asInstanceOf[String]))
      .toDF("project", "status", "rerun_as_single_end", "paired", "note1", "note2")
    wh.upsert("status", row, "project")
  }

  /** The QC decision → transition mapping (projects.py:554-571 REACT):
    * discard ⇒ failed (with errors as note1); re_run ⇒ to_re_run;
    * otherwise ⇒ complete.
    */
  def react(decision: DataFrame): DataFrame =
    decision.select(
      col("project"),
      when(col("discard"), "failed")
        .when(col("re_run"), "to_re_run")
        .otherwise("complete").as("next_status"),
      col("re_run").as("rerun_as_single_end"),
      col("paired"),
      when(col("errors") =!= "", col("errors")).as("note1"))
}
