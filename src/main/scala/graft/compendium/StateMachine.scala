package graft.compendium

import graft.core.TinyParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType}

/** The project status state machine (db.py:137-146; README.md:102-111).
  *
  * States: initialized → accession_list_created → running →
  * (to_re_run | complete) → archived → done | failed. A relaunched
  * re-run stays `to_re_run` while its single-end pass is in flight and
  * goes straight to `complete` when that pass's results are saved.
  *
  * Transitions are pure data, validated in Scala. The `status` table is
  * O(projects), a dimension (K3), so a transition runs on the driver: it
  * reads the whole table with [[graft.core.TinyParquet.readRows]],
  * merges the one row, and rewrites the table with
  * [[Warehouse.replaceTiny]]'s rename-swap — no Spark job. The files are
  * the parquet layout Spark reads (`Warehouse.readOrEmpty`, the
  * reports), and a table Spark wrote reads back here.
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

  /** The states with no exits (`done`, `failed`). */
  val terminal: Set[String] =
    transitions.collect { case (s, next) if next.isEmpty => s }.toSet

  /** `Schemas.status`'s columns in its order, all OPTIONAL as Spark
    * writes them, so the table's on-disk layout is the one the Spark
    * write path left and every Spark reader of it is unchanged.
    */
  private val StatusCols: Seq[(String, TinyParquet.ColType)] =
    Schemas.status.map { f =>
      f.name -> (f.dataType match {
        case StringType  => TinyParquet.OptStringCol
        case BooleanType => TinyParquet.OptBoolCol
      })
    }

  /** The whole status table as column→value maps (a null column is
    * absent), read on the driver.
    */
  private def readStatus(wh: Warehouse): Seq[Map[String, Any]] =
    TinyParquet.readRows(wh.hadoopConf, wh.tablePath("status"))

  /** Rewrite the whole status table through the rename-swap, one row per
    * project in project order.
    */
  private def writeStatus(wh: Warehouse, rows: Seq[Map[String, Any]]): Unit =
    wh.replaceTiny("status", StatusCols,
      rows.sortBy(_("project").toString)
        .map(r => StatusCols.map { case (c, _) => r.getOrElse(c, null) }))

  private def isProject(project: String)(r: Map[String, Any]): Boolean =
    r.get("project").contains(project)

  /** Every tracked project with its status (null where it has none), one
    * pair per status row, read on the driver.
    */
  def statuses(wh: Warehouse): Seq[(String, String)] =
    readStatus(wh).map(r =>
      r("project").toString -> r.get("status").map(_.toString).orNull)

  /** P3 (management.py:17-20): the tracked projects without a terminal
    * status, sorted.
    */
  def nonTerminal(wh: Warehouse): Seq[String] = nonTerminal(statuses(wh))

  /** [[nonTerminal]] over status rows already read. */
  def nonTerminal(statuses: Seq[(String, String)]): Seq[String] =
    statuses.collect { case (p, s) if s != null && !terminal(s) => p }.sorted

  /** Initialize tracking for a project (projects.py:108-113). Mirrors the
    * reference's INSERT-conflict guard (projects.py:113-119): re-initializing
    * an already-tracked project raises instead of silently resetting its
    * state (which would bypass canTransition and could resurrect a terminal
    * 'done'/'failed' project).
    */
  def initialize(wh: Warehouse, project: String): Unit = {
    val table = readStatus(wh)
    require(!table.exists(isProject(project)),
      s"project $project is already tracked; refusing to re-initialize " +
        "(reference treats this as an IntegrityError, projects.py:113-119)")
    writeStatus(wh, table :+ Map("project" -> project,
      "status" -> "initialized", "rerun_as_single_end" -> false))
  }

  /** `_set_status` (projects.py:87-106): point update of one project's
    * status with the reference's conditional-column merge — an absent
    * `note1`, `paired` or `rerunAsSingleEnd` keeps the stored value; an
    * untracked project gets a new row. Illegal transitions throw (the
    * reference silently allows them — documented hardening) and leave the
    * table untouched.
    */
  def setStatus(wh: Warehouse, project: String, newStatus: String,
      note1: Option[String] = None, paired: Option[Boolean] = None,
      rerunAsSingleEnd: Option[Boolean] = None): Unit = {
    require(states.contains(newStatus), s"unknown status $newStatus")
    val table = readStatus(wh)
    val (current, others) = table.partition(isProject(project))
    current.foreach { r =>
      val c = r.get("status").map(_.toString)
      require(c.exists(canTransition(_, newStatus)),
        s"illegal status transition ${c.orNull} -> $newStatus for $project")
    }
    val row = current.headOption.getOrElse(Map("project" -> project)) ++
      Seq("status" -> newStatus) ++
      rerunAsSingleEnd.map("rerun_as_single_end" -> _) ++
      paired.map("paired" -> _) ++
      note1.map("note1" -> _)
    writeStatus(wh, others :+ row)
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
