package graft.compendium

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** End-to-end orchestration over a real LocalWorkspace rooted in a temp
  * dir, with the launcher boundary faked: the three REACT paths
  * (save / re-run-single-end / discard), state-machine progression, and
  * autoforward's capacity fill (SURVEY §3.2).
  */
class ManagementSpec extends SparkTestBase {
  import spark.implicits._

  /** A paired summary.tsv whose per-sample rows produce the wanted decision. */
  private def writeSummary(dir: String, rows: Seq[String]): Unit = {
    val header = "\tdinput\tfilter\trevse\tforwd\tmerged\tlength\tnonchim"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "summary.tsv"),
      (header +: rows).mkString("", "\n", "\n"))
  }

  // good sample: retained 42000/50000=0.84, chimera 1-42000/43000=0.02,
  // merged 44000/47000=0.94
  private def goodRow(srr: String) =
    s"${srr}_1.fastq\t50000\t48000\t46000\t47000\t44000\t43000\t42000"
  // retained 20000/50000=0.4 (< 0.59 error)
  private def badRetainedRow(srr: String) =
    s"${srr}_1.fastq\t50000\t48000\t46000\t47000\t44000\t43000\t20000"
  // merged 20000/47000=0.43 (< 0.65 error), retained still fine
  private def badMergedRow(srr: String) =
    s"${srr}_1.fastq\t50000\t48000\t46000\t47000\t20000\t43000\t42000"

  private def copyResults(dir: String): Unit =
    Seq("ASVs.fa", "ASVs_counts.tsv", "ASVs_taxonomy.tsv").foreach { f =>
      Files.copy(Paths.get(s"$fixtures/$f"), Paths.get(dir, f))
    }

  private def mkDeps(): (Management.Deps, LoggingLauncher, String) = {
    val root = tmpDir()
    val launcher = new LoggingLauncher
    (Management.Deps(new Warehouse(spark, s"$root/wh"),
      new LocalWorkspace(s"$root/projects"), launcher), launcher,
      s"$root/projects")
  }

  test("save path: results load + complete→archived→done + archive file") {
    val (deps, _, projRoot) = mkDeps()
    val p = "PRJ_SAVE"
    writeSummary(s"$projRoot/$p", (1 to 4).map(i => goodRow(s"SRR00$i")))
    copyResults(s"$projRoot/$p")
    StateMachine.initialize(deps.wh, p)
    StateMachine.setStatus(deps.wh, p, "accession_list_created")
    StateMachine.setStatus(deps.wh, p, "running")

    assert(Management.advanceProject(spark, deps, p) === "save")
    val st = deps.wh.read("status").collect().head
    assert(st.getAs[String]("status") === "done")
    assert(deps.wh.read("asv_counts").count() === 5)
    assert(deps.wh.read("asv_sequences").count() === 3)
    assert(deps.wh.read("asv_assignments").count() === 3)
    assert(Files.exists(Paths.get(s"$projRoot/archives/$p.tar.gz")))
    assert(!Files.exists(Paths.get(s"$projRoot/$p"))) // dir deleted
  }

  test("discard path: status failed with error note, workspace deleted") {
    val (deps, _, projRoot) = mkDeps()
    val p = "PRJ_BAD"
    // 3 of 4 samples fail retention → error frac 0.75 > 0.20 → discard
    writeSummary(s"$projRoot/$p",
      Seq(goodRow("SRR001")) ++ (2 to 4).map(i => badRetainedRow(s"SRR00$i")))
    copyResults(s"$projRoot/$p")
    StateMachine.initialize(deps.wh, p)
    StateMachine.setStatus(deps.wh, p, "accession_list_created")
    StateMachine.setStatus(deps.wh, p, "running")

    assert(Management.advanceProject(spark, deps, p) === "discard")
    val st = deps.wh.read("status").collect().head
    assert(st.getAs[String]("status") === "failed")
    assert(st.getAs[String]("note1").contains("reads retained"))
    assert(!Files.exists(Paths.get(s"$projRoot/$p")))
  }

  test("re-run path: single-end relaunch, reverse reads dropped, summary rotated") {
    val (deps, launcher, projRoot) = mkDeps()
    val p = "PRJ_RERUN"
    // half the samples fail merging → error frac 0.5 > 0.15 → re_run
    writeSummary(s"$projRoot/$p",
      (1 to 2).map(i => goodRow(s"SRR00$i")) ++
        (3 to 4).map(i => badMergedRow(s"SRR00$i")))
    copyResults(s"$projRoot/$p")
    Files.writeString(Paths.get(s"$projRoot/$p/SRR001_2.fastq"), "x")
    StateMachine.initialize(deps.wh, p)
    StateMachine.setStatus(deps.wh, p, "accession_list_created")
    StateMachine.setStatus(deps.wh, p, "running")

    assert(Management.advanceProject(spark, deps, p) === "re_run")
    val st = deps.wh.read("status").collect().head
    assert(st.getAs[String]("status") === "to_re_run")
    assert(st.getAs[Boolean]("rerun_as_single_end"))
    assert(launcher.calls.toSeq === Seq((p, true)))
    assert(Files.exists(Paths.get(s"$projRoot/$p/previous_summary.tsv")))
    assert(!Files.exists(Paths.get(s"$projRoot/$p/SRR001_2.fastq")))
    assert(!Files.exists(Paths.get(s"$projRoot/$p/ASVs.fa")))
  }

  test("re-run end to end: the single-end pass saves once and ends done") {
    val (deps, _, projRoot) = mkDeps()
    val p = "PRJ_RERUN_SE"
    def status(): String =
      deps.wh.read("status").collect().head.getAs[String]("status")
    writeSummary(s"$projRoot/$p",
      (1 to 2).map(i => goodRow(s"SRR00$i")) ++
        (3 to 4).map(i => badMergedRow(s"SRR00$i")))
    copyResults(s"$projRoot/$p")
    StateMachine.initialize(deps.wh, p)
    StateMachine.setStatus(deps.wh, p, "accession_list_created")
    StateMachine.setStatus(deps.wh, p, "running")

    assert(Management.autoforward(spark, deps)("advanced_re_run") === Seq(p))
    // the relaunched single-end pass is in flight
    assert(status() === "to_re_run")

    // its outputs land: a single-end summary (no revse/merged) + results
    Files.writeString(Paths.get(s"$projRoot/$p/summary.tsv"),
      "\tdinput\tfilter\tdenoised\tlength\tnonchim\n" +
        (1 to 4).map(i => s"SRR00${i}_1.fastq\t50000\t48000\t46000\t43000\t42000")
          .mkString("", "\n", "\n"))
    copyResults(s"$projRoot/$p")
    assert(Management.autoforward(spark, deps)("advanced_save") === Seq(p))
    val counts = deps.wh.read("asv_counts").count()
    assert(counts === 5)
    assert(Management.autoforward(spark, deps)("advanced_save").isEmpty)
    assert(deps.wh.read("asv_counts").count() === counts)
    assert(status() === "done")
  }

  test("autoforward fills capacity from the admission band") {
    val (deps0, launcher, projRoot) = mkDeps()
    val deps = deps0.copy(cfg = deps0.cfg.copy(
      maxProjects = 2, minProjectSamples = 2))
    // samples: PRJ_X (3 processable), PRJ_Y (2), PRJ_Z (1 — below band)
    val samples = Seq(
      ("S1", "PRJ_X", "R1", "GENOMIC", "AMPLICON", "ill", null, null, null),
      ("S2", "PRJ_X", "R2", "GENOMIC", "AMPLICON", "ill", null, null, null),
      ("S3", "PRJ_X", "R3", "GENOMIC", "AMPLICON", "ill", null, null, null),
      ("S4", "PRJ_Y", "R4", "METAGENOMIC", "AMPLICON", "ill", null, null, null),
      ("S5", "PRJ_Y", "R5", "METAGENOMIC", "AMPLICON", "ill", null, null, null),
      ("S6", "PRJ_Z", "R6", "GENOMIC", "AMPLICON", "ill", null, null, null))
      .toDF("srs", "project", "srr", "library_source", "library_strategy",
        "instrument", "taxon", "pubdate", "geo_loc_name")
    deps.wh.append("samples", samples)

    val result = Management.autoforward(spark, deps)
    assert(result("started").toSet === Set("PRJ_X", "PRJ_Y"))
    val st = deps.wh.read("status").collect()
      .map(r => r.getString(0) -> r.getAs[String]("status")).toMap
    assert(st === Map("PRJ_X" -> "running", "PRJ_Y" -> "running"))
    // accession lists written with the processable srrs
    val accX = Files.readString(Paths.get(s"$projRoot/PRJ_X/SraAccList.txt"))
    assert(accX === "R1\nR2\nR3\n")
    assert(launcher.calls.count(_._1.startsWith("init:")) === 2)

    // second pass: both projects now "running"-probed? They have no
    // sentinel and no results → not_done; capacity full → nothing started
    val again = Management.autoforward(spark, deps)
    assert(again("started").isEmpty)
    assert(again("not_done").toSet === Set("PRJ_X", "PRJ_Y"))
  }
}
