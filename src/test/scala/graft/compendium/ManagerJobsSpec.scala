package graft.compendium

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The manager loop's Spark jobs: the ones that move no data are gone
  * (TSV headers read on the driver, accession lists sorted on the driver,
  * the QC rollup on one partition, absent tables folded at plan time), and
  * every job of an `autoforward` is labelled with its phase.
  */
class ManagerJobsSpec extends SparkTestBase {
  import spark.implicits._

  private val tsvFixtures = Seq("summary_paired.tsv", "summary_single.tsv",
    "summary_edge.tsv", "ASVs_counts.tsv", "ASVs_taxonomy.tsv",
    "html_docs.tsv", "pii_docs.tsv", "url_docs.tsv").map(f => s"$fixtures/$f")

  /** The schema Spark's own header inference gives the file. */
  private def inferred(path: String): StructType =
    spark.read.option("sep", "\t").option("header", "true").csv(path).schema

  private def planted(name: String, content: String): String = {
    val p = Paths.get(tmpDir(), name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("the header schema equals Spark's inference on every fixture TSV") {
    tsvFixtures.foreach { p =>
      assert(Tsv.headerSchema(spark, p) === inferred(p), p)
      val rows = Tsv.read(spark, p).collect().toSeq.map(_.toSeq)
      val spark0 = spark.read.option("sep", "\t").option("header", "true")
        .csv(p).collect().toSeq.map(_.toSeq)
      assert(rows === spark0, p)
    }
  }

  test("the header schema equals Spark's inference on planted headers") {
    val files = Seq(
      planted("blank_first.tsv", "\tdinput\tfilter\nS1\t1\t2\n"),
      planted("dups.tsv", "a\tb\ta\tc\tb\n1\t2\t3\t4\t5\n"),
      planted("case_dups.tsv", "Run\trun\tRUN\tx\n1\t2\t3\t4\n"),
      planted("blanks.tsv", "\t\tx\t\n1\t2\t3\t4\n"),
      planted("quoted.tsv", "\"sample\tid\"\t\"q\"\"x\"\tplain\n1\t2\t3\n"),
      planted("leading_blank_lines.tsv", "\n   \n\tA\tB\n1\t2\t3\n"),
      planted("crlf.tsv", "\tA\tB\r\n1\t2\t3\r\n"),
      planted("bom.tsv", "﻿id\tv\n1\t2\n"),
      planted("header_only.tsv", "\tA"),
      planted("empty.tsv", ""))
    files.foreach { p =>
      assert(Tsv.headerSchema(spark, p) === inferred(p), p)
    }
    assert(Tsv.headerSchema(spark, files(1)).fieldNames.toSeq ===
      Seq("a0", "b1", "a2", "c", "b4"))
    assert(Tsv.headerSchema(spark, files(2)).fieldNames.toSeq ===
      Seq("Run0", "run1", "RUN2", "x"))
    assert(Tsv.headerSchema(spark, files.last).isEmpty)
  }

  test("the TSV readers start no Spark job") {
    val n = jobDescriptions {
      tsvFixtures.foreach(Tsv.read(spark, _))
      SummaryQC.readSummaryTsv(spark, s"$fixtures/summary_paired.tsv")
      ResultsLoad.readCountsMatrix(spark, s"$fixtures/ASVs_counts.tsv")
      ResultsLoad.readTaxonomy(spark, s"$fixtures/ASVs_taxonomy.tsv")
    }.size
    assert(n === 0)
  }

  test("one QC evaluation is one Spark job") {
    val jobs = jobDescriptions {
      SummaryQC.evaluate(spark, s"$fixtures/summary_paired.tsv", "P").collect()
    }
    assert(jobs.size === 1)
  }

  test("the accession list is in Spark's string order, non-ASCII ids included") {
    val ids = Seq("SRR2", "srr1", "SRR10", "é1", "e2", "Ärr", "日本3",
      "～", "😀", "Z", "a b", "")
    val samples = ids.zipWithIndex.map { case (id, i) =>
      (s"S$i", "P", id, "GENOMIC", "AMPLICON")
    }.toDF("srs", "project", "srr", "library_source", "library_strategy")
    val sparkOrder = Selection.processableSamples(samples)
      .filter(col("project") === "P").select("srr").orderBy("srr")
      .collect().map(_.getString(0)).toSeq
    assert(Selection.accessionList(samples, "P") === sparkOrder)
    // UTF-8 order, not Java's UTF-16 order: U+FF5E before an astral char
    assert(sparkOrder.indexOf("～") < sparkOrder.indexOf("😀"))
  }

  test("findTodo excludes the tracked list and keeps a null project") {
    val samples = Seq(("S1", "PRJ_A"), ("S2", "PRJ_A"), ("S3", null),
      ("S4", null), ("S5", "PRJ_B"), ("S6", "PRJ_B"))
      .map { case (srs, p) => (srs, p, s"R_$srs", "GENOMIC", "AMPLICON") }
      .toDF("srs", "project", "srr", "library_source", "library_strategy")
    def todo(tracked: Seq[String]) =
      Selection.findTodo(samples, tracked, needed = 5, minSamples = 2)
        .collect().map(r => Option(r.getString(0))).toSet
    assert(todo(Nil) === Set(Some("PRJ_A"), Some("PRJ_B"), None))
    assert(todo(Seq("PRJ_A", "PRJ_X")) === Set(Some("PRJ_B"), None))
  }

  private def mkDeps(cfg: EngineConfig = EngineConfig.default) = {
    val root = tmpDir()
    (Management.Deps(new Warehouse(spark, s"$root/wh"),
      new LocalWorkspace(s"$root/projects"), new LoggingLauncher, cfg),
      s"$root/projects")
  }

  private def samplesOf(project: String, n: Int) =
    (1 to n).map(i => (s"S_${project}_$i", project, s"R_${project}_$i",
      "GENOMIC", "AMPLICON", "ill", null, null, null))
      .toDF("srs", "project", "srr", "library_source", "library_strategy",
        "instrument", "taxon", "pubdate", "geo_loc_name")

  test("initializeAndRun runs one Spark job") {
    val (deps, projRoot) = mkDeps()
    deps.wh.append("samples", samplesOf("PRJ_X", 3))
    val n = jobDescriptions {
      Management.initializeAndRun(spark, deps, "PRJ_X")
    }.size
    assert(n === 1)
    assert(Files.readString(Paths.get(s"$projRoot/PRJ_X/SraAccList.txt")) ===
      "R_PRJ_X_1\nR_PRJ_X_2\nR_PRJ_X_3\n")
  }

  test("a left_anti join against an absent table plans no exchange") {
    val wh = new Warehouse(spark, tmpDir())
    val absent = wh.readOrEmpty("absent",
      StructType(Seq(StructField("k", LongType))))
    val df = spark.range(1000).toDF("k").join(absent, Seq("k"), "left_anti")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(df.count() === 1000L)
  }

  test("every job of one autoforward carries its phase") {
    val (deps, projRoot) = mkDeps(EngineConfig.default.copy(
      maxProjects = 2, minProjectSamples = 2))
    deps.wh.append("samples", samplesOf("PRJ_X", 3))
    val p = "PRJ_SAVE"
    val dir = Paths.get(s"$projRoot/$p")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("summary.tsv"),
      "\tdinput\tfilter\trevse\tforwd\tmerged\tlength\tnonchim\n" +
        (1 to 4).map(i =>
          s"SRR00${i}_1.fastq\t50000\t48000\t46000\t47000\t44000\t43000\t42000")
          .mkString("", "\n", "\n"))
    Seq("ASVs.fa", "ASVs_counts.tsv", "ASVs_taxonomy.tsv").foreach { f =>
      Files.copy(Paths.get(s"$fixtures/$f"), dir.resolve(f))
    }
    StateMachine.initialize(deps.wh, p)
    StateMachine.setStatus(deps.wh, p, "accession_list_created")
    StateMachine.setStatus(deps.wh, p, "running")

    var result = Map.empty[String, Seq[String]]
    val jobs = jobDescriptions { result = Management.autoforward(spark, deps) }
    assert(result("advanced_save") === Seq(p))
    assert(result("started") === Seq("PRJ_X"))
    assert(!jobs.contains(null), jobs)
    assert(jobs.toSet === Set(s"af: qc $p", s"af: load $p", "af: todo",
      "af: accessions PRJ_X"))
    assert(jobs.count(_ == "af: accessions PRJ_X") === 1)
    assert(jobs.count(_ == s"af: qc $p") === 1)

    val report = jobDescriptions {
      Console.withOut(new java.io.ByteArrayOutputStream)(
        Cli.run(spark, Array("compendium"), Some(deps)))
    }
    assert(report === Seq.fill(3)("cli: compendium"), report)
  }

  test("the compendium report prints the table of two aggregations joined by a crossJoin") {
    def shown(df: org.apache.spark.sql.DataFrame): String = {
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(out)(df.show(truncate = false))
      out.toString("UTF-8")
    }
    def reference(samples: org.apache.spark.sql.DataFrame,
        counts: org.apache.spark.sql.DataFrame) =
      samples.agg(countDistinct(col("project")).as("n_projects"),
        countDistinct(col("srs")).as("n_samples"))
        .crossJoin(counts.agg(
          countDistinct(col("sample")).as("n_samples_with_results")))
    val samples = Seq(("S1", "P1"), ("S2", "P1"), ("S2", "P1"), ("S3", null),
      (null, "P2"), ("S4", "P3"))
      .toDF("srs", "project")
    val counts = Seq(("S1", "A1", 3L), ("S1", "A2", 1L), (null, "A3", 2L),
      ("S9", "A1", 5L)).toDF("sample", "asv", "count")
    val wh = new Warehouse(spark, tmpDir())
    val absent = (wh.readOrEmpty("samples", Schemas.samples),
      wh.readOrEmpty("asv_counts", Schemas.asvCounts))
    Seq((samples, counts), absent, (samples, absent._2), (absent._1, counts))
      .foreach { case (s, c) =>
        val got = Selection.compendiumSummary(s, c)
        val want = reference(s, c)
        assert(got.schema === want.schema)
        assert(shown(got) === shown(want))
      }
    assert(Selection.compendiumSummary(samples, counts).collect().head.toSeq
      === Seq(3L, 4L, 2L))
  }
}
