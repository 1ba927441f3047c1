package graft.compendium

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class StateMachineSpec extends SparkTestBase {
  import spark.implicits._

  test("lifecycle transitions persist through the status upsert") {
    val wh = new Warehouse(spark, tmpDir())
    StateMachine.initialize(wh, "PRJNA1")
    StateMachine.setStatus(wh, "PRJNA1", "accession_list_created")
    StateMachine.setStatus(wh, "PRJNA1", "running")
    StateMachine.setStatus(wh, "PRJNA1", "to_re_run",
      rerunAsSingleEnd = Some(true))
    val row = wh.read("status").collect().head
    assert(row.getAs[String]("status") === "to_re_run")
    assert(row.getAs[Boolean]("rerun_as_single_end"))
  }

  test("illegal transitions are rejected") {
    val wh = new Warehouse(spark, tmpDir())
    StateMachine.initialize(wh, "PRJNA2")
    intercept[IllegalArgumentException] {
      StateMachine.setStatus(wh, "PRJNA2", "done")
    }
  }

  test("re-initializing a tracked project is refused (projects.py:113-119)") {
    val wh = new Warehouse(spark, tmpDir())
    StateMachine.initialize(wh, "PRJNA3")
    StateMachine.setStatus(wh, "PRJNA3", "accession_list_created")
    intercept[IllegalArgumentException] {
      StateMachine.initialize(wh, "PRJNA3")
    }
    // state untouched by the refused re-init
    val row = wh.read("status").collect().head
    assert(row.getAs[String]("status") === "accession_list_created")
  }

  /** The number of Spark jobs `body` starts: a listener counts job starts
    * until a marker job run after `body` has started (a listener sees
    * events in order).
    */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "drain marker"))
          drained.countDown()
        else jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("drain marker")
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** Every file under the warehouse root: (path, length, mtime). */
  private def files(root: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val b = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b.result().sortBy(_._1)
  }

  private def statusRows(wh: Warehouse) =
    wh.readOrEmpty("status", Schemas.status).collect()
      .map(r => (0 until r.length).map(r.get)).sortBy(_.head.toString).toSeq

  test("transitions run on the driver: initialize + three setStatus start no Spark job") {
    val wh = new Warehouse(spark, tmpDir())
    StateMachine.initialize(wh, "PRJ_OTHER")
    val n = jobsIn {
      StateMachine.initialize(wh, "PRJNA4")
      StateMachine.setStatus(wh, "PRJNA4", "accession_list_created")
      StateMachine.setStatus(wh, "PRJNA4", "running")
      StateMachine.setStatus(wh, "PRJNA4", "to_re_run",
        note1 = Some("16% merged"), paired = Some(true),
        rerunAsSingleEnd = Some(true))
    }
    assert(n === 0)
    assert(StateMachine.nonTerminal(wh) === Seq("PRJNA4", "PRJ_OTHER"))
  }

  test("a status table the Spark path wrote transitions and keeps its other row") {
    val root = tmpDir()
    val wh = new Warehouse(spark, root)
    // the old write path's output: a Spark write through the rename-swap,
    // nullable columns with nulls in them, one part file per row
    wh.replace("status", spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("P_A", "running", false, null, null, null),
        Row("P_B", "to_re_run", true, true, "16% merged", "n2")), 2),
      Schemas.status))
    assert(files(root).count(_._1.contains("/part-")) === 2)
    StateMachine.setStatus(wh, "P_A", "complete", paired = Some(false))
    StateMachine.setStatus(wh, "P_B", "running")
    intercept[IllegalArgumentException] {
      StateMachine.setStatus(wh, "P_A", "running")
    }
    assert(statusRows(wh) === Seq(
      Seq("P_A", "complete", false, false, null, null),
      Seq("P_B", "running", true, true, "16% merged", "n2")))
  }

  test("readOrEmpty reads the driver-written status table back with the same rows") {
    val wh = new Warehouse(spark, tmpDir())
    StateMachine.initialize(wh, "P1")
    StateMachine.initialize(wh, "P2")
    StateMachine.setStatus(wh, "P2", "accession_list_created")
    StateMachine.setStatus(wh, "P2", "running")
    StateMachine.setStatus(wh, "P2", "failed",
      note1 = Some(""), paired = Some(false))
    // a setStatus on an untracked project inserts it, nulls and all
    StateMachine.setStatus(wh, "P3", "running")
    val df = wh.readOrEmpty("status", Schemas.status)
    assert(df.columns.toSeq === Schemas.status.fieldNames.toSeq)
    assert(statusRows(wh) === Seq(
      Seq("P1", "initialized", false, null, null, null),
      Seq("P2", "failed", false, false, "", null),
      Seq("P3", "running", null, null, null, null)))
    assert(wh.read("status").schema.map(f => f.name -> f.dataType) ===
      Schemas.status.map(f => f.name -> f.dataType))
    assert(StateMachine.nonTerminal(wh) === Seq("P1", "P3"))
  }

  test("a status__tmp left by a crash before the flip does not break the next transition") {
    val root = tmpDir()
    val wh = new Warehouse(spark, root)
    StateMachine.initialize(wh, "P1")
    // a staging dir the crashed writer half-filled: a torn part file
    val tmp = java.nio.file.Paths.get(root, "status__tmp")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.write(tmp.resolve("part-00000-torn.parquet"),
      "PAR1 torn".getBytes("UTF-8"))
    StateMachine.setStatus(wh, "P1", "accession_list_created")
    assert(!java.nio.file.Files.exists(tmp))
    assert(statusRows(wh) ===
      Seq(Seq("P1", "accession_list_created", false, null, null, null)))
  }

  test("a refused transition leaves the status table's files unchanged") {
    val root = tmpDir()
    val wh = new Warehouse(spark, root)
    StateMachine.initialize(wh, "P1")
    StateMachine.initialize(wh, "P2")
    StateMachine.setStatus(wh, "P2", "failed")
    val before = files(root)
    intercept[IllegalArgumentException] {
      StateMachine.setStatus(wh, "P1", "done")
    }
    intercept[IllegalArgumentException] {
      StateMachine.setStatus(wh, "P2", "running")
    }
    intercept[IllegalArgumentException] {
      StateMachine.setStatus(wh, "P1", "no_such_status")
    }
    intercept[IllegalArgumentException] {
      StateMachine.initialize(wh, "P2")
    }
    assert(files(root) === before)
  }

  test("react maps QC decisions to transitions (projects.py:554-571)") {
    val decisions = Seq(
      ("P1", true, false, true, "bad retention"),
      ("P2", false, true, true, "16% merged errors"),
      ("P3", false, false, true, "")
    ).toDF("project", "discard", "re_run", "paired", "errors")
    val out = StateMachine.react(decisions).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getAs[String]("note1"))).toMap
    assert(out("P1")._1 === "failed")
    assert(out("P1")._2 === "bad retention")
    assert(out("P2")._1 === "to_re_run")
    assert(out("P3")._1 === "complete")
    assert(out("P3")._2 === null)
  }
}

class SelectionSpec extends SparkTestBase {
  import spark.implicits._

  val samples = Seq(
    // project, srr, source, strategy — PRJ_A: 3 processable
    ("S1", "PRJ_A", "R1", "GENOMIC", "AMPLICON"),
    ("S2", "PRJ_A", "R2", "METAGENOMIC", "AMPLICON"),
    ("S3", "PRJ_A", "R3", "GENOMIC", "AMPLICON"),
    // unresolved srr → not counted
    ("S4", "PRJ_A", null, "GENOMIC", "AMPLICON"),
    // wrong strategy / source → not counted
    ("S5", "PRJ_B", "R5", "GENOMIC", "WGS"),
    ("S6", "PRJ_B", "R6", "VIRAL RNA", "AMPLICON"),
    // PRJ_C: 2 processable
    ("S7", "PRJ_C", "R7", "METAGENOMIC", "AMPLICON"),
    ("S8", "PRJ_C", "R8", "METAGENOMIC", "AMPLICON"),
    // PRJ_D: 1 — below min band
    ("S9", "PRJ_D", "R9", "GENOMIC", "AMPLICON")
  ).toDF("srs", "project", "srr", "library_source", "library_strategy")

  test("findTodo: band filter + anti-join excludes tracked projects") {
    val status = Seq(("PRJ_C", "running")).toDF("project", "status")
    val todo = Selection.findTodo(samples, status,
      needed = 5, minSamples = 2, maxSamples = 10).collect()
    assert(todo.map(_.getString(0)).toSet === Set("PRJ_A")) // C tracked, D too small
    assert(todo.head.getAs[Long]("samples") === 3L)
  }

  test("unresolved sample pick is deterministic") {
    val a = Selection.unresolvedSamples(samples, 10).collect().map(_.getString(0))
    val b = Selection.unresolvedSamples(samples, 10).collect().map(_.getString(0))
    assert(a.toSeq === b.toSeq)
    assert(a.toSet === Set("S4"))
  }

  test("uninferred projects via left-outer + null-either filter") {
    val seqs = Seq(("P1", "ASV_1"), ("P2", "ASV_1"), ("P3", "ASV_9"))
      .toDF("project", "asv")
    val inference = Seq(("P1", "v4", 250.0), ("P2", null, 250.0))
      .toDF("project", "region", "length")
    val out = Selection.uninferredProjects(seqs, inference, 10)
      .collect().map(_.getString(0)).toSet
    assert(out === Set("P2", "P3")) // P2: null region counts; P3: no row
  }

  test("accession list matches the processable predicate") {
    val list = Selection.accessionList(samples, "PRJ_A")
      .collect().map(_.getString(0))
    assert(list.toSeq === Seq("R1", "R2", "R3"))
  }

  test("compendium summary counts") {
    val counts = Seq(("R1", "ASV_1", 5L), ("R2", "ASV_1", 3L))
      .toDF("sample", "asv", "count")
    val r = Selection.compendiumSummary(samples, counts).collect().head
    assert(r.getAs[Long]("n_projects") === 4L)
    assert(r.getAs[Long]("n_samples") === 9L)
    assert(r.getAs[Long]("n_samples_with_results") === 2L)
  }

  test("compact: many-file append accumulation rewrites to the byte-justified file count, rows preserved") {
    val wh = new Warehouse(spark, tmpDir())
    // simulate an append-heavy store: 8 micro-batch appends, each
    // flushing its own files (the streaming-sidecar accumulation shape)
    (0 until 8).foreach { b =>
      wh.append("acc", (b * 100 until (b + 1) * 100).toDF("id")
        .repartition(4))
    }
    val (before, bytes) = wh.fileStats("acc")
    assert(before === 32L, "8 appends x 4 files accumulate")
    val rowsBefore = wh.read("acc").collect().map(_.getInt(0)).sorted.toSeq
    // a target far above the table size justifies exactly ONE file
    val (b0, a0) = wh.compact("acc", targetFileBytes = bytes * 10)
    assert(b0 === 32L && a0 === 1L)
    assert(wh.read("acc").collect().map(_.getInt(0)).sorted.toSeq
      === rowsBefore, "compaction must be row-preserving")
    // already-within-budget layout: a no-op, nothing rewritten
    val mtime = {
      val p = new org.apache.hadoop.fs.Path(s"${wh.read("acc").inputFiles.head}")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getModificationTime
    }
    val (b1, a1) = wh.compact("acc", targetFileBytes = bytes * 10)
    assert(b1 === 1L && a1 === 1L)
    val mtime2 = {
      val p = new org.apache.hadoop.fs.Path(s"${wh.read("acc").inputFiles.head}")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getModificationTime
    }
    assert(mtime2 === mtime, "a healthy layout must not be rewritten")
  }
}

class WarehouseSchemaSpec extends SparkTestBase {
  import spark.implicits._

  test("appending a narrower frame never narrows the table") {
    val wh = new Warehouse(spark, tmpDir())
    wh.append("flat", Seq((1L, "a", 10.0)).toDF("k", "s", "x"))
    wh.append("flat", Seq((2L, "b")).toDF("k", "s"))
    val flat = wh.read("flat")
    assert(flat.columns.toSeq === Seq("k", "s", "x"))
    assert(flat.orderBy("k").as[(Long, String, Option[Double])].collect()
      .toSeq === Seq((1L, "a", Some(10.0)), (2L, "b", None)))

    wh.append("part", Seq(("P1", 1L, 5L)).toDF("project", "k", "n"),
      Seq("project"))
    wh.append("part", Seq(("P2", 2L)).toDF("project", "k"), Seq("project"))
    val part = wh.read("part")
    assert(part.columns.toSeq === Seq("k", "n", "project"))
    assert(part.orderBy("k").as[(Long, Option[Long], String)].collect()
      .toSeq === Seq((1L, Some(5L), "P1"), (2L, None, "P2")))
  }
}

class WarehouseCdcPartitionedSpec extends graft.SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def partFiles(root: String, table: String, part: Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$table/pk=$part")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val it = fs.listFiles(p, true)
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_"))
          b += ((f.getPath.toString, f.getModificationTime))
      }
      b.result().sortBy(_._1)
    }
  }

  private val changes = Seq(
    (34L, 1L, "U", 34990L),  // update in partition 2
    (37L, 1L, "D", 0L),      // tombstone in partition 5
    (37L, 2L, "I", 37100L),  // ...resurrected by a later seq (5 again)
    (1002L, 1L, "I", 500L),  // brand-new key -> partition 10
    (9999L, 1L, "D", 0L))    // delete of an absent key: no-op (part 15)

  test("applyCdcPartitioned equals the flat applyCdc merge on the row set") {
    val rootA = tmpDir(); val rootB = tmpDir()
    val whA = new Warehouse(spark, rootA)
    val whB = new Warehouse(spark, rootB)
    val base = (0L until 160L).map(k => (k, k * 10)).toDF("k", "cents")
    whA.replace("flat", base)
    whB.applyCdcPartitioned("part", base
      .withColumn("seq", lit(0L)).withColumn("op", lit("I"))
      .select("k", "seq", "op", "cents"),
      "k", "seq", "op", "pk", c => pmod(c, lit(16L)))
    whA.applyCdc("flat", changes.toDF("k", "seq", "op", "cents"),
      "k", "seq", "op")
    whB.applyCdcPartitioned("part",
      changes.toDF("k", "seq", "op", "cents"),
      "k", "seq", "op", "pk", c => pmod(c, lit(16L)))
    val a = whA.read("flat").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("cents"))).sorted.toSeq
    val b = whB.read("part").select("k", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b, "partitioned CoW must produce the flat merge's rows")
  }

  test("applyCdcPartitioned leaves untouched partitions byte-identical on disk") {
    val root = tmpDir()
    val wh = new Warehouse(spark, root)
    wh.applyCdcPartitioned("t",
      (0L until 160L).map(k => (k, 0L, "I", k * 10)).toDF("k", "seq", "op", "cents"),
      "k", "seq", "op", "pk", c => pmod(c, lit(16L)))
    val untouchedBefore = (0L until 16L)
      .filterNot(Set(2L, 5L, 10L, 15L)).map(p => p -> partFiles(root, "t", p))
    val touchedBefore = partFiles(root, "t", 2)
    wh.applyCdcPartitioned("t", changes.toDF("k", "seq", "op", "cents"),
      "k", "seq", "op", "pk", c => pmod(c, lit(16L)))
    untouchedBefore.foreach { case (p, files) =>
      assert(partFiles(root, "t", p) === files,
        s"partition $p was not touched by the batch — its files must not move")
    }
    assert(partFiles(root, "t", 2) !== touchedBefore,
      "the touched partition must have been rewritten")
    val rows = wh.read("t").select("k", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows(34L) === 34990L && rows(37L) === 37100L &&
      rows(1002L) === 500L && !rows.contains(9999L))
  }

  test("compact refuses a partitioned table; compactPartitions rewrites only the fragmented partition, rows preserved") {
    val root = tmpDir()
    val wh = new Warehouse(spark, root)
    // 2-partition table: pk=0 healthy (1 file), pk=1 fragmented by 6
    // small appends (the hot-partition accumulation shape)
    wh.append("t", Seq((0L, 0L, 100L)).toDF("k", "pk", "cents")
      .coalesce(1), Seq("pk"))
    (0 until 6).foreach { i =>
      wh.append("t", Seq((10L + i, 1L, i * 10L)).toDF("k", "pk", "cents")
        .coalesce(1), Seq("pk"))
    }
    // the flat path must refuse: its coalesce-rewrite would flatten the
    // layout, and a later dynamic partition overwrite only replaces
    // partition dirs, leaving the flat root files to DUPLICATE rows
    val e = intercept[IllegalArgumentException] { wh.compact("t") }
    assert(e.getMessage.contains("compactPartitions"))
    val healthyBefore = partFiles(root, "t", 0)
    val rowsBefore = wh.read("t").select("k", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val (before, after) = wh.compactPartitions("t",
      targetFileBytes = 1L << 20)
    assert(before === 7L && after === 2L,
      "6 fragments + 1 healthy must compact to 1 + 1")
    assert(partFiles(root, "t", 0) === healthyBefore,
      "the healthy partition must not be read or rewritten")
    assert(partFiles(root, "t", 1).size === 1,
      "the fragmented partition compacts to its byte-justified file count")
    assert(wh.read("t").select("k", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === rowsBefore,
      "partition-granular compaction must be row-preserving")
    // and the flat entry point stays available for flat tables only
    val e2 = intercept[IllegalArgumentException] {
      wh.compactPartitions("t_missing")
    }
    assert(e2.getMessage.contains("flat"))
  }

  test("applyCdcPartitioned drops a partition the batch fully tombstones (no resurrection)") {
    val root = tmpDir()
    val wh = new Warehouse(spark, root)
    // one key per partition, so deleting k=7 empties partition 7
    wh.applyCdcPartitioned("t",
      (0L until 16L).map(k => (k, 0L, "I", k * 10)).toDF("k", "seq", "op", "cents"),
      "k", "seq", "op", "pk", c => pmod(c, lit(16L)))
    wh.applyCdcPartitioned("t",
      Seq((7L, 1L, "D", 0L)).toDF("k", "seq", "op", "cents"),
      "k", "seq", "op", "pk", c => pmod(c, lit(16L)))
    assert(partFiles(root, "t", 7).isEmpty,
      "an emptied partition's old files would resurrect deleted rows")
    val ks = wh.read("t").select("k").collect().map(_.getLong(0)).toSet
    assert(ks === (0L until 16L).toSet - 7L)
  }
}
