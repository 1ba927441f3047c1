package graft.operators

import graft.{JobLog, SparkEntry, SparkTestBase}
import org.apache.spark.sql.Row

/** The stateful foreachBatch gates write each micro-batch with ONE Spark
  * job: no emptiness probe runs the stateful stage ahead of the append.
  * A batch that emits nothing still writes (one empty parquet file that
  * carries the schema), so the store reads back exactly the emitted
  * rows, and zero rows with the declared schema when nothing was emitted.
  * The aggregate IVM gates run a pinned number of jobs per epoch, each
  * labelled by its phase, and an empty IVM epoch changes nothing but the
  * marker on every store.
  */
class StreamBatchJobsSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  /** The streaming jobs of `log`, grouped per (query, batch), in start
    * order. */
  private def perBatch(log: Seq[JobLog]): Seq[Seq[JobLog]] =
    log.flatMap { j =>
      for {
        q <- j.prop("sql.streaming.queryId")
        b <- j.prop("streaming.sql.batchId")
      } yield (q, b.toLong) -> j
    }.groupBy(_._1).toSeq.sortBy(_._1._2).map(_._2.map(_._2))

  /** Runs gate `name` over `dir`, returning its rows and its job log. */
  private def runGate(name: String, dir: String): (Array[Row], Seq[JobLog],
      org.apache.spark.sql.types.StructType) = {
    var rows = Array.empty[Row]
    var schema = new org.apache.spark.sql.types.StructType
    val log = jobLog {
      val df = SparkEntry.queries(name)(spark, dir)
      schema = df.schema
      rows = df.collect()
    }
    (rows, log, schema)
  }

  /** The gate's oracle SQL run by Spark over the same tables. The CDC
    * oracles' two DuckDB idioms are spelled in Spark: a hex literal cast
    * ('0x' || h)::BIGINT becomes conv(h, 16, 10), and a 1-based list
    * subscript element_at.
    */
  private def oracle(name: String, dir: String): Seq[Seq[Any]] = {
    val views = Seq("events" -> graft.core.Tables.events(spark, dir),
      "orders" -> graft.core.Tables.load(spark, dir, "orders"))
    views.foreach { case (v, df) => df.createOrReplaceTempView(v) }
    val sql = SparkEntry.oracleSql(name)
      .replaceAll("""\('0x' \|\| (substr\(md5\([^)]*\), 1, 15\))\)::BIGINT""",
        "CAST(conv($1, 16, 10) AS BIGINT)")
      .replaceAll("""\['I','U','D'\]\[(\(.*\) \+ 1)\] AS op""",
        "element_at(array('I','U','D'), CAST($1 AS INT)) AS op")
    try spark.sql(sql).collect().map(_.toSeq).toSeq
    finally views.foreach { case (v, _) => spark.catalog.dropTempView(v) }
  }

  private def multiset(rows: Seq[Seq[Any]]) =
    rows.groupBy(_.map(String.valueOf)).view.mapValues(_.size).toMap

  test("c21 and c28 run one Spark job per micro-batch, outputs equal to the oracle SQL") {
    Seq("c21_stream_stream_join" -> 3, "c28_stream_outer_join" -> 5)
      .foreach { case (name, batches) =>
        val (rows, log, _) = runGate(name, sf)
        assert(perBatch(log).map(_.size) === Seq.fill(batches)(1), name)
        val out = rows.toSeq.map(_.toSeq)
        assert(out.nonEmpty, name)
        assert(multiset(out) === multiset(oracle(name, sf)), name)
      }
  }

  test("mixed replay: the store holds exactly the emitted rows, each once") {
    // c17 buffers every event behind its watermark until the sentinel
    // rounds, so its first batches emit nothing and the last ones emit
    val name = "c17_stream_transitions_stateful"
    val (rows, log, _) = runGate(name, sf)
    val jobs = perBatch(log)
    assert(jobs.forall(_.size == 1), jobs.map(_.size))
    val written = jobs.map(_.head.rowsWritten)
    assert(written.contains(0L) && written.exists(_ > 0), written)
    // each output row counts n stored transitions; sentinel users emit none
    assert(rows.map(_.getAs[Long]("n")).sum === written.sum)
    assert(multiset(rows.toSeq.map(_.toSeq)) === multiset(oracle(name, sf)))
  }

  test("a replay where every batch emits nothing reads back zero rows with the declared schema") {
    // one event: c17 has no transition to emit, the sentinels emit none
    val dir = tmpDir()
    graft.core.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_id") % 97 === 7)
      .orderBy("event_id").limit(1)
      .write.parquet(s"$dir/events.parquet")
    val name = "c17_stream_transitions_stateful"
    val root = new java.io.File(graft.core.StoreFixture.scratch("probe"))
      .getParentFile
    def stores = Option(root.list()).toSeq.flatten
      .filter(_.startsWith("c17_trans")).toSet
    val before = stores
    val (rows, log, schema) = runGate(name, dir)
    // the corpus's one batch and the two sentinel rounds
    assert(perBatch(log).map(j => (j.size, j.head.rowsWritten)) ===
      Seq.fill(3)((1, 0L)))
    assert(rows.isEmpty)
    assert(schema.map(f => f.name -> f.dataType) ===
      SparkEntry.registry.find(_.name == name).get.staticSchema.get
        .map(f => f.name -> f.dataType))
    // the store exists and its empty files carry the sink's schema: a
    // read without a declared schema infers it
    val store = (stores -- before).toSeq
    assert(store.size === 1, store)
    val onDisk = spark.read.parquet(s"$root/${store.head}/c17_transitions")
    assert(onDisk.columns.toSeq === Seq("user_id", "event_type", "next_type"))
    assert(onDisk.count() === 0L)
  }

  test("the IVM gates run exact Spark jobs per epoch, each labelled by its phase, outputs equal to the oracle SQL") {
    // jobs per epoch at sf0.001. Before the one epoch body they were
    // c12 17/14/14, c15 26/18/18, c23 21/19/19, c27 19/19/19/19 and
    // c29 19/19/19: the manifest gates ran an isEmpty probe per epoch,
    // c15's first epoch probed its bootstrap view for emptiness, and
    // the flat c12 re-resolved the batch for its base rewrite
    val want = Seq("c12_stream_replay" -> Seq(13, 11, 11),
      "c15_stream_replay_partitioned" -> Seq(20, 18, 18),
      "c23_stream_replay_manifest" -> Seq(20, 18, 18),
      "c27_stream_clustered_cdc" -> Seq(18, 18, 18, 18),
      "c29_time_travel_read" -> Seq(18, 18, 18))
    val got = want.map { case (name, _) =>
      val (rows, log, _) = runGate(name, sf)
      val jobs = perBatch(log)
      val labels = jobs.flatten.map(_.prop("spark.job.description").orNull)
      assert(labels.forall(l => l != null &&
        (l.startsWith("ivm: ") || l.startsWith("mc: stage "))),
        s"$name: ${labels.distinct}")
      val out = rows.toSeq.map(_.toSeq)
      assert(out.nonEmpty, name)
      assert(multiset(out) === multiset(oracle(name, sf)), name)
      name -> jobs.map(_.size)
    }
    assert(got === want)
  }

  /** 64 keys over 16 buckets, ck = k mod 8. */
  private def seedBatch = {
    import spark.implicits._
    (0L until 64L).map(k => (k, 0L, "I", k % 8, k * 10))
      .toDF("k", "seq", "op", "ck", "cents")
  }

  private def emptyBatch = {
    import spark.implicits._
    Seq.empty[(Long, Long, String, Long, Long)]
      .toDF("k", "seq", "op", "ck", "cents")
  }

  /** Every data file under `root`, with its size and mtime. */
  private def files(root: String): Set[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val b = Set.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") &&
          !f.getPath.toString.contains("__epoch"))
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b.result()
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  import graft.streaming.{EventStreams, IvmStore}

  /** The three stores, each over a fresh root: flat and bucketed
    * warehouse, and the manifest; with the root and a base reader. */
  private def stores()
      : Seq[(String, IvmStore, String, () => org.apache.spark.sql.DataFrame)] = {
    val (r1, r16, rm) = (tmpDir(), tmpDir(), tmpDir())
    val w1 = new graft.compendium.Warehouse(spark, r1)
    val w16 = new graft.compendium.Warehouse(spark, r16)
    val mc = new graft.compendium.ManifestCommit(spark, rm)
    Seq(
      ("warehouse, 1 bucket", IvmStore.Warehouse(w1, "base", "view"), r1,
        () => w1.readOrEmpty("base", IvmStore.BaseSchema)),
      ("warehouse, 16 buckets", IvmStore.Warehouse(w16, "base", "view", 16),
        r16, () => w16.read("base").select("k", "ck", "cents")),
      ("manifest, 16 buckets", IvmStore.ManifestCommit(mc, "base", "view"),
        rm, () => mc.readPartitionedAt(mc.current(), "base").get
          .select("k", "ck", "cents")))
  }

  test("an empty epoch bootstraps an absent view, and otherwise changes nothing but the marker, on every store") {
    stores().foreach { case (name, store, root, base) =>
      // absent view over a populated base: the bootstrap aggregate
      EventStreams.applyIvmBatch(seedBatch, store, 0L, "seed")
      val wantView = rowsOf(base().groupBy("ck").agg(
        org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.sum("cents").as("cents_total")))
      assert(rowsOf(store.readView()) === wantView, name)
      val (viewBefore, baseBefore, filesBefore) =
        (rowsOf(store.readView()), rowsOf(base()), files(root))
      EventStreams.applyIvmBatch(emptyBatch, store, 1L, "seed")
      assert(rowsOf(store.readView()) === viewBefore, name)
      assert(rowsOf(base()) === baseBefore, name)
      // a bucketed store rewrites and sweeps nothing; the flat store
      // rewrites its two tables whole, with the same rows
      if (store.buckets > 1) assert(files(root) === filesBefore, name)
      // and the marker moved: a replay of epoch 1 is refused
      EventStreams.applyIvmBatch(seedBatch, store, 1L, "seed")
      assert(rowsOf(base()) === baseBefore, name)
    }
  }

  test("an empty first epoch over a populated base with no view bootstraps the view on every store") {
    stores().foreach { case (name, store, root, _) =>
      EventStreams.applyIvmBatch(seedBatch, store, 0L, "seed")
      val want = rowsOf(store.readView())
      // drop the view: a fresh store over the same base
      val fresh = store match {
        case s: IvmStore.Warehouse => s.copy(viewTable = "view2")
        case s: IvmStore.ManifestCommit => s.copy(viewTable = "view2")
      }
      assert(!fresh.viewExists, name)
      val filesBefore = files(root)
      EventStreams.applyIvmBatch(emptyBatch, fresh, 0L, "boot")
      assert(rowsOf(fresh.readView()) === want, name)
      // the base is untouched by the bootstrap
      if (store.buckets > 1)
        assert(filesBefore.filter(_._1.contains("/base")).subsetOf(
          files(root)), name)
    }
  }
}
