package graft.operators

import graft.{JobLog, SparkEntry, SparkTestBase}
import org.apache.spark.sql.Row

/** The stateful foreachBatch gates write each micro-batch with ONE Spark
  * job: no emptiness probe runs the stateful stage ahead of the append.
  * A batch that emits nothing still writes (one empty parquet file that
  * carries the schema), so the store reads back exactly the emitted
  * rows, and zero rows with the declared schema when nothing was emitted.
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

  /** The gate's oracle SQL run by Spark over the same events. */
  private def oracle(name: String, dir: String): Seq[Seq[Any]] = {
    graft.core.Tables.events(spark, dir).createOrReplaceTempView("events")
    try spark.sql(SparkEntry.oracleSql(name)).collect().map(_.toSeq).toSeq
    finally spark.catalog.dropTempView("events"): Unit
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
}
