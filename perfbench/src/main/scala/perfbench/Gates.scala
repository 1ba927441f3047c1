package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The stream_gates workload: gates from `graft.SparkEntry.queries`, each
  * timed as one call that runs the gate and writes its result as parquet
  * (the output the DuckDB oracle check reads).
  */
object Gates {

  /** One pass over `names`, writing each result under `out`. */
  def pass(spark: SparkSession, meter: Meter, dataDir: String,
      names: Seq[String], out: Path): Unit = {
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      meter.timed(s"gate.$n") {
        qs(n)(spark, dataDir).write.mode("overwrite")
          .parquet(out.resolve(n).toString)
      }
      // graft.Bench's hygiene between queries: no cached blocks carry over
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
  }
}
