package graft.compendium

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Project selection & reporting queries over the warehouse tables
  * (SURVEY.md §2 A1-A4, P1-P3, J2/J6, O1-O3).
  * Reference: management.py, db.py:266-516, projects.py:56-85.
  */
object Selection {

  /** P2 (projects.py:67-73): the processable-samples predicate, reused by
    * the accession-list writer and candidate counting.
    */
  def processableSamples(samples: DataFrame): DataFrame =
    samples.filter(
      col("srr").isNotNull &&
        col("library_source").isin("GENOMIC", "METAGENOMIC") &&
        col("library_strategy") === "AMPLICON")

  /** A1+J6 (management.py:90-125): candidate projects within the sample-count
    * band, excluding already-tracked projects.
    *
    * Divergence (documented, SURVEY §7.3): the reference's exclusion compares
    * a tuple against a string list and never excludes (management.py:125);
    * we implement the evident intent. `tracked` is every project of the
    * `status` table, which the caller has already read on the driver
    * ([[StateMachine.statuses]]), so the exclusion is a literal list in the
    * filter instead of a join against the table: a null project is kept,
    * as the anti-join it replaces kept it. `ORDER BY RANDOM()` becomes a
    * deterministic Knuth-hash order so runs are reproducible (and testable)
    * on any cluster.
    */
  def findTodo(samples: DataFrame, tracked: Seq[String], needed: Int,
      minSamples: Long = 50, maxSamples: Long = 10000): DataFrame =
    processableSamples(samples)
      .groupBy("project")
      .agg(count(col("srr")).as("samples"))
      .filter(col("samples") >= minSamples && col("samples") <= maxSamples)
      .filter(col("project").isNull || !col("project").isin(tracked: _*))
      .withColumn("h", abs(xxhash64(col("project"))))
      .orderBy("h", "project")
      .limit(needed)
      .select("project", "samples")

  /** P1+O1 (db.py:278-283): unresolved samples needing run accessions —
    * deterministic-hash sample of n.
    */
  def unresolvedSamples(samples: DataFrame, n: Int): DataFrame =
    samples.filter(col("srr").isNull)
      .withColumn("h", abs(xxhash64(col("srs"))))
      .orderBy("h", "srs")
      .limit(n)
      .select("srs")

  /** J2+P4+O1 (db.py:483-491): projects with sequences but no inference.
    * Kept as the literal left-outer + IS-NULL-either form; Catalyst
    * rewrites it. DISTINCT before the join keeps the join side small.
    */
  def uninferredProjects(asvSequences: DataFrame, asvInference: DataFrame,
      n: Int): DataFrame =
    asvSequences.select("project").distinct()
      .join(asvInference, Seq("project"), "left_outer")
      .filter(col("region").isNull || col("length").isNull)
      .withColumn("h", abs(xxhash64(col("project"))))
      .orderBy("h", "project")
      .limit(n)
      .select("project")

  /** K4 (projects.py:56-85): accession list for one project — the srr
    * column of its processable samples, sorted for determinism. A
    * project's list is driver-sized, so it is collected and sorted on the
    * driver in the order Spark sorts strings (UTF-8 bytes, unsigned), not
    * by a distributed sort's sampling and exchange jobs.
    */
  def accessionList(samples: DataFrame, project: String): Seq[String] =
    processableSamples(samples)
      .filter(col("project") === project)
      .select("srr").collect().map(_.getString(0)).toSeq
      .sorted(utf8Order)

  /** Spark's string order: UTF-8 bytes compared unsigned. */
  private val utf8Order: Ordering[String] = Ordering.fromLessThan { (a, b) =>
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0
  }

  /** A2 (management.py:133-149, intent — the reference SQL names columns
    * that don't exist): compendium summary of distinct projects/samples.
    * The three exact distinct counts come from one aggregation over a
    * union of (kind, value) pairs, nulls dropped as `countDistinct` drops
    * them, and the one-row frame is built on the driver: two shuffle jobs
    * and a collect, where two separate aggregations joined by a
    * `crossJoin` planned four exchanges and a broadcast.
    */
  def compendiumSummary(samples: DataFrame, asvCounts: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val names = Seq("n_projects", "n_samples", "n_samples_with_results")
    val counts = Seq(samples.select("project"), samples.select("srs"),
        asvCounts.select("sample"))
      .zipWithIndex
      .map { case (values, kind) =>
        values.toDF("v").withColumn("kind", lit(kind))
      }
      .reduce(_ union _)
      .filter(col("v").isNotNull)
      .groupBy("kind").agg(countDistinct(col("v")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    samples.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(
        names.indices.map(counts.getOrElse(_, 0L)))),
      StructType(names.map(StructField(_, LongType, nullable = false))))
  }
}
