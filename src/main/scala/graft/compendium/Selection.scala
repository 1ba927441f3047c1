package graft.compendium

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    * we implement the evident intent as a left-anti join against `status`.
    * `ORDER BY RANDOM()` becomes a deterministic Knuth-hash order so runs
    * are reproducible (and testable) on any cluster.
    */
  def findTodo(samples: DataFrame, status: DataFrame, needed: Int,
      minSamples: Long = 50, maxSamples: Long = 10000): DataFrame =
    processableSamples(samples)
      .groupBy("project")
      .agg(count(col("srr")).as("samples"))
      .filter(col("samples") >= minSamples && col("samples") <= maxSamples)
      .join(status.select("project"), Seq("project"), "left_anti")
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
    * column of its processable samples, sorted for determinism.
    */
  def accessionList(samples: DataFrame, project: String): DataFrame =
    processableSamples(samples)
      .filter(col("project") === project)
      .select("srr").orderBy("srr")

  /** A2 (management.py:133-149, intent — the reference SQL names columns
    * that don't exist): compendium summary of distinct projects/samples.
    */
  def compendiumSummary(samples: DataFrame, asvCounts: DataFrame): DataFrame =
    samples.agg(
      countDistinct(col("project")).as("n_projects"),
      countDistinct(col("srs")).as("n_samples"))
      .crossJoin(asvCounts.agg(
        countDistinct(col("sample")).as("n_samples_with_results")))

  /** A3 (management.py:151-156): status report. */
  def statusReport(status: DataFrame): DataFrame =
    status.groupBy("status")
      .agg(countDistinct(col("project")).as("n_projects"))
      .orderBy(desc("n_projects"), asc("status"))
}
