package graft.compendium

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Results loading (SURVEY.md §2 S4/S5/S6, T4, P6, J3/J4):
  * wide ASV×sample count matrix → sparse triplets, FASTA + taxonomy parse,
  * surrogate-key join. Reference: projects.py:418-523.
  *
  * Scale design:
  *  - the counts matrix unpivots with the native `unpivot` (codegen'd
  *    generator, no driver accumulation — the reference builds the whole
  *    triplet list in a Python list, projects.py:423-440);
  *  - FASTA splits on '>' record boundaries so multi-TB FASTA scans
  *    parallelize;
  *  - the surrogate `asv_id` is the 60-bit md5-derived hash of
  *    `project\n asv` (graft.functions.Portable.h60) — deterministic
  *    and computed where the row lives, replacing SQLite rowids (which
  *    require a serialized insert + read-back round trip,
  *    projects.py:499-523) with a shuffle-free pure function that any
  *    engine reproduces (the correctness oracle recomputes it in SQL).
  *    Collision probability at compendium scale (~10^7 ASVs) is ~4×10^-5
  *    per table and acceptable for an analytics key; a window row_number
  *    alternative remains available for strict uniqueness.
  */
object ResultsLoad {

  /** S4+T4+P6 (projects.py:425-439): wide counts matrix → (sample, asv,
    * count) triplets, zeros dropped.
    */
  def readCountsMatrix(spark: SparkSession, path: String): DataFrame = {
    val raw = Tsv.read(spark, path)
    val asvCol = raw.columns.head // blank header cell → ASV label column
    val sampleCols = raw.columns.tail
    raw.withColumnRenamed(asvCol, "asv")
      .unpivot(Array(col("asv")), sampleCols.map(col), "sample", "count_str")
      .select(col("sample"), col("asv"), col("count_str").cast("long").as("count"))
      .filter(col("count") =!= 0L) // sparse filter (projects.py:438)
  }

  /** S5 (projects.py:449-459): FASTA → (asv, seq). Records are split on the
    * '>' marker; the first line is the label, remaining lines concatenate to
    * the sequence (the reference assumes exactly one sequence line; this is
    * a superset that handles wrapped FASTA identically for 2-line records).
    */
  def readFasta(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("lineSep", ">").text(path)
      .as[String]
      .flatMap { chunk =>
        val lines = chunk.split("\n").filter(_.nonEmpty)
        if (lines.length >= 1 && lines.head.nonEmpty)
          Some((lines.head.trim, lines.tail.mkString("")))
        else None
      }
      .toDF("asv", "seq")
      .filter(col("asv") =!= "")
  }

  /** S6 (projects.py:463-468): taxonomy TSV → asv + 6 rank columns.
    * `class`/`order` are SQL-hostile names → `tclass`/`torder`
    * (db.py:167-178 uses the same workaround).
    */
  def readTaxonomy(spark: SparkSession, path: String): DataFrame = {
    val raw = Tsv.read(spark, path)
    val ranks = Seq("kingdom", "phylum", "tclass", "torder", "family", "genus")
    val keep = raw.columns.take(1 + ranks.length)
    raw.select(keep.map(col).toSeq: _*)
      .toDF(("asv" +: ranks.take(keep.length - 1)): _*)
  }

  /** Deterministic, engine-portable surrogate id (J4): h60 over the
    * newline-delimited (project, asv) pair — line-oriented accession/ASV
    * labels cannot contain a newline, so the pairing is injective. DuckDB
    * twin: `('0x' || substr(md5(project || chr(10) || asv), 1, 15))::BIGINT`.
    */
  def withAsvId(df: DataFrame): DataFrame =
    df.withColumn("asv_id", graft.functions.Portable.h60(
      concat(col("project"), lit("\n"), col("asv"))))

  /** Full per-project load (projects.py:481-523): returns the three table
    * deltas ready to append.
    */
  def load(spark: SparkSession, dir: String, project: String,
      cfg: EngineConfig = EngineConfig.default)
      : (DataFrame, DataFrame, DataFrame) = {
    val counts = readCountsMatrix(spark, s"$dir/ASVs_counts.tsv")
    val fasta = readFasta(spark, s"$dir/ASVs.fa")
    val tax = readTaxonomy(spark, s"$dir/ASVs_taxonomy.tsv")
    // Reference builds `seqs` from taxa.keys() (projects.py:478): the
    // asv_sequences table only records ASVs present in the taxonomy file —
    // semi-join the FASTA on the taxonomy ASV set. A taxonomy ASV missing
    // from the FASTA raises KeyError in the reference (projects.py:478);
    // mirror that with an eager check (taxonomy side is per-project small).
    val missing = tax.join(fasta.select("asv"), Seq("asv"), "left_anti")
      .select("asv").limit(20).collect().map(_.getString(0))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"taxonomy ASVs absent from FASTA for $project (reference KeyError, " +
        s"projects.py:478): ${missing.mkString(", ")}")
    val seqs = withAsvId(
      fasta.join(broadcast(tax.select("asv")), Seq("asv"), "left_semi")
        .withColumn("project", lit(project)))
      .select("asv_id", "project", "asv", "seq")
    // J3+J4: taxonomy ⋈ sequence ids on the per-project ASV label.
    // Assignments exist only for ASVs present in both files → inner join;
    // broadcast the small side.
    val assignments = tax.join(
      broadcast(seqs.select("asv", "asv_id")), Seq("asv"), "inner")
      .select(col("asv_id"), lit(cfg.taxonomyDatabase).as("tdatabase"),
        col("kingdom"), col("phylum"), col("tclass"), col("torder"),
        col("family"), col("genus"))
    (counts, seqs, assignments)
  }
}
