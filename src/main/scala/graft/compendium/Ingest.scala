package graft.compendium

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata ingest job (SURVEY.md §3.1): parsed BioSample XML anti-joined
  * against already-recorded keys, then appended — the `main.py xml` / `tags`
  * commands.
  *
  * The reference prefetches the full key lists into Python lists and does
  * O(n) membership scans per record (db.py:215-221, 243 — a real
  * quadratic-time bug at 10^5 samples). Here J1 is a broadcast left-anti
  * join: the existing-key side is just the `srs` column (column-pruned
  * scan), broadcast when small, shuffled hash anti-join when not.
  * Re-ingesting the same file is a no-op → "an XML file can be parsed in
  * stages" (db.py:215) holds natively.
  */
object Ingest {

  /** `main.py xml <taxon> <file>` (db.py:194, save_samples path). */
  def loadSamples(spark: SparkSession, wh: Warehouse, taxon: String,
      xmlPath: String): Long = {
    val parsed = BioSampleXml.read(spark, xmlPath)
    val existing = wh.readOrEmpty("samples", Schemas.samples).select("srs")
    val fresh = BioSampleXml.samples(parsed, taxon)
      .join(existing, Seq("srs"), "left_anti")
      .select(Schemas.samples.fieldNames.map(f =>
        if (Seq("srs", "taxon").contains(f)) col(f)
        else lit(null).cast(Schemas.samples(f).dataType).as(f)).toSeq: _*)
    wh.appendCounted("samples", fresh)
  }

  /** `main.py tags <taxon> <file>` (db.py:194, save_tags path): only samples
    * with no recorded tags yet get their tags inserted (db.py:246).
    */
  def loadTags(spark: SparkSession, wh: Warehouse, xmlPath: String): Long = {
    val parsed = BioSampleXml.read(spark, xmlPath)
    val existing = wh.readOrEmpty("tags", Schemas.tags)
      .select("srs").distinct()
    val fresh = BioSampleXml.tags(
      parsed.join(existing, Seq("srs"), "left_anti"))
    wh.appendCounted("tags", fresh)
  }
}
