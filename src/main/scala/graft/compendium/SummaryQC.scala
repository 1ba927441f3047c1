package graft.compendium

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's QC evaluation pipeline (SURVEY.md §2 S3/A5/A6/F5-F7):
  * summary.tsv scan → per-sample derived metrics + flags → per-project
  * boolean-fraction rollup → save / re-run-single-end / discard decision.
  *
  * Reference: projects.py:203-311 (rollup + decision),
  * projects.py:579-629 (Sample), config_template.py:42-76 (thresholds).
  *
  * Everything is plain column expressions — no UDFs — so the whole pipeline
  * stays inside WholeStageCodegen, and the rollup is a single groupBy with
  * map-side partial aggregation. [[evaluate]] reads the header on the
  * driver ([[Tsv]]) and rolls up on one partition, so one evaluation is
  * one Spark job with no shuffle.
  *
  * Documented divergences from the reference:
  *  - `retained_percent` division is guarded (reference raises on dinput=0,
  *    projects.py:625); a zero-input sample yields null percent and false
  *    flags, consistent with how the reference treats the other two ratios.
  *  - For single-end projects the reference's `_check_merged` zeroes the
  *    merged fractions after a `break` (projects.py:246-264); we reproduce
  *    the observable result (0.0 fractions, no merged flags).
  */
object SummaryQC {

  /** S3 (projects.py:214-224): header-driven TSV; the header's first cell is
    * blank (→ `_c0`), renamed `srr`; 8 trailing characters stripped from the
    * srr cell (projects.py:581, e.g. `_1.fastq`). Column presence of `revse`
    * decides paired-ness (projects.py:588).
    */
  def readSummaryTsv(spark: SparkSession, path: String): DataFrame = {
    val raw = Tsv.read(spark, path)
    val renamed = raw.withColumnRenamed(raw.columns.head, "srr")
    val counts = renamed.columns.filter(_ != "srr")
    counts.foldLeft(
      renamed.withColumn("srr",
        expr("substr(srr, 1, greatest(length(srr) - 8, 0))"))
    )((df, c) => df.withColumn(c, col(c).cast("long")))
  }

  /** Per-sample derived metrics and warn/error flags (projects.py:598-629).
    * Works on any DataFrame carrying the summary columns; `revse`/`merged`
    * may be absent (single-end).
    */
  def sampleQc(df: DataFrame, th: QcThresholds = QcThresholds()): DataFrame = {
    val paired = df.columns.contains("revse")
    def guarded(num: Column, den: Column): Column =
      when(den.isNull || den === 0L, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))

    val base = df
      .withColumn("is_paired", lit(paired))
      // projects.py:605: 1 - nonchim/length; div-by-zero → flags false
      .withColumn("chimera_percent", when(col("length") === 0L, lit(null))
        .otherwise(lit(1.0) - col("nonchim").cast("double") / col("length").cast("double")))
      .withColumn("chimera_warn",
        coalesce(col("chimera_percent") > th.chimeraWarn, lit(false)))
      .withColumn("chimera_error",
        coalesce(col("chimera_percent") > th.chimeraError, lit(false)))
      // projects.py:625: nonchim/dinput (guarded here; divergence noted)
      .withColumn("retained_percent", guarded(col("nonchim"), col("dinput")))
      .withColumn("retained_warn",
        coalesce(col("retained_percent") < th.retainedWarn, lit(false)))
      .withColumn("retained_error",
        coalesce(col("retained_percent") < th.retainedError, lit(false)))

    if (paired)
      base // projects.py:617: merged/forwd; div-by-zero → flags false
        .withColumn("merged_percent", guarded(col("merged"), col("forwd")))
        .withColumn("merged_warn",
          coalesce(col("merged_percent") < th.mergedWarn, lit(false)))
        .withColumn("merged_error",
          coalesce(col("merged_percent") < th.mergedError, lit(false)))
    else
      base
        .withColumn("merged_percent", lit(null).cast("double"))
        .withColumn("merged_warn", lit(false))
        .withColumn("merged_error", lit(false))
  }

  /** A5 (projects.py:233-279): per-project fraction of flagged samples —
    * one pass, all six fractions, map-side combined. avg over 0/1 is exact
    * (integer sum / count) so results are partition-order independent.
    */
  def projectRollup(samples: DataFrame): DataFrame = {
    def frac(flag: String): Column =
      avg(when(col(flag), 1.0).otherwise(0.0))
    samples.groupBy(col("project"))
      .agg(
        count(lit(1)).as("sample_count"),
        min(col("is_paired")).as("paired"),
        frac("retained_warn").as("retained_warn_frac"),
        frac("retained_error").as("retained_error_frac"),
        frac("chimera_warn").as("chimera_warn_frac"),
        frac("chimera_error").as("chimera_error_frac"),
        // single-end ⇒ flags are all false ⇒ fractions 0.0, matching the
        // reference's post-break overwrite (projects.py:246-264)
        frac("merged_warn").as("merged_warn_frac"),
        frac("merged_error").as("merged_error_frac"))
  }

  /** A6 (projects.py:281-311): threshold decision. re_run (merged flags)
    * short-circuits the discard checks; error strings carry truncated
    * percentages joined with ' / ' (projects.py:285-310, 413).
    */
  def decide(rollup: DataFrame, th: QcThresholds = QcThresholds()): DataFrame = {
    def pct(c: Column): Column = floor(c * 100).cast("int")
    def msg(cond: Column, c: Column, text: String): Column =
      when(cond, concat(pct(c).cast("string"), lit(text)))

    val reRun = col("merged_warn_frac") > th.projectMergedWarn ||
      col("merged_error_frac") > th.projectMergedError
    val discard = !reRun && (
      col("retained_warn_frac") > th.projectRetainedWarn ||
        col("retained_error_frac") > th.projectRetainedError ||
        col("chimera_warn_frac") > th.projectChimeraWarn ||
        col("chimera_error_frac") > th.projectChimeraError)

    // reference appends in this exact order (projects.py:285-310)
    val msgs = array(
      msg(col("merged_warn_frac") > th.projectMergedWarn,
        col("merged_warn_frac"), "% of samples had warning for merged read count."),
      msg(col("merged_error_frac") > th.projectMergedError,
        col("merged_error_frac"), "% of samples had ERROR for merged read count."),
      msg(!reRun && col("retained_warn_frac") > th.projectRetainedWarn,
        col("retained_warn_frac"), "% of samples had warning for reads retained."),
      msg(!reRun && col("retained_error_frac") > th.projectRetainedError,
        col("retained_error_frac"), "% of samples had ERROR for reads retained."),
      msg(!reRun && col("chimera_warn_frac") > th.projectChimeraWarn,
        col("chimera_warn_frac"), "% of samples had warning for chimeric read count."),
      msg(!reRun && col("chimera_error_frac") > th.projectChimeraError,
        col("chimera_error_frac"), "% of samples had ERROR for chimeric read count."))

    rollup
      .withColumn("re_run", reRun)
      .withColumn("discard", discard)
      .withColumn("errors",
        array_join(filter(msgs, x => x.isNotNull), " / "))
  }

  /** Full evaluation of one project directory's summary.tsv → a single
    * decision row (the `Load_results_summary` + `_evaluate_flags` flow,
    * projects.py:203-231). One project's summary is driver-sized (the
    * admission band caps a project at 1,000 samples), so the samples sit
    * on one partition: the rollup's grouping is then already satisfied
    * and it plans no exchange.
    */
  def evaluate(spark: SparkSession, summaryPath: String, project: String,
      th: QcThresholds = QcThresholds()): DataFrame = {
    val samples = sampleQc(readSummaryTsv(spark, summaryPath).coalesce(1), th)
      .withColumn("project", lit(project))
    decide(projectRollup(samples), th)
  }
}
