package graft.compendium

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's table store (K1-K3): the reference's single SQLite file
  * (config.db_path) becomes a warehouse directory of parquet tables
  * partitioned to match access patterns.
  *
  * Upserts are join-coalesce-rewrite: plain Spark has no in-place MERGE, so
  * K2 (db.py:440-470) is expressed as a left join of the base table with
  * the delta, per-column `coalesce(new, old)`, written to a temp path and
  * atomically swapped — preserving the CLI idempotence the reference gets
  * from SQLite transactions (db.py:46). K3, the project status table
  * (projects.py:87-106), does the same merge on the driver
  * ([[StateMachine]], [[replaceTiny]]).
  *
  * Scale notes: results tables are written partitioned by `project`
  * (SURVEY.md §4) so per-project reads (projects.py:67, 502) prune to one
  * partition; appends (K1) are per-project partition overwrites, not
  * table rewrites.
  */
final class Warehouse(spark: SparkSession, root: String) {

  /** The session store reads/writes plan through — epoch-scoped conf
    * (EventStreams.withPackedScans) must target THIS session, not the
    * micro-batch clone foreachBatch binds its batch frame to.
    */
  private[graft] def session: SparkSession = spark

  private def path(table: String) = s"$root/$table"

  private[graft] def hadoopConf: org.apache.hadoop.conf.Configuration =
    spark.sparkContext.hadoopConfiguration

  private[graft] def tablePath(table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path(table))

  def exists(table: String): Boolean =
    new org.apache.hadoop.fs.Path(path(table))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path(table)))

  /** Per-table schema memo: a schemaless `spark.read.parquet` pays
    * driver-side footer inference on EVERY DataFrame creation (~85 ms
    * warm at sf0.1 — a per-epoch tax on the IVM appliers, which read
    * each store once per micro-batch). Every write path below records
    * the on-disk schema it leaves behind (data columns in frame order,
    * partition columns appended — the same order inference returns), so
    * steady-state reads infer nothing. Correctness: the memo is updated
    * at every mutation of the table, and a fresh Warehouse instance
    * (every gate run) starts empty — the first read of a pre-existing
    * table infers once, from all of its files. Metadata only; scans
    * still read the files.
    */
  private val schemaMemo = new scala.collection.concurrent.TrieMap[
    String, org.apache.spark.sql.types.StructType]()

  private def onDisk(df: DataFrame, partitionCols: Seq[String]) = {
    val s = df.schema
    if (partitionCols.isEmpty) s
    else org.apache.spark.sql.types.StructType(
      s.fields.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map(c => s(c)))
  }

  /** A full rewrite: `df` is now the whole table. */
  private def memoWrite(table: String, df: DataFrame,
      partitionCols: Seq[String] = Nil): Unit =
    schemaMemo.put(table, onDisk(df, partitionCols)): Unit

  /** Whether the memo covers every column already on disk: it has an
    * entry, or there is no table yet. Taken before a write that keeps
    * the table's other files.
    */
  private def memoCovers(table: String): Boolean =
    schemaMemo.contains(table) || !exists(table)

  /** A write that keeps the table's other files (append, dynamic
    * partition overwrite): the table now holds the union of their
    * columns and `df`'s, so the memo merges by name — `df`'s columns,
    * then the ones only the memo had — and a narrower frame never
    * narrows the table. Where the memo did not cover the files already
    * there, it stays unset and the next read infers.
    */
  private def memoMerge(table: String, df: DataFrame,
      partitionCols: Seq[String], covered: Boolean): Unit = if (covered) {
    val s = onDisk(df, partitionCols)
    val merged = schemaMemo.get(table).fold(s) { prev =>
      val (parts, data) = (s.fields ++
        prev.fields.filterNot(f => s.fieldNames.contains(f.name)))
        .partition(f => partitionCols.contains(f.name))
      org.apache.spark.sql.types.StructType(data ++ parts)
    }
    schemaMemo.put(table, merged): Unit
  }

  /** A memo miss infers from EVERY file (`mergeSchema`): files written
    * by appends of different widths disagree, and inference from one of
    * them would drop the columns only the others carry.
    */
  def read(table: String): DataFrame = {
    val sch = schemaMemo.getOrElseUpdate(table,
      spark.read.option("mergeSchema", "true").parquet(path(table)).schema)
    spark.read.schema(sch).parquet(path(table))
  }

  /** The declared schema serves BOTH arms: the empty frame, and the live
    * read as an explicit parquet schema — skipping the driver-side
    * footer inference every schemaless DataFrame creation pays (~85 ms
    * warm; a per-epoch tax on the IVM appliers and a per-run tax on
    * every gate's final store read). Every caller declares exactly the
    * columns its own writer produced; parquet resolves them by name.
    * An absent table is an empty `LocalRelation`, which the optimizer
    * knows is empty: its anti-joins, outer joins and unions fold away
    * at plan time, where an empty RDD is only found empty by running a
    * stage for it.
    */
  def readOrEmpty(table: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (exists(table)) spark.read.schema(schema).parquet(path(table))
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** K1: append rows; `partitionBy` for the project-keyed results tables.
    * `dynamic` overwrite mode means re-loading a project replaces only that
    * project's partition — idempotent re-runs, no cross-project rewrite.
    */
  def append(table: String, df: DataFrame, partitionCols: Seq[String] = Nil): Unit = {
    val covered = memoCovers(table)
    val w = df.write.mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path(table))
    memoMerge(table, df, partitionCols, covered)
  }

  /** Appends `df` unless it is empty and returns its row count, running
    * its plan ONCE: the count materializes a persisted copy that the
    * append then writes, instead of re-executing the plan (an XML parse,
    * a Smith-Waterman pass) for the write. AQE may coalesce the cached
    * plan's partitions as it would the uncached write's, so the append
    * writes as few files as before (the conf is read once, at persist).
    */
  def appendCounted(table: String, df: DataFrame): Long = {
    val rows = graft.core.ScopedConf(spark,
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")(
      df.persist())
    try {
      val n = rows.count()
      if (n > 0) append(table, rows)
      n
    } finally rows.unpersist(): Unit
  }

  /** The write CLUSTERS by the partition columns first: without it every
    * shuffle task sprays one file into every partition directory it sees
    * rows for (32 tasks × 16 touched dirs = 512 files per epoch on the
    * IVM path — measured 3× the flat path's wall time on pure file
    * churn); clustered, each directory gets one file per epoch and the
    * added exchange moves only the touched-partition rows the caller
    * already bounded. REBALANCE rather than repartition (r17 guide §6):
    * identical same-value-same-task clustering, but AQE sizes the
    * shuffle output by BYTES — a change-bounded epoch collapses to one
    * write task instead of |buckets| fixed-cost tasks (measured 16 ×
    * ~0.4 s of pure task setup per epoch at sf0.1), and an oversized
    * partition may split into several target-sized files. The
    * files-per-partition count is what the next read's scheduler pays
    * for, at any scale.
    */
  def overwritePartitions(table: String, df: DataFrame, partitionCols: Seq[String]): Unit = {
    val covered = memoCovers(table)
    df.hint("rebalance", partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path(table))
    memoMerge(table, df, partitionCols, covered)
  }

  /** The on-disk directory name Spark's writer gives one partition value —
    * Hive-escaped via the same catalyst utility the writer uses, with null
    * mapping to the default-partition name. Raw interpolation
    * (s"$partCol=$v") silently misses any value the writer escapes
    * (spaces, ':', '%', …) and null entirely, so a sweep built on it
    * would leave tombstoned files behind — the exact resurrection the
    * sweep exists to prevent.
    */
  private def partitionDirName(partCol: String, v: Any): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(partCol, if (v == null) null else v.toString)

  /** Dynamic-overwrite `df` into partitioned `table`, then sweep any
    * `touched` partition the output no longer carries: dynamic overwrite
    * only replaces partitions PRESENT in the output, so an emptied
    * partition's old files would survive and resurrect its deleted rows.
    * The survivors are computed from the OUTPUT frame before the write —
    * a disk re-read after it would see the very rows the sweep must
    * remove. Shared by [[applyCdcPartitioned]] and the partitioned IVM
    * store ([[graft.streaming.IvmStore.Warehouse]]) so the two
    * partition-granular writers can never disagree on sweep semantics.
    */
  private[graft] def overwriteAndSweep(table: String, df: DataFrame,
      partCol: String, touched: Seq[Any]): Unit = {
    // the survivor set RIDES the write job as an observation (the d09
    // observe-riding probe discipline) instead of a separate action that
    // would re-execute the whole merge plan just to list its partitions
    val obs = org.apache.spark.sql.Observation()
    overwritePartitions(table,
      df.observe(obs, collect_set(col(partCol)).as("parts")), Seq(partCol))
    // an empty output can skip the observed stage entirely (AQE empty-
    // relation propagation) and post no metrics — fall back to the
    // direct action, which in that case is the cheap empty plan
    val remaining = obs.get.get("parts")
      .map(_.asInstanceOf[Seq[Any]].toSet)
      .getOrElse(df.select(partCol).distinct()
        .collect().map(_.get(0)).toSet)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(remaining).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${path(table)}/${partitionDirName(partCol, v)}"), true): Unit
    }
  }

  /** K2 (db.py:440-470): conditional-column merge — for each delta column,
    * take the new value when present else keep the old; rows only in the
    * delta are appended. Equivalent to the reference's per-field UPDATE
    * built only from present fields.
    */
  def upsert(table: String, delta: DataFrame, key: String,
      insertNew: Boolean = true): Unit = {
    val merged =
      if (!exists(table)) { if (insertNew) delta else return }
      else {
        val base = read(table)
        val d = delta.columns.filter(_ != key)
          .foldLeft(delta)((df, c) => df.withColumnRenamed(c, s"__new_$c"))
        base.join(d, Seq(key), if (insertNew) "full_outer" else "left_outer")
          .select(col(key) +: base.columns.filter(_ != key).map { c =>
            (if (d.columns.contains(s"__new_$c"))
              coalesce(col(s"__new_$c"), col(c)) else col(c)).as(c)
          }.toSeq: _*)
      }
    replace(table, merged)
  }

  /** CDC apply — the q49 merge as a WAREHOUSE mutation (the tombstone
    * semantics [[upsert]]'s coalesce cannot express: an upsert can only
    * add or overwrite, never remove). One change batch of
    * (key, seqCol, opCol ∈ {I,U,D}, payload...) resolves last-op-wins
    * within the batch (change-sized window), then rewrites the base:
    * touched keys drop (one keyed anti-join), surviving changes append
    * with their FULL payload (CDC rows carry whole rows — no per-column
    * coalesce). Sequential application across batches composes with the
    * in-batch resolution: applying log-ordered batches one at a time
    * equals one global last-op-wins merge (the streaming twin's
    * spec-pinned contract). Same rename-swap commit and scale trade as
    * [[upsert]].
    */
  def applyCdc(table: String, changes: DataFrame, key: String,
      seqCol: String, opCol: String): Unit = {
    val resolved = Warehouse.resolveLastOp(changes, key, seqCol)
    val upserts = resolved.filter(col(opCol) =!= "D").drop(opCol, seqCol)
    // the batch's key set enters BROADCAST (a change batch is bounded
    // by contract), so the base rewrite scans the table exactly once,
    // never shuffles it (guide §3.1)
    val touched = broadcast(resolved.select(key))
    val merged =
      if (!exists(table)) upserts
      else read(table).join(touched, Seq(key), "left_anti")
        .unionByName(upserts)
    replace(table, merged)
  }

  /** [[applyCdc]] at PARTITION granularity — the copy-on-write trade the
    * flat form documents ("partition the table and rewrite only touched
    * partitions"), implemented. The table lives partitioned by
    * `partCol = partOf(key)` — a STABLE pure derivation of the key, so
    * a key's old row always lives in the partition its changes map to —
    * and one change batch rewrites ONLY the partitions its resolved
    * keys touch: the base read prunes to those partitions (plan-time
    * directory pruning), the write is a dynamic partition overwrite,
    * and every untouched partition's files stay byte-identical on disk
    * (spec-pinned by mtime). At 100 TB with date/bucket-partitioned
    * facts and clustered change batches this is the difference between
    * rewriting gigabytes and rewriting the lake.
    *
    * A partition whose every row is tombstoned by the batch needs one
    * extra step: dynamic overwrite only replaces partitions PRESENT in
    * the output, so an emptied partition's old files would survive and
    * resurrect deleted rows — those directories are deleted explicitly.
    */
  def applyCdcPartitioned(table: String, changes: DataFrame, key: String,
      seqCol: String, opCol: String, partCol: String,
      partOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
    val resolved = Warehouse.resolveLastOp(changes, key, seqCol)
      .withColumn(partCol, partOf(col(key)))
    // the sweep names directories from collected VALUES, so the value's
    // string form must round-trip the writer's dir naming exactly —
    // true for integrals and (Hive-escaped) strings, NOT for
    // timestamp/date/decimal whose dir rendering is format-dependent
    resolved.schema(partCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.StringType => ()
      case dt => throw new IllegalArgumentException(
        s"applyCdcPartitioned($table): partOf must derive an integral or " +
          s"string partition key (got ${dt.simpleString}) — other types' " +
          "directory renderings don't round-trip the emptied-partition sweep")
    }
    if (!exists(table)) {
      val upserts = resolved.filter(col(opCol) =!= "D").drop(opCol, seqCol)
      if (!upserts.isEmpty) {
        upserts.hint("rebalance", col(partCol))
          .write.partitionBy(partCol).parquet(path(table))
        memoWrite(table, upserts, Seq(partCol))
      }
      return
    }
    // batch-sized, consumed by the touched collect, the tombstone
    // anti-join AND the upsert union — one eager materialization beats
    // re-running the resolve window per job (the t42/d09 discipline)
    val resolvedC = resolved.localCheckpoint(true)
    // touched partitions: batch-bounded (≤ |batch| values), collected
    // once to drive both the pruned read and the emptied-dir sweep
    val touched = resolvedC.select(partCol).distinct()
      .collect().map(_.get(0)).toSeq
    if (touched.nonEmpty) {
      val base = read(table).filter(col(partCol).isin(touched: _*))
      val upserts = resolvedC.filter(col(opCol) =!= "D").drop(opCol, seqCol)
      // broadcast the change-sized key set: the pruned base partitions
      // are scanned, never shuffled (guide §3.1)
      val merged = base
        .join(broadcast(resolvedC.select(key)), Seq(key), "left_anti")
        .unionByName(upserts.select(base.columns.map(col).toSeq: _*))
      overwriteAndSweep(table, merged, partCol, touched)
    }
    resolvedC.unpersist(blocking = false): Unit
  }

  /** Rewrite via rename-swap. Guarantee: the table directory is missing only
    * within the narrow window between the two renames (not across the whole
    * write, as delete-then-rename would be); a crash leaves either the old
    * or the new copy recoverable on disk (`__old` / `__tmp`). On stores
    * without atomic rename (e.g. S3) the window widens to the rename copy —
    * [[ManifestCommit]] IS the hard guarantee for that case (and for
    * multi-table atomicity): rename-free versioned staging behind one
    * create-exclusive manifest flip.
    */
  def replace(table: String, df: DataFrame): Unit = {
    replaceAt(new org.apache.hadoop.fs.Path(path(table)),
      new org.apache.hadoop.fs.Path(path(table + "__tmp")),
      new org.apache.hadoop.fs.Path(path(table + "__old")), df)
    memoWrite(table, df)
  }

  /** [[replace]] for a TINY driver-held row set (the replay-marker
    * sidecars: one row per stream lineage; the project status table: one
    * row per project): identical rename-swap commit and on-disk parquet
    * format, but the staging write is a direct driver-side file create
    * ([[graft.core.TinyParquet]]) instead of a Spark write job — one job
    * per epoch removed from every IVM replay, and per status transition
    * (optimization guide §1.2: the job moved no data).
    */
  private[graft] def replaceTiny(table: String,
      cols: Seq[(String, graft.core.TinyParquet.ColType)],
      rows: Seq[Seq[Any]]): Unit = {
    schemaMemo.remove(table)
    replaceStaged(new org.apache.hadoop.fs.Path(path(table)),
      new org.apache.hadoop.fs.Path(path(table + "__tmp")),
      new org.apache.hadoop.fs.Path(path(table + "__old"))) { (fs, tmp) =>
      if (fs.exists(tmp)) fs.delete(tmp, true)
      graft.core.TinyParquet.write(hadoopConf, tmp, cols, rows)
    }
  }

  /** [[replace]] generalized to an arbitrary destination directory, with
    * caller-chosen staging dirs — the staging MUST live outside any
    * partitioned table root (a sibling `pk=2__tmp` dir inside the table
    * would corrupt partition discovery for every concurrent reader).
    */
  private def replaceAt(dst: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path, old: org.apache.hadoop.fs.Path,
      df: DataFrame): Unit =
    replaceStaged(dst, tmp, old)((_, t) =>
      df.write.mode(SaveMode.Overwrite).parquet(t.toString))

  /** The rename-swap commit shared by the Spark-staged and driver-staged
    * ([[replaceTiny]]) forms: `stage` fills the `tmp` directory, then the
    * two renames flip it in with the documented crash guarantees.
    */
  private def replaceStaged(dst: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path, old: org.apache.hadoop.fs.Path)(
      stage: (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path) => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    stage(fs, tmp)
    if (fs.exists(old)) fs.delete(old, true)
    val hadOld = fs.exists(dst) && fs.rename(dst, old)
    if (!fs.rename(tmp, dst) || !fs.exists(dst)) {
      // Roll the backup forward so the table never ends up missing with its
      // only copy deleted; surface the failure instead of silently dropping it.
      if (hadOld) fs.rename(old, dst)
      throw new java.io.IOException(
        s"replace: rename ${tmp} -> ${dst} failed" +
          (if (hadOld) "; previous copy restored" else ""))
    }
    if (hadOld) fs.delete(old, true)
  }

  /** Per-table file statistics — (n_files, total_bytes): the inputs of
    * the small-files decision every append-heavy store accumulates
    * toward (each streaming micro-batch / CDC epoch / per-project
    * append adds files; reads then pay per-file open + footer costs and
    * the scheduler pays per-split overhead).
    */
  def fileStats(table: String): (Long, Long) = fileStatsAt(path(table))

  private def fileStatsAt(dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      // count data files only: _SUCCESS markers and checksums are not
      // read work
      if (!f.getPath.getName.startsWith("_")
          && !f.getPath.getName.startsWith(".")) {
        n += 1
        bytes += f.getLen
      }
    }
    (n, bytes)
  }

  /** Small-files compaction — the maintenance rewrite every
    * append-accumulating store needs (Delta OPTIMIZE / Iceberg
    * rewrite_data_files shape): when the table holds more data files
    * than its bytes justify at `targetFileBytes` per file, rewrite it
    * into ceil(bytes / target) files via the same rename-swap commit as
    * [[replace]] (readers see the old or the new layout, never a
    * partial one). A no-op — zero reads, zero writes — when the layout
    * is already within budget, so a nightly sweep over every table
    * costs one file listing per healthy table. Returns
    * (files_before, files_after). Row-preserving by construction
    * (coalesce only merges partitions); at cluster scale the same call
    * runs per PARTITION of a partitioned table so one hot partition
    * doesn't force a whole-table rewrite.
    */
  def compact(table: String, targetFileBytes: Long = 128L << 20): (Long, Long) = {
    val parts = partitionDirNames(table)
    if (parts.nonEmpty) throw new IllegalArgumentException(
      s"compact($table): table is partitioned (${parts.take(3).mkString(", ")}" +
        s"${if (parts.size > 3) ", …" else ""}) — a flat coalesce-rewrite " +
        "would strip the partition layout, and a later dynamic partition " +
        "overwrite only replaces partition directories, leaving the flat " +
        "root files to DUPLICATE every row; use compactPartitions")
    val (nFiles, bytes) = fileStats(table)
    val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    if (nFiles <= want) (nFiles, nFiles)
    else {
      replace(table, read(table).coalesce(want.toInt))
      (nFiles, fileStats(table)._1)
    }
  }

  /** First-level `col=value` partition directories of `table` (empty for a
    * flat table) — how both compaction paths detect the layout, so neither
    * can be pointed at the wrong table shape.
    */
  private def partitionDirNames(table: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName)
  }

  /** [[compact]] at PARTITION granularity — the maintenance shape the
    * partitioned stores need ([[applyCdcPartitioned]] and the partitioned
    * IVM view accrete small files only in their HOT partitions): each
    * over-budget partition rewrites ALONE via its own rename-swap, staged
    * OUTSIDE the table root (a `pk=2__tmp` sibling inside it would corrupt
    * partition discovery for concurrent readers), and healthy partitions
    * are never read or written — one fragmented partition costs one
    * partition's rewrite, not the table's. Returns (files_before,
    * files_after) across all partitions. Refuses a flat table: the
    * per-partition loop would silently no-op on it.
    */
  def compactPartitions(table: String, targetFileBytes: Long = 128L << 20)
      : (Long, Long) = {
    val parts = partitionDirNames(table)
    if (parts.isEmpty) throw new IllegalArgumentException(
      s"compactPartitions($table): no col=value partition directories — " +
        "use compact for a flat table")
    var before = 0L
    var after = 0L
    parts.foreach { dir =>
      val dirPath = s"${path(table)}/$dir"
      val (n, bytes) = fileStatsAt(dirPath)
      val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      before += n
      if (n <= want) after += n
      else {
        // the partition value lives in the DIRECTORY NAME, not the files,
        // so rewriting the files in place preserves it; staging dirs are
        // table-root siblings with the '=' sanitized out
        val safe = dir.replace('=', '~')
        replaceAt(new org.apache.hadoop.fs.Path(dirPath),
          new org.apache.hadoop.fs.Path(path(s"${table}__cmp_tmp_$safe")),
          new org.apache.hadoop.fs.Path(path(s"${table}__cmp_old_$safe")),
          spark.read.parquet(dirPath).coalesce(want.toInt))
        after += fileStatsAt(dirPath)._1
      }
    }
    (before, after)
  }
}

object Warehouse {
  /** THE last-op-wins resolution, shared by [[Warehouse.applyCdc]] and the
    * IVM delta ([[graft.streaming.EventStreams.applyIvmBatch]]) so the two
    * consumers of one change batch can never disagree on which row won.
    * Order: seq DESC, then every remaining column DESC in name order — a
    * TOTAL order over the row, so a duplicate-(key, seq) tie can only occur
    * between fully identical rows, where either pick is the same row.
    * Without the payload tiebreak, row_number's pick within a (key, seq)
    * tie is partition-layout-dependent: the view delta and the base merge
    * could each keep a DIFFERENT row of the tie and silently diverge.
    */
  private[graft] def resolveLastOp(changes: DataFrame, key: String,
      seqCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tiebreak = changes.columns
      .filter(c => c != key && c != seqCol).sorted.map(col(_).desc)
    val w = Window.partitionBy(col(key))
      .orderBy((col(seqCol).desc +: tiebreak.toSeq): _*)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
