package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.core.Jobs.described

/** Where the aggregate IVM epoch ([[EventStreams.applyIvmBatch]]) keeps
  * its base (k, ck, cents), its view (ck, n, cents_total) and the view's
  * `<view>__epoch` replay marker. The epoch algebra is written once; a
  * store hides only two things:
  *
  *  - which rows an epoch reads. With `buckets` > 1 both tables live
  *    partitioned by a stable key bucket (base pk = k mod buckets, view
  *    pck = ck mod buckets) and an epoch reads and rewrites only the
  *    buckets its batch touches, so per-epoch write volume follows the
  *    batch's key spread, not the store. One bucket means flat: there is
  *    nothing to prune, and the epoch reads the whole table;
  *  - how the epoch commits (view, base, marker): three rename-swaps or
  *    partition overwrites on a [[IvmStore.Warehouse]], one manifest flip
  *    on a [[IvmStore.ManifestCommit]].
  */
sealed trait IvmStore {
  def baseTable: String
  def viewTable: String
  def buckets: Int

  /** The session store reads plan through — the epoch's scoped conf
    * targets it, not the micro-batch clone foreachBatch binds the batch
    * frame to.
    */
  private[streaming] def session: SparkSession

  /** Pins one resolution of base, view and marker for an epoch. */
  private[streaming] def open(): IvmStore.Epoch

  def viewExists: Boolean

  /** The maintained view, or an empty frame of its schema before the
    * first epoch.
    */
  def readView(): DataFrame

  private[streaming] def marker: String = viewTable + "__epoch"

  /** `rows` with its bucket column: `part` = `key` mod [[buckets]]. */
  private[streaming] def bucketed(rows: DataFrame, key: String,
      part: String): DataFrame =
    rows.withColumn(part, pmod(col(key), lit(buckets.toLong)))

  private[streaming] def empty(schema: StructType): DataFrame =
    session.createDataFrame(java.util.Collections.emptyList[Row](), schema)
}

object IvmStore {
  private[graft] val BaseSchema =
    StructType.fromDDL("k BIGINT, ck BIGINT, cents BIGINT")
  private[graft] val ViewSchema =
    StructType.fromDDL("ck BIGINT, n BIGINT, cents_total BIGINT")

  /** One table's new rows, without the bucket column, and the buckets
    * they replace. A touched bucket the rows leave empty is swept; an
    * empty `touched` (the view bootstrap) replaces nothing and sweeps
    * nothing.
    */
  private[streaming] final case class Write(rows: DataFrame,
      touched: Seq[Long])

  /** One epoch's pinned resolution of a store. */
  private[streaming] trait Epoch {
    def marks: Map[String, Long]
    def baseExists: Boolean
    def viewExists: Boolean
    /** The base rows in buckets `pks` (k, ck, cents). */
    def base(pks: Seq[Long]): DataFrame
    def wholeBase: DataFrame
    /** The view rows in buckets `pcks` (ck, n, cents_total). */
    def view(pcks: Seq[Long]): DataFrame
    /** Persists the marker alone: the replay skip's rescope. */
    def commitMarker(marks: Map[String, Long]): Unit
    /** View, then base, then marker; an absent write keeps its table. */
    def commit(view: Option[Write], base: Option[Write],
        marks: Map[String, Long], epoch: Long): Unit
  }

  /** Rename-swap storage on a [[graft.compendium.Warehouse]]. At one
    * bucket the tables are flat and each commits by
    * [[graft.compendium.Warehouse.replace]]; with more, each commits its
    * touched partitions by dynamic overwrite plus emptied-partition sweep
    * ([[graft.compendium.Warehouse.overwriteAndSweep]]), and untouched
    * partitions' files stay byte-identical on disk.
    *
    * ORDER MATTERS: the view plan reads the PRE-batch base (its deltas
    * were computed against it), so the view commits first — both
    * commits stage the full result before swapping it in, so a plan may
    * read the table it replaces — and only then the base. The window
    * between the view, base and marker swaps is the honest
    * non-transactional boundary (a reader caught inside it sees a NEW
    * view over an OLD base); [[ManifestCommit]] closes it.
    *
    * `compactEvery` (0 = off) is the maintenance cadence a partitioned
    * streaming store needs: each epoch leaves one file per touched
    * partition, so a hot partition accretes files at the trigger rate;
    * every `compactEvery`-th epoch runs
    * [[graft.compendium.Warehouse.compactPartitions]] over base and view
    * — only over-budget partitions rewrite, so a healthy store pays one
    * listing. It runs AFTER the marker commit: compaction is
    * row-preserving and idempotent, so a crash between apply and compact
    * loses only maintenance, never data.
    */
  final case class Warehouse(wh: graft.compendium.Warehouse,
      baseTable: String, viewTable: String, buckets: Int = 1,
      compactEvery: Int = 0, targetFileBytes: Long = 128L << 20)
      extends IvmStore {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    require(compactEvery == 0 || buckets > 1,
      "compactEvery compacts partitions: it needs buckets > 1")

    private def flat = buckets == 1

    private[streaming] def session: SparkSession = wh.session

    /** `table`'s rows in buckets `values` through a declared schema (no
      * footer inference); flat tables are read whole.
      */
    private def read(table: String, schema: StructType, part: String,
        values: Seq[Long]): DataFrame =
      if (flat) wh.readOrEmpty(table, schema)
      else wh.readOrEmpty(table, schema.add(part, LongType))
        .filter(col(part).isin(values: _*))
        .select(schema.fieldNames.toSeq.map(col): _*)

    private def write(table: String, key: String, part: String,
        w: Write): Unit =
      if (flat) wh.replace(table, w.rows)
      else if (w.touched.isEmpty)
        wh.overwritePartitions(table, bucketed(w.rows, key, part), Seq(part))
      else wh.overwriteAndSweep(table, bucketed(w.rows, key, part), part,
        w.touched)

    private[streaming] def open(): Epoch = new Epoch {
      val marks = EventStreams.markerMarks(wh, marker)
      val baseExists = wh.exists(baseTable)
      val viewExists = wh.exists(viewTable)
      def base(pks: Seq[Long]) = read(baseTable, BaseSchema, "pk", pks)
      def wholeBase = read(baseTable, BaseSchema, "pk", 0L until buckets)
      def view(pcks: Seq[Long]) = read(viewTable, ViewSchema, "pck", pcks)
      def commitMarker(m: Map[String, Long]) =
        wh.replaceTiny(marker, EventStreams.MarkerCols,
          EventStreams.markerRows(m))
      def commit(view: Option[Write], base: Option[Write],
          marks: Map[String, Long], epoch: Long) = {
        view.foreach(w => described(session, "ivm: view")(
          write(viewTable, "ck", "pck", w)))
        base.foreach(w => described(session, "ivm: base")(
          write(baseTable, "k", "pk", w)))
        commitMarker(marks)
        if (compactEvery > 0 && epoch % compactEvery == compactEvery - 1L)
          described(session, "ivm: compact") {
            Seq(baseTable, viewTable).filter(wh.exists)
              .foreach(wh.compactPartitions(_, targetFileBytes): Unit)
          }
      }
    }

    def viewExists: Boolean = wh.exists(viewTable)

    def readView(): DataFrame = read(viewTable, ViewSchema, "pck",
      0L until buckets)
  }

  /** Versioned storage behind one [[graft.compendium.ManifestCommit]]:
    * the epoch's touched base and view buckets and its marker stage into
    * fresh directories and become visible in ONE manifest create, so a
    * reader holding one resolution never sees them torn, and the
    * commit-order reasoning the warehouse store needs dissolves (staging
    * never renames a directory an older manifest names). Untouched
    * buckets carry their directories forward byte-identical, and a
    * pruned read never even lists them: the manifest is the index. Works
    * on rename-less object stores.
    */
  final case class ManifestCommit(mc: graft.compendium.ManifestCommit,
      baseTable: String, viewTable: String, buckets: Int = 16)
      extends IvmStore {
    require(buckets >= 1, s"buckets must be positive, got $buckets")

    private[streaming] def session: SparkSession = mc.session

    /** `table`'s rows in buckets `values` as ONE multi-path relation of
      * the named directories, or an empty frame when none exists.
      */
    private def read(snap: Map[String, String], table: String,
        part: String, schema: StructType, values: Seq[Long]): DataFrame =
      mc.readPartitionPathsAt(snap, table, part, values, Some(schema))
        .getOrElse(empty(schema))

    private def viewAt(snap: Map[String, String]): DataFrame =
      read(snap, viewTable, "pck", ViewSchema,
        mc.partitionValues(snap, viewTable))

    private[streaming] def open(): Epoch = {
      val snap = mc.current()
      new Epoch {
        val marks = EventStreams.markerMarksAt(mc, snap, marker)
        val baseExists = mc.partitionKeys(snap, baseTable).nonEmpty
        val viewExists = mc.partitionKeys(snap, viewTable).nonEmpty
        def base(pks: Seq[Long]) = read(snap, baseTable, "pk", BaseSchema, pks)
        def wholeBase = base(mc.partitionValues(snap, baseTable))
        def view(pcks: Seq[Long]) =
          read(snap, viewTable, "pck", ViewSchema, pcks)
        def commitMarker(m: Map[String, Long]) =
          mc.commit(Map.empty,
            tiny = Map(marker -> EventStreams.markerTiny(m))): Unit
        def commit(view: Option[Write], base: Option[Write],
            marks: Map[String, Long], epoch: Long) =
          mc.commitPartitioned(
            base.map(w => baseTable ->
              (("pk", bucketed(w.rows, "k", "pk"), w.touched))).toMap ++
            view.map(w => viewTable ->
              (("pck", bucketed(w.rows, "ck", "pck"), w.touched))).toMap,
            tiny = Map(marker -> EventStreams.markerTiny(marks))): Unit
      }
    }

    def viewExists: Boolean =
      mc.partitionKeys(mc.current(), viewTable).nonEmpty

    def readView(): DataFrame = viewAt(mc.current())

    /** The view as of manifest `version` (time travel): the same pruned
      * multi-path read, through the pinned resolution.
      */
    def readViewAt(version: Long): DataFrame = viewAt(mc.manifestAt(version))
  }
}
