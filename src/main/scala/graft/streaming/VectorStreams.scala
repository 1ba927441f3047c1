package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.compendium.ManifestCommit
import graft.operators.Similarity

/** Streaming producers for the VECTOR-side warehouse sidecars — the
  * embedding analog of [[DocumentStreams]]' document sidecar family.
  *
  * The first resident is the one producer the document family could not
  * have: continuous DELETION. Every other sidecar ingest is
  * at-least-once safe because its per-batch write is idempotent (an
  * overwritten `batch_id=` subdir, a min-fold, a keyed upsert) — but
  * s29's centroid-store decrement is NOT idempotent: redelivering a
  * tombstone batch would subtract it twice and silently corrupt the
  * statistics forever. Exactly-once here is therefore STRUCTURAL, not
  * best-effort, and it composes from two pieces the warehouse already
  * has:
  *
  *   - a (stats, marker) pair committed through ONE [[ManifestCommit]]
  *     flip — the decremented table and the high-water batch id become
  *     visible together or not at all, so a crash between "applied" and
  *     "recorded" cannot exist;
  *   - a batch-id guard on entry — foreachBatch redelivers a batch with
  *     the SAME id after checkpoint recovery, and a redelivered id at or
  *     below the marker's high water is a provable no-op (the
  *     [[EventStreams]] ivmStream replay-marker discipline, applied to a
  *     non-idempotent fold).
  */
object VectorStreams {

  /** One tombstoned vector: the id, its vector, and the cluster whose
    * statistics it was folded into at ingest time (erasure must
    * decrement the SAME cluster the fold-in credited).
    */
  final case class Tombstone(vec_id: Long, v: Seq[Double], clabel: Long)

  /** Manifest table names of the forget store. */
  private[streaming] val StatsTable = "centroids"
  private[streaming] val MarkerTable = "forget_marker"

  /** Erased-id segments: `forget_erased_seg_<n>`, append-only. Each
    * applied batch commits ONE new segment holding only ITS fresh
    * vec_ids (batch-sized write, never store-sized), and the manifest's
    * carry-forward keeps every earlier segment visible for free; readers
    * union the family. Every [[CompactSegs]]-th segment the family
    * merges into one table and the old names leave the manifest in the
    * same atomic flip — LSM compaction reduced to a map edit, so the
    * manifest stays bounded and the store-sized rewrite is amortized
    * 1/[[CompactSegs]].
    */
  private[streaming] val ErasedSegPrefix = "forget_erased_seg_"
  private[streaming] val CompactSegs = 8

  private def erasedSegs(manifest: Map[String, String]): Seq[String] =
    manifest.keys.filter(_.startsWith(ErasedSegPrefix)).toSeq.sorted

  /** Seed the manifest store with an initial statistics table (what a
    * fold-in producer would have committed) — version 1.
    */
  def seed(spark: SparkSession, root: String, stats: DataFrame): Long =
    new ManifestCommit(spark, root).commit(Map(StatsTable -> stats))

  /** Apply ONE tombstone micro-batch exactly once: no-op if the SAME
    * query lineage already committed `batchId` (its id is at or below
    * the marker's high water), else decrement the current statistics
    * by the batch's exact-decimal sums ([[Similarity.decrementStats]]
    * — the s29 fold verbatim) and flip (stats, marker) in one manifest
    * commit. Returns true iff the batch was applied (false =
    * redelivery no-op).
    *
    * The marker is `(query_id, batch_id)` — the ivmStream replay-marker
    * discipline, a per-LINEAGE high-water map. An epoch-only marker
    * would make a FRESH checkpoint (batch ids restarting at 0 under a
    * new query id) silently SKIP real tombstone batches: for erasure
    * that is lost deletions, the one failure a compliance path cannot
    * have. A new query id instead APPLIES from its own batch 0.
    *
    * The marker alone is batch-grain; idempotence here must be
    * TOMBSTONE-grain, because an at-least-once upstream can repeat a
    * vec_id inside one batch or re-send it under a fresh batch id (or
    * fresh lineage), and count-grain validation cannot see the sum
    * corruption a double-subtraction leaves. So every applied batch
    * also commits its vec_ids into the [[ErasedSegPrefix]] segment
    * family, and each new batch first dedups on vec_id, then drops
    * every id the family already holds — a re-sent tombstone is a
    * provable no-op on any path, not a policy promise.
    *
    * Driver-side actions are the manifest read/flip and the
    * batch-bounded duplicate probe (the erased store streams, the batch
    * broadcasts — the intersection can never exceed the batch). Cost
    * per batch is a store-sized stats rewrite at k×dim rows (the store
    * IS small — that is why sufficient statistics, not members, live
    * here) plus a batch-sized erased segment; the segment family
    * compacts every [[CompactSegs]] commits.
    */
  private[graft] def applyForgetBatch(batch: Dataset[Tombstone],
      root: String, batchId: Long): Boolean = {
    val s = batch.sparkSession
    import s.implicits._
    // withCentroid's cnrm derivation rides the graft_dot expression
    graft.plans.VectorExpressions.register(s)
    // empty batches must not rewrite a store-sized table and burn a
    // manifest version (the c17 empty-batch discipline)
    if (batch.isEmpty) return false
    val queryId = EventStreams.queryIdOf(s)
    val mc = new ManifestCommit(s, root)
    val cur = mc.current()
    // per-LINEAGE high-water map, not one latest-writer row: with a
    // single row, a takeover lineage's first commit would erase the old
    // lineage's guard, and a zombie driver's redelivered batch (query_id
    // no longer matching) would re-apply a non-idempotent decrement —
    // the double-subtraction the marker exists to prevent. The map is
    // bounded by lineages ever seen (restart count, not data size).
    // driver-direct sidecar read (graft.core.TinyParquet): the marker is
    // lineage-bounded, so the Spark collect job it used to cost per
    // batch moved no data (optimization guide §1.2)
    val marks: Map[String, Long] =
      if (cur.contains(MarkerTable))
        graft.core.TinyParquet.readRows(mc.hadoopConf,
            mc.dirAt(cur, MarkerTable))
          .map(r => r("query_id").asInstanceOf[String] ->
            r("batch_id").asInstanceOf[Long])
          .groupMapReduce(_._1)(_._2)(math.max)
      else Map.empty
    if (marks.get(queryId).exists(_ >= batchId)) false
    else {
      // TOMBSTONE-GRAIN idempotence, not just batch-grain: the marker
      // catches a redelivered batch ID, but an at-least-once upstream
      // can re-send the same vec_id twice IN one batch or across
      // DIFFERENT batch ids — and the decrement is non-idempotent, so
      // either shape double-subtracts sums the count-grain validation
      // cannot see. Two guards: dedup the batch on vec_id (intra-batch),
      // then drop every id the erased-segment store already holds
      // (cross-batch). The duplicate probe streams the erased store and
      // BROADCASTS the batch — the collect is bounded by the batch's own
      // id count, never the store's.
      val deduped = batch.toDF()
        .dropDuplicates("vec_id").localCheckpoint(true)
      val segs = erasedSegs(cur)
      // the family reads as ONE multi-path relation, built ONCE per
      // batch and shared by the duplicate probe and (on compacting
      // batches) the merge (the c23 lesson: per-directory relations
      // unioned pay O(dirs) driver-side listing/footer work per
      // consumer) — bounded at CompactSegs dirs here, but the read
      // shape should not depend on the compaction cadence being healthy
      val family: Option[DataFrame] =
        if (segs.isEmpty) None else Some(mc.readPaths(cur, segs))
      val dupIds: Set[Long] = family.fold(Set.empty[Long])(
        _.join(broadcast(deduped.select("vec_id")), Seq("vec_id"),
            "left_semi")
          .collect().map(_.getLong(0)).toSet)
      val fresh =
        if (dupIds.isEmpty) deduped
        else deduped.filter(!col("vec_id").isin(dupIds.toSeq: _*))
      if (fresh.isEmpty) { deduped.unpersist(blocking = false); false }
      else {
        val store = mc.readAt(cur, StatsTable)
          .select(col("clabel") +:
            ((1 to Similarity.Dim).map(i => col(s"s_$i")) :+ col("cnt")): _*)
        val folded = Similarity.withCentroid(
          Similarity.decrementStats(store,
            fresh.select(col("clabel"), col("v")),
            validate = true))
        val freshIds = fresh.select("vec_id").coalesce(1)
        val nextSeg = ErasedSegPrefix + f"${segs.size + 1}%06d_$batchId"
        val writes = Map(StatsTable -> folded)
        // the marker stages driver-direct (same file count and format as
        // the old coalesce(1) Spark write, one job per batch removed)
        val tiny = Map(MarkerTable -> ((
          Seq("query_id" -> graft.core.TinyParquet.StringCol,
            "batch_id" -> graft.core.TinyParquet.LongCol),
          (marks + (queryId -> batchId)).toSeq
            .map { case (q, b) => Seq[Any](q, b) })
          : graft.compendium.ManifestCommit.TinyTable))
        // compaction cadence: merge the family into one segment and drop
        // the old names in the SAME flip — crash-safe (the old segments
        // stay readable under every retained manifest)
        if (segs.size + 1 >= CompactSegs) {
          val merged = family.get
            .unionByName(freshIds).coalesce(1)
          mc.commit(writes + ((ErasedSegPrefix + "000001_c") -> merged),
            drop = segs.toSet, tiny = tiny)
        } else mc.commit(writes + (nextSeg -> freshIds), tiny = tiny)
        deduped.unpersist(blocking = false)
        true
      }
    }
  }

  /** The continuous erasure consumer: tombstone batches stream in and
    * each decrements the centroid statistics exactly once. Start with
    * `.option("checkpointLocation", ...)` like any sink; recovery
    * redelivers the in-flight batch and the marker guard makes the
    * second application a no-op.
    */
  def forgetIngest(tombstones: Dataset[Tombstone], root: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Tombstone] =
    EventStreams.lineageBatches(tombstones)((batch, batchId, _) =>
      applyForgetBatch(batch, root, batchId): Unit)
}
