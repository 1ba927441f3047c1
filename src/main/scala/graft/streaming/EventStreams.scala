package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}

import graft.core.Jobs.described

/** Structured Streaming twins of the batch event queries (SURVEY §2.9).
  *
  * The reference has no streams — its `autoforward` loop is cron-style
  * batch re-invocation (run_autoforward.slurm:22). These jobs are the
  * continuous formulation the engine offers instead: the same logical
  * plans as the batch queries, so one code path serves both (`hourlyRollup`
  * applied to a batch frame is q21 modulo the window struct).
  *
  * Scale notes: the rollup is a streaming aggregation with watermark-bounded
  * state (2 h of hour×type groups — thousands of rows regardless of input
  * rate); sessionization keeps one small state record per active user and
  * emits on event-time timeout, so state size tracks active users, not
  * history. Both shapes shuffle by their group key only.
  */
// Serializable: the funnel helpers (funnelChain/funnelInsert/funnelPrune)
// are object-level so both funnel variants share them, which makes the
// mapGroupsWithState closures capture the singleton — it carries only
// constant Maps, so shipping it is free.
object EventStreams extends Serializable {

  /** Streaming KMV distinct-user sketch per event type — q45's sketch
    * maintained continuously. KMV is ORDER-INDEPENDENT and mergeable
    * (bottom-k of distinct is a set function), so the streamed sketch
    * is BIT-IDENTICAL to the batch sketch under any micro-batching or
    * replay order — the strongest stream≡batch contract available, and
    * the reason sketches (not counters) are what production pipelines
    * keep in streaming state. State per group = the serialized ≤ k-long
    * KmvBottomK buffer in the state store (O(groups·k) total,
    * independent of user cardinality); q45's pairwise set-algebra
    * estimators read the emitted sketch frame unchanged. Complete/update
    * output mode (global aggregate, no watermark — the sketch never
    * needs eviction because its state is bounded by construction).
    */
  def kmvDistinctStream(events: DataFrame, k: Int = 64): DataFrame = {
    graft.plans.SketchAggregates.register(events.sparkSession)
    import graft.functions.Portable.{h60, kmvSketch}
    events
      .select(col("event_type"),
        h60(concat(lit("kmv_"), col("user_id").cast("string"))).as("h"))
      .groupBy("event_type")
      .agg(kmvSketch(col("h"), k).as("sk"))
  }

  /** Streaming HDR-histogram cells — q47's twin at the CELL grain, the
    * same split as q45 (the stream maintains the bounded-state summary;
    * the consumer reads quantiles off the emitted cell frame unchanged —
    * q47's cumulative-grid tail). Shares q47's bucketing verbatim
    * ([[graft.operators.RelationalQueries.hdrCellsOf]]); a keyed count
    * over ≤ ~8·40 cells per type, so complete/update mode with no
    * watermark — state is bounded by the SUMMARY's construction, not by
    * eviction (the kmvDistinctStream rationale, here for quantiles).
    */
  def hdrCellsStream(events: DataFrame): DataFrame =
    graft.operators.RelationalQueries.hdrCellsOf(events)

  /** Tumbling-hour rollup with a 2-hour watermark — the streaming twin of
    * q21_events_hourly. Late events beyond the watermark are dropped;
    * everything else lands in its event-time hour.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** At-least-once ingest dedup: an upstream source that redelivers (Kafka
    * without transactions, HTTP retries — the reference's own re-scanned
    * ingest, db.py:215-221) is deduped on event_id inside the watermark
    * window, the streaming twin of the batch anti-join J1 / d01 hash dedup.
    * State holds only ids younger than the watermark, so memory tracks the
    * redelivery horizon, not history — the property that lets this run
    * forever at 100 TB/day.
    */
  def dedupedIngest(events: Dataset[Event], watermark: String = "2 hours"): Dataset[Event] =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** State keeps the original Timestamps (not epoch millis) so sub-ms
    * precision survives into the emitted sessions — required for exact
    * agreement with the batch twin (q22) on microsecond event times.
    */
  final case class SessionState(start: Timestamp, last: Timestamp,
      n: Long, total: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** Event-time sessionization: a session closes after `gapMinutes` of
    * user inactivity (tracked by watermark timeout), then emits one row.
    * `flatMapGroupsWithState` keeps exactly one `SessionState` per active
    * user; expired users cost nothing. Gap comparison is on epoch millis,
    * matching the batch twin's `unix_millis` arithmetic.
    *
    * `watermarkMinutes` (default: the gap) is how long out-of-order events
    * are admitted. While it equals the gap, every admitted late event is
    * within one gap of the open session's start and merges exactly as the
    * globally-sorted batch twin would. Widening it admits older stragglers,
    * which emit as closed singleton sessions (see the merge guard below) —
    * a documented approximation, since a true batch re-sort could merge
    * consecutive stragglers with each other.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
      watermarkMinutes: Option[Int] = None): Dataset[Session] = {
    import events.sparkSession.implicits._
    val wmMinutes = watermarkMinutes.getOrElse(gapMinutes)
    require(wmMinutes >= gapMinutes,
      "watermark delay below the gap would drop events the gap logic admits")
    events
      .withWatermark("ts", s"$wmMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(sessionUpdate(gapMinutes))
  }

  /** The shared session update function — both sessionize overloads use
    * it, so the rehydrated query can never disagree with the continuous
    * one on merge/close semantics.
    */
  private def sessionUpdate(gapMinutes: Int)(userId: Long,
      rows: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    val gapMs = gapMinutes * 60L * 1000L
    if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, s.start, s.last, s.n, s.total))
      } else {
        val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var closed = List.empty[Session]
        var cur = state.getOption
        for (e <- sorted) {
          cur match {
            case Some(s) if e.ts.getTime - s.last.getTime <= gapMs &&
                s.start.getTime - e.ts.getTime <= gapMs =>
              // A late-but-within-watermark event can sort before the stored
              // session start (it arrived in a later batch); widen both ends
              // so cross-batch boundaries match the globally-sorted batch twin.
              // The second guard bounds how far BEFORE session_start a late
              // event may merge: while the watermark delay equals the gap it
              // is provably never violated (accepted ⇒ ts >= maxSeen − gap
              // >= session_start − gap), but the merge must not silently
              // absorb arbitrarily-old stragglers if the watermark delay is
              // ever widened beyond the gap.
              val start = if (e.ts.getTime < s.start.getTime) e.ts else s.start
              val last = if (e.ts.getTime >= s.last.getTime) e.ts else s.last
              cur = Some(s.copy(start = start, last = last, n = s.n + 1,
                total = s.total + e.value))
            case Some(s) if s.start.getTime - e.ts.getTime > gapMs =>
              // Straggler more than a gap before the open session (reachable
              // only when watermark delay > gap): in event-time order its
              // session closed before `s` began — emit it as a closed
              // singleton, leaving the open session untouched.
              closed ::= Session(userId, e.ts, e.ts, 1, e.value)
            case Some(s) =>
              closed ::= Session(userId, s.start, s.last, s.n, s.total)
              cur = Some(SessionState(e.ts, e.ts, 1, e.value))
            case None =>
              cur = Some(SessionState(e.ts, e.ts, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last.getTime + gapMs)
        }
        closed.reverseIterator
      }
  }

  /** [[sessionize]] REHYDRATED from demoted open-session rows — the
    * retentionStream/X81s demote lever for the session operator. The
    * demotable artifact here is the user's OPEN session (closed sessions
    * have already emitted and carry no state), and a [[Session]] row is
    * a lossless encoding of [[SessionState]] — (start, last, n, total)
    * round-trips through (session_start, session_end, n_events,
    * total_value) — so the sidecar schema IS the output schema:
    * [[sessionStateFrom]] is the whole codec. On the seeded query's
    * first batch each rehydrated user's update fold runs over empty
    * rows, leaves the state intact, and re-arms the gap timeout, so an
    * open session that stays idle still closes and emits exactly once.
    * Same replay contract as [[retentionStream]]: equivalence holds for
    * arrivals after the demote watermark.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int,
      watermarkMinutes: Option[Int],
      initial: Dataset[(Long, SessionState)]): Dataset[Session] = {
    import events.sparkSession.implicits._
    val wmMinutes = watermarkMinutes.getOrElse(gapMinutes)
    require(wmMinutes >= gapMinutes,
      "watermark delay below the gap would drop events the gap logic admits")
    events
      .withWatermark("ts", s"$wmMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout,
        initial.groupByKey(_._1).mapValues(_._2))(
        sessionUpdate(gapMinutes))
  }

  /** Demote codec for [[sessionize]]: open-session rows → per-user
    * state. Lossless by construction (see the rehydrating overload).
    */
  def sessionStateFrom(open: Dataset[Session])
      : Dataset[(Long, SessionState)] = {
    import open.sparkSession.implicits._
    open.map(s => (s.user_id,
      SessionState(s.session_start, s.session_end, s.n_events,
        s.total_value)))
  }

  /** Continuous warehouse ingest — the production shape for streaming
    * writes to a non-transactional store: watermark-bounded stream dedup
    * (at-least-once sources) feeding `foreachBatch`, whose body reuses
    * the BATCH upsert (join-coalesce keyed on event_id, rename-swap
    * commit). The layering gives two independent idempotence guarantees:
    * dedup absorbs redeliveries inside the watermark horizon; the keyed
    * upsert absorbs replays beyond it (a restarted query re-emitting an
    * old micro-batch rewrites the same rows). The whole-table rewrite per
    * epoch is the dim-scale trade — at fact scale partition the table and
    * let the upsert rewrite only touched partitions, or swap the sink for
    * a transactional format whose MERGE does the same join server-side.
    * Caller starts the returned writer (and picks trigger/checkpoint).
    */
  def warehouseIngest(events: Dataset[Event],
      wh: graft.compendium.Warehouse, table: String,
      watermark: String = "2 hours")
      : org.apache.spark.sql.streaming.DataStreamWriter[Event] =
    dedupedIngest(events, watermark).writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Event], _: Long) =>
        wh.upsert(table, batch.toDF(), "event_id")
      }

  /** A CDC feed row for [[cdcApplyStream]]: q49's change shape (key,
    * monotone sequence, op ∈ {I,U,D}, full replacement payload).
    */
  final case class CdcChange(k: Long, seq: Long, op: String, cents: Long)

  /** q49's STREAMING twin — continuous CDC apply: the change feed
    * arrives as a stream (Debezium/binlog shape) and each micro-batch
    * merges into the warehouse snapshot via
    * [[graft.compendium.Warehouse.applyCdc]] (in-batch last-op-wins
    * resolution + tombstone anti-join + full-payload upsert,
    * rename-swap committed). Log-ordered batches compose: state after
    * streaming batches B₁…Bₙ equals the one-shot q49 merge of
    * B₁∪…∪Bₙ — the spec-pinned contract, because per-key the last
    * applied batch's last op wins either way. Idempotence is the
    * [[warehouseIngest]] layering argument: a replayed micro-batch
    * re-resolves to the same ops against a base whose touched keys it
    * already owns (anti-join + re-append ⇒ same rows). Caller starts
    * the writer and picks trigger/checkpoint.
    */
  def cdcApplyStream(changes: Dataset[CdcChange],
      wh: graft.compendium.Warehouse, table: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[CdcChange] =
    changes.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[CdcChange], _: Long) =>
        wh.applyCdc(table, batch.toDF(), "k", "seq", "op")
      }

  /** A CDC feed row for [[ivmStream]]: [[CdcChange]] plus the FK the
    * maintained view aggregates on (a Debezium payload carries the full
    * replacement row, FK included).
    */
  final case class CdcViewChange(k: Long, seq: Long, op: String, ck: Long,
      cents: Long)

  /** The streaming query id on the foreachBatch driver thread, where
    * StreamExecution publishes it as a thread-local property:
    * "__direct__" outside a query.
    */
  private[streaming] def queryIdOf(s: SparkSession): String =
    Option(s.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("__direct__")

  /** The foreachBatch sink of every replay-marked applier: `apply` gets
    * each micro-batch with its epoch and its query's id. The id is stable
    * across restarts from the SAME checkpoint (where epoch replay must
    * skip) and fresh for a re-created one (where epochs restart at 0 and
    * must apply). The caller starts the writer and picks
    * trigger/checkpoint.
    */
  private[streaming] def lineageBatches[T](changes: Dataset[T])(
      apply: (Dataset[T], Long, String) => Unit): DataStreamWriter[T] =
    changes.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[T], epoch: Long) =>
        apply(batch, epoch, queryIdOf(batch.sparkSession))
      }

  /** q51's STREAMING twin — continuous incremental view maintenance:
    * each CDC micro-batch updates BOTH the base snapshot (k, ck, cents)
    * and the per-ck aggregate view (ck, n, cents_total) without ever
    * recomputing the view. Per batch, in q51's delta algebra extended
    * to FK movement: every resolved change contributes −(old row) at
    * its OLD ck (if the key existed) and +(new row) at its NEW ck
    * (unless deleted) — an upsert that moves a key between customers
    * decrements one group and increments the other, which the batch
    * q51 (FK held fixed) never has to express. Deltas roll up at ck
    * grain and merge into the view ([[mergeViewDelta]]); groups whose
    * count reaches 0 are DROPPED, matching the full recompute which
    * never emits order-less customers. The specs pin the IVM theorem
    * batch-by-batch: after every micro-batch, view ≡ groupBy recompute
    * of the just-updated base.
    *
    * Replay safety: deltas are NOT idempotent (a re-applied batch
    * double-counts), so a 1-row-per-lineage `<view>__epoch` sidecar
    * records the last applied (query id, foreachBatch epoch) and earlier
    * epochs OF THE SAME QUERY skip — the standard idempotent-foreachBatch
    * discipline. The query id (stable across restarts from one
    * checkpoint, fresh for a re-created checkpoint) scopes the marker: a
    * fresh checkpoint restarts epochs at 0, and an epoch-only marker
    * would silently SKIP every batch until the new counter passed the
    * stale high-water mark — unbounded data loss.
    *
    * The `store` decides which rows an epoch reads and how it commits
    * ([[IvmStore]]): flat or bucketed, rename-swapped on a warehouse or
    * flipped in one manifest commit. 100 TB: the view update touches
    * |batch keys| base rows and |affected ck| view rows — point reads,
    * never a base scan — and over a bucketed store an epoch also WRITES
    * only the partitions its batch touches (c15/c23/c27-gated); the flat
    * store rewrites both whole snapshots per epoch, the dim-scale trade.
    */
  def ivmStream(changes: Dataset[CdcViewChange], store: IvmStore)
      : DataStreamWriter[CdcViewChange] =
    lineageBatches(changes)((batch, epoch, queryId) =>
      applyIvmBatch(batch.toDF(), store, epoch, queryId))

  /** Sentinel lineage a LEGACY epoch-only marker migrates to: its old
    * semantics were "this epoch is applied, whoever asks", so the
    * migrated entry floors EVERY lineage rather than being lost.
    */
  private[streaming] val AnyLineage = "__any__"

  /** Marker rows → per-LINEAGE high-water map. One latest-writer row is
    * NOT enough: after a takeover (lineage B commits), a single-row
    * marker has forgotten lineage A's guard, and a zombie A driver
    * redelivering an already-applied epoch would re-apply an ADDITIVE
    * view delta — silent view/base divergence, the exact hazard the
    * forget path's map already closes (VectorStreams.applyForgetBatch).
    * The map is bounded by lineages ever seen (restart count, not data
    * size). Tolerates both previous formats: an epoch-only marker (no
    * query_id column) migrates to an [[AnyLineage]] floor; a
    * single-(query_id, epoch) row IS a one-entry map.
    */
  private[streaming] def markerMarks(wh: graft.compendium.Warehouse,
      marker: String): Map[String, Long] =
    if (!wh.exists(marker)) Map.empty
    else marksOfRows(graft.core.TinyParquet.readRows(wh.hadoopConf,
      wh.tablePath(marker)))

  /** [[markerMarks]] through a manifest resolution — absent marker is an
    * empty map. Both read paths are DRIVER-DIRECT parquet
    * ([[graft.core.TinyParquet]]): the sidecar is lineage-bounded, and
    * reading it through a Spark collect job cost one job per epoch of
    * every IVM replay for a few dozen bytes (guide §1.2).
    */
  private[streaming] def markerMarksAt(mc: graft.compendium.ManifestCommit,
      manifest: Map[String, String], marker: String): Map[String, Long] =
    if (!manifest.contains(marker)) Map.empty
    else marksOfRows(graft.core.TinyParquet.readRows(mc.hadoopConf,
      mc.dirAt(manifest, marker)))

  private[streaming] def marksOfRows(
      rows: Seq[Map[String, Any]]): Map[String, Long] = {
    if (rows.isEmpty) Map.empty
    else if (!rows.head.contains("query_id"))
      Map(AnyLineage -> rows.map(_("epoch").asInstanceOf[Long]).max)
    else rows.map(r => r("query_id").asInstanceOf[String] ->
        r("epoch").asInstanceOf[Long])
      .groupMapReduce(_._1)(_._2)(math.max)
  }

  /** Replayed iff THIS lineage already applied `epoch` — or a migrated
    * legacy marker floors it. A different live lineage's high water is
    * deliberately NOT consulted: a takeover's fresh checkpoint restarts
    * epochs at 0 and its batches are new work, not replays.
    *
    * When the skip is caused SOLELY by the [[AnyLineage]] floor (no
    * same-lineage high-water hit), `rescope` persists the marker
    * rewritten in the new schema INSIDE this same batch, with the floor
    * attributed to this lineage — the first lineage to replay against a
    * legacy marker is the resumer that marker was guarding (an
    * epoch-only marker cannot name it, so first-claimant is the only
    * attribution available). Without the rescope, a skip returns before
    * any marker write, the un-migrated floor persists on disk, and
    * every FUTURE fresh-checkpoint lineage's epochs <= floor are
    * silently dropped until some lineage's counter happens to exceed
    * it — the exact CDC-loss mode the [[markerRows]] drop-on-write
    * closes for APPLIED batches but cannot reach on the skip path
    * (the drop only runs after a batch actually applies).
    *
    * KNOWN, ACCEPTED residual of first-claimant attribution: if a
    * FRESH takeover lineage is the first to hit the floor, it claims
    * it, and a true legacy resumer appearing AFTERWARDS finds its
    * replayed epochs <= floor no longer refused (re-applied
    * additively — the divergence hazard). The window requires a
    * legacy-era driver to resume after BOTH the upgrade and a takeover
    * whose epoch counter collided with the legacy range, and closes
    * permanently at the first post-upgrade marker write. The
    * alternative — retaining the floor alongside the claimed entry —
    * re-opens [[markerRows]]'s documented UNBOUNDED loss mode (every
    * future fresh lineage's first floor+1 batches silently dropped,
    * forever). An epoch-only marker cannot name its owner, so one of
    * the two must be chosen; bounded-window divergence on a zombie
    * upgrade race loses to unbounded CDC loss on every restart.
    */
  private def skipAsReplay(marks: Map[String, Long], epoch: Long,
      queryId: String)(rescope: Map[String, Long] => Unit): Boolean = {
    val own = marks.get(queryId).exists(_ >= epoch)
    val floored = !own && marks.get(AnyLineage).exists(_ >= epoch)
    // AnyLineage never coexists with per-lineage entries on disk
    // (markerMarks migrates whole legacy markers), so the rescoped map
    // is exactly the floor under this lineage's name
    if (floored) rescope(marks - AnyLineage + (queryId -> marks(AnyLineage)))
    own || floored
  }

  /** The full map persists every epoch — a 1-row-per-lineage sidecar,
    * staged as ONE driver-written parquet file
    * ([[graft.core.TinyParquet]]; previously a coalesce(1) Spark write
    * job per epoch — same file count, same format, no job).
    * The migrated [[AnyLineage]] floor is DROPPED on write (the legacy
    * marker's documented upgrade-in-place semantics: the very next
    * applied batch rewrites it in the new schema): persisting it would
    * make the floor permanent, and every FUTURE fresh-checkpoint
    * lineage restarting epochs at 0 would silently skip its first
    * floor+1 batches — unbounded CDC loss, the exact failure the
    * lineage-aware marker exists to prevent. The floor still guards the
    * one batch that performs the migration ([[skipAsReplay]] consults
    * it BEFORE this write), and the SKIP path performs its own
    * migration — a floor-only skip rescopes the floor to the skipping
    * lineage and rewrites the marker in that same batch, so the legacy
    * schema never outlives the first batch that touches it, applied or
    * skipped.
    */
  private[streaming] val MarkerCols: Seq[(String, graft.core.TinyParquet.ColType)] =
    Seq("query_id" -> graft.core.TinyParquet.StringCol,
      "epoch" -> graft.core.TinyParquet.LongCol)

  /** On-disk FILE schemas of the join-view store families (partition
    * columns live in directory names, never in files; the fact side is
    * [[IvmStore.BaseSchema]]) — passed to every pruned store read so
    * relation creation skips parquet footer inference (~85 ms of driver
    * time per schemaless creation, times ~4 fresh relations per epoch;
    * guide §1.2). Each matches exactly what the family's own writer
    * stages.
    */
  private val JoinViewFileSchema = org.apache.spark.sql.types.StructType
    .fromDDL("k BIGINT, ck BIGINT, cents BIGINT, rate BIGINT")
  private val AggJoinViewFileSchema = org.apache.spark.sql.types.StructType
    .fromDDL(
      "ck BIGINT, n BIGINT, cents_total BIGINT, rate BIGINT, revenue_total BIGINT")
  private val DimFileSchema = org.apache.spark.sql.types.StructType
    .fromDDL("ck BIGINT, rate BIGINT")

  private[streaming] def markerRows(marks: Map[String, Long]): Seq[Seq[Any]] =
    (marks - AnyLineage).toSeq.map { case (q, e) => Seq(q, e) }

  /** The marker as a [[graft.compendium.ManifestCommit.TinyTable]] for
    * the direct-staging commit path.
    */
  private[streaming] def markerTiny(marks: Map[String, Long])
      : graft.compendium.ManifestCommit.TinyTable =
    (MarkerCols, markerRows(marks))

  /** Epoch-scoped scan packing (optimization guide §2.2/§6, "fewer,
    * larger map tasks"): the session keeps the default
    * `spark.sql.files.minPartitionNum` floor (= core count) so BIG
    * corpus scans parallelize, but an IVM epoch's reads are
    * change-bounded store partitions — at that size the floor only
    * fans each tiny file into its own task, and the per-task fixed
    * cost (measured ~0.4 s/task at sf0.1: reader init + scheduling)
    * dominates the epoch. Scoped to the epoch body, splitting becomes
    * purely size-driven (`maxPartitionBytes` still caps a split, so a
    * genuinely large partition read keeps its parallelism at any
    * scale). Set-and-restore, same discipline as the gate-level
    * shuffle-partition scoping (c13/c21). NOTE the session: foreachBatch
    * hands the applier a frame bound to the micro-batch's CLONED session,
    * but the store reads plan through the Warehouse/ManifestCommit's
    * ORIGINAL session — the conf must scope on the latter.
    */
  private def withPackedScans[T](s: org.apache.spark.sql.SparkSession)(
      body: => T): T =
    graft.core.ScopedConf(s, "spark.sql.files.minPartitionNum" -> "1")(body)

  /** The view merge: previous (ck, n, cents_total) rows full-outer the
    * epoch delta, zero-coalesced sums, emptied groups dropped — the one
    * place the view's columns are spelled. Full outer decomposed into
    * broadcast-joinable legs (full outer cannot broadcast-hash; guide
    * §3.1): `prev` (store-partition-sized — must never shuffle)
    * left-joins the broadcast change-sized delta; groups born this epoch
    * append through a keys-only anti join (the only prev bytes that move
    * are its group keys, guide §2.3 — the anti join's build side, as a
    * left anti join builds its right).
    */
  private def mergeViewDelta(prev: DataFrame, delta: DataFrame): DataFrame =
    prev.join(broadcast(delta), Seq("ck"), "left")
      .unionByName(delta.join(prev.select("ck"), Seq("ck"), "left_anti")
        .select(col("ck"), lit(null).cast("long").as("n"),
          lit(null).cast("long").as("cents_total"),
          col("d_cents"), col("d_n")))
      .select(col("ck"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n"),
        (coalesce(col("cents_total"), lit(0L)) +
          coalesce(col("d_cents"), lit(0L))).as("cents_total"))
      .filter(col("n") > 0)

  /** Applies one CDC batch (k, seq, op, ck, cents) to `store` as epoch
    * `epoch` of lineage `queryId` — the [[ivmStream]] epoch, callable
    * directly (a bootstrap, a spec).
    */
  private[graft] def applyIvmBatch(batch: DataFrame, store: IvmStore,
      epoch: Long, queryId: String = "__direct__"): Unit =
    withPackedScans(store.session)(ivmEpoch(batch, store, epoch, queryId))

  /** The epoch: resolved → old rows → delta → merged view → new base,
    * committed by the store. Each phase's jobs carry its label (`ivm:
    * resolve`, `ivm: touched`, then `ivm: view` / `ivm: base` or the
    * manifest's `mc: stage`).
    *
    * Over a bucketed store the resolution and the delta are
    * change-sized and each feeds several jobs (touched collect, delta,
    * view merge, base rewrite), so both are eagerly checkpointed (the
    * t42/d09 discipline; measured: uncheckpointed, the resolve window
    * re-ran 5× per epoch), and their touched buckets are collected once
    * to prune every read and bound every write. At one bucket there is
    * nothing to prune: no collect, no checkpoint, and the one bucket
    * counts as touched.
    *
    * An empty batch changes nothing but the marker, decided from the
    * touched sets: no touched base bucket means no base write, no
    * touched view bucket no view write — except that an absent view
    * still bootstraps.
    */
  private def ivmEpoch(batch: DataFrame, store: IvmStore, epoch: Long,
      queryId: String): Unit = {
    val s = store.session
    val ep = store.open()
    // skip ONLY a replay of this same query's already-applied epoch — a
    // different query id means a new epoch sequence (fresh checkpoint),
    // whose epoch 0 is new work, not a replay; the map keeps EVERY
    // lineage's high water so a zombie predecessor stays refused after
    // a takeover
    if (skipAsReplay(ep.marks, epoch, queryId)(ep.commitMarker)) return
    val pruned = store.buckets > 1
    val nb = lit(store.buckets.toLong)
    def once(df: DataFrame) = if (pruned) df.localCheckpoint(true) else df
    def touched(df: DataFrame, key: String): Seq[Long] =
      if (pruned) df.select(pmod(col(key), nb)).distinct().collect()
        .map(_.getLong(0)).toSeq
      else Seq(0L)
    val resolved = described(s, "ivm: resolve")(
      once(graft.compendium.Warehouse.resolveLastOp(batch, "k", "seq")))
    val touchedPk = described(s, "ivm: touched")(touched(resolved, "k"))
    val keys = broadcast(resolved.select("k"))
    val base = ep.base(touchedPk)
    // point read: only the batch's keys' old rows participate — the
    // batch's key set enters BROADCAST (change-sized by the CDC
    // contract), so the base scan is never shuffled (guide §3.1)
    val old = base.join(keys, Seq("k"), "left_semi")
      .select(col("k"), col("ck").as("old_ck"), col("cents").as("old_cents"))
    val j = resolved.join(broadcast(old), Seq("k"), "left")
    val (delta, touchedPck) = described(s, "ivm: touched") {
      val d = once(j.filter(col("old_ck").isNotNull)
        .select(col("old_ck").as("ck"), (-col("old_cents")).as("d_cents"),
          lit(-1L).as("d_n"))
        .unionByName(j.filter(col("op") =!= "D")
          .select(col("ck"), col("cents").as("d_cents"), lit(1L).as("d_n")))
        .groupBy("ck")
        .agg(sum("d_cents").as("d_cents"), sum("d_n").as("d_n")))
      (d, touched(d, "ck"))
    }
    import IvmStore.Write
    // the touched view buckets merge in place (their untouched groups
    // ride along with zero deltas). View bootstrap: a pre-existing base
    // with no view yet (first IVM batch against an already-populated
    // store) must start from the base's true aggregate — deltas onto an
    // empty view would make it silently, PERMANENTLY wrong (every
    // pre-existing key's contribution missing). One full scan, exactly
    // once; thereafter the view exists and the algebra owns it.
    val view =
      if (ep.viewExists)
        Option.when(touchedPck.nonEmpty)(
          Write(mergeViewDelta(ep.view(touchedPck), delta), touchedPck))
      else Option.when(ep.baseExists || touchedPck.nonEmpty)(
        Write(mergeViewDelta(ep.wholeBase.groupBy("ck")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents_total")),
          delta), Nil))
    // the touched base buckets' new content: survivors ∪ upserts
    val newBase = Option.when(touchedPk.nonEmpty)(Write(
      base.join(keys, Seq("k"), "left_anti")
        .unionByName(resolved.filter(col("op") =!= "D")
          .select("k", "ck", "cents")),
      touchedPk))
    ep.commit(view, newBase, ep.marks + (queryId -> epoch), epoch)
    if (pruned) {
      resolved.unpersist(blocking = false)
      delta.unpersist(blocking = false): Unit
    }
  }

  /** One change on a TWO-TABLE CDC bus: `side` names the table ('A' the
    * fact, 'B' the dim), `key` the changed entity (A: the fact key k;
    * B: the join key ck), `seq` the per-key change sequence, `op`
    * I/U/D, and the payload — for A `ck` (the foreign key) + `amt`
    * (cents), for B just `amt` (the rate; its `ck` field mirrors
    * `key`).
    */
  final case class CdcJoinChange(side: String, key: Long, seq: Long,
      op: String, ck: Long, amt: Long)

  /** JOIN-view IVM — the maintenance problem the aggregate IVM family
    * (c12/c15/c23) does not cover: keep V = A ⟕ B (fact LEFT JOIN dim
    * on ck) continuously correct under CDC arriving on BOTH sides of
    * the join, with per-epoch work proportional to the batch.
    *
    * Three design decisions carry the whole operator:
    *
    *   - **The view is its own A-index.** A dim change to `ck` must
    *     rewrite every fact row joined to it; scanning A by ck would be
    *     a full pass (A is bucketed by its OWN key). But V already
    *     holds exactly A's rows keyed by (k, ck) — so V buckets by
    *     pck = ck mod buckets, a dim change prunes to ONE view
    *     partition, and the epoch never reads A by join key at all.
    *   - **LEFT join, not inner.** An inner view drops fact rows whose
    *     dim key is absent — and a later B-insert of that key would
    *     need the dropped rows back, recoverable only by re-scanning A:
    *     the classic IVM trap. The left view keeps every fact row
    *     (rate null), so a B-insert is a pruned-partition rate fill,
    *     never a corpus scan.
    *   - **One flip.** (A touched pk-partitions, B touched
    *     pbk-partitions, V touched pck-partitions, marker) commit in
    *     ONE manifest create — a reader holding one resolution can
    *     never see the fact applied but the view stale, on any of the
    *     three tables.
    *
    * Epoch cost: every read is a pruned partition set bounded by the
    * batch's key spread (A by changed fact keys' pk, B by changed dim
    * keys' pbk, V and the B-lookup by the union of affected cks' pck);
    * every join is batch-vs-pruned-partition. Same per-lineage replay
    * marker as the rest of the family.
    */
  def ivmJoinStream(changes: Dataset[CdcJoinChange],
      mc: graft.compendium.ManifestCommit, aTable: String, bTable: String,
      viewTable: String, buckets: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[CdcJoinChange] =
    lineageBatches(changes)((batch, epoch, queryId) =>
      applyIvmJoinBatch(batch.toDF(), mc, aTable, bTable, viewTable,
        epoch, queryId, buckets))

  /** The two-sided appliers' shared point-apply scaffolding (c24's join
    * view AND c25's aggregate view): per-side last-op resolution, the
    * pruned fact/dim reads, survivors∪upserts new partition contents,
    * the affected-ck view partition set, and the post-batch dim lookup.
    * ONE body — the [[mergeViewDelta]] extraction discipline — so the
    * two view shapes can never drift on the STORE algebra; only the
    * V-merge differs between them. `ra`/`rb`/`oldA` are eagerly
    * checkpointed (each feeds several downstream jobs); callers release
    * them via [[TwoSidedCdc.unpersist]] after their commit.
    */
  private final case class TwoSidedCdc(
      ra: DataFrame, rb: DataFrame,
      touchedPk: Seq[Long], oldA: DataFrame, newA: DataFrame,
      touchedPbk: Seq[Long], newB: DataFrame,
      touchedPck: Seq[Long], bNow: DataFrame) {
    /** The staged partition writes — a side with NO changes stages
      * nothing at all (not even an empty write job); the manifest
      * carries its entries forward untouched.
      */
    def partWrites(aTable: String, bTable: String)
        : Map[String, (String, DataFrame, Seq[Long])] =
      (if (touchedPk.nonEmpty) Map(aTable -> (("pk", newA, touchedPk)))
       else Map.empty[String, (String, DataFrame, Seq[Long])]) ++
      (if (touchedPbk.nonEmpty) Map(bTable -> (("pbk", newB, touchedPbk)))
       else Map.empty[String, (String, DataFrame, Seq[Long])])
    def unpersist(): Unit = {
      ra.unpersist(blocking = false)
      rb.unpersist(blocking = false)
      oldA.unpersist(blocking = false): Unit
    }
  }

  private def twoSidedPointApply(batch: DataFrame,
      mc: graft.compendium.ManifestCommit, snap: Map[String, String],
      aTable: String, bTable: String,
      nb: org.apache.spark.sql.Column): TwoSidedCdc = {
    val s = batch.sparkSession
    // per-side last-op resolution — the shared total-order discipline.
    // The two sides are independent change-sized materializations, so
    // they run concurrently (guide §2.6): wall = max, not sum, of the
    // two checkpoint jobs.
    val (ra, rb) = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        val fa = Future(described(s, "ivm2: resolve A") {
          graft.compendium.Warehouse.resolveLastOp(
            batch.filter(col("side") === "A")
              .select(col("key").as("k"), col("seq"), col("op"), col("ck"),
                col("amt").as("cents")), "k", "seq")
            .localCheckpoint(true)
        })
        val fb = Future(described(s, "ivm2: resolve B") {
          graft.compendium.Warehouse.resolveLastOp(
            batch.filter(col("side") === "B")
              .select(col("key").as("ck"), col("seq"), col("op"),
                col("amt").as("rate")), "ck", "seq")
            .localCheckpoint(true)
        })
        (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
      } finally pool.shutdown()
    }
    // ---- touched buckets, both sides in ONE action (the two distinct
    // sets are batch-bounded; one union job replaces two collects)
    val touchedBoth = described(s, "ivm2: touched pk/pbk") {
      ra.select(pmod(col("k"), nb).as("b"), lit("A").as("side"))
        .unionByName(rb.select(pmod(col("ck"), nb).as("b"),
          lit("B").as("side")))
        .distinct().collect()
    }
    // ---- A (fact, bucketed pk = k mod nb): point CDC apply
    val touchedPk = touchedBoth.filter(_.getString(1) == "A")
      .map(_.getLong(0)).toSeq
    val aPruned = mc.readPartitionPathsAt(snap, aTable, "pk", touchedPk,
        Some(IvmStore.BaseSchema))
      .map(_.withColumn("pk", pmod(col("k"), nb)))
      .getOrElse(ra.limit(0).select(col("k"), col("ck"), col("cents"),
        pmod(col("k"), nb).as("pk")))
    // old rows carry BOTH join key and payload: the join view needs
    // old_ck (re-key pruning), the aggregate view also retracts
    // old_cents
    // batch keys enter BROADCAST (change-sized by the CDC contract), so
    // the pruned store partitions are scanned, never shuffled (guide §3.1)
    val oldA = described(s, "ivm2: oldA point read") {
      aPruned.join(broadcast(ra.select("k")), Seq("k"), "left_semi")
        .select(col("k"), col("ck").as("old_ck"),
          col("cents").as("old_cents"))
        .localCheckpoint(true)
    }
    val newA = aPruned.join(broadcast(ra.select("k")), Seq("k"), "left_anti")
      .select(col("k"), col("ck"), col("cents"), col("pk"))
      .unionByName(ra.filter(col("op") =!= "D")
        .select(col("k"), col("ck"), col("cents"))
        .withColumn("pk", pmod(col("k"), nb)))
    // ---- B (dim, bucketed pbk = ck mod nb): point CDC apply
    val touchedPbk = touchedBoth.filter(_.getString(1) == "B")
      .map(_.getLong(0)).toSeq
    val bPruned = mc.readPartitionPathsAt(snap, bTable, "pbk", touchedPbk,
        Some(DimFileSchema))
      .map(_.withColumn("pbk", pmod(col("ck"), nb)))
      .getOrElse(rb.limit(0).select(col("ck"), col("rate"),
        pmod(col("ck"), nb).as("pbk")))
    val newB = bPruned.join(broadcast(rb.select("ck")), Seq("ck"), "left_anti")
      .select(col("ck"), col("rate"), col("pbk"))
      .unionByName(rb.filter(col("op") =!= "D")
        .select(col("ck"), col("rate"))
        .withColumn("pbk", pmod(col("ck"), nb)))
    // ---- V (bucketed pck = ck mod nb): the affected-ck partition set —
    // changed fact rows' OLD and NEW join keys plus changed dim keys,
    // all batch-bounded
    val touchedPck = described(s, "ivm2: touched pck") {
      oldA.select(pmod(col("old_ck"), nb).as("pck"))
        .unionByName(ra.filter(col("op") =!= "D")
          .select(pmod(col("ck"), nb).as("pck")))
        .unionByName(rb.select(pmod(col("ck"), nb).as("pck")))
        .distinct().collect().map(_.getLong(0)).toSeq
    }
    // the dim's POST-batch state for every partition the epoch's view
    // rebuild may need a rate from: rewritten partitions come from
    // newB, the rest from storage — never a full B scan (co-bucketed
    // with the view: pck ≡ pbk for one ck)
    val lookupPbk = touchedPck.filterNot(touchedPbk.contains)
    val bNow = newB.select(col("ck"), col("rate"))
      .unionByName(mc.readPartitionPathsAt(snap, bTable, "pbk", lookupPbk,
          Some(DimFileSchema))
        .map(_.select(col("ck"), col("rate")))
        .getOrElse(rb.limit(0).select(col("ck"), col("rate"))))
    TwoSidedCdc(ra, rb, touchedPk, oldA, newA, touchedPbk, newB,
      touchedPck, bNow)
  }

  /** Unseeded-view detection for the two-sided appliers: a view with NO
    * live partitions over a base that HAS some is the
    * first-IVM-batch-against-a-pre-populated-warehouse case the
    * single-sided family bootstraps at [[applyIvmBatch]] — applying
    * point deltas onto `readPartitionPathsAt(...).getOrElse(empty)`
    * would silently, PERMANENTLY drop every pre-existing row's
    * contribution (retractions vanish through `filter(n > 0)`,
    * untouched pre-existing groups never materialize). The seed-first
    * entry points ([[seedJoinView]]/[[seedAggJoinView]]) remain the
    * production path — they stage the trio in one flip without a
    * corpus-scale join inside a streaming trigger — but an applier that
    * detects this state must recompute once, not mis-maintain forever.
    */
  private def unseededView(mc: graft.compendium.ManifestCommit,
      snap: Map[String, String], aTable: String, bTable: String,
      viewTable: String): Boolean =
    mc.partitionKeys(snap, viewTable).isEmpty &&
      (mc.partitionKeys(snap, aTable).nonEmpty ||
        mc.partitionKeys(snap, bTable).nonEmpty)

  /** The whole live (A, B) pair at one snapshot as two multi-path
    * relations — the bootstrap's one-time full read (never on the
    * steady-state epoch path). Empty-with-schema when a side has no
    * live partitions, taken from the batch's own resolved frames.
    */
  private def wholeAB(mc: graft.compendium.ManifestCommit,
      snap: Map[String, String], aTable: String, bTable: String,
      t: TwoSidedCdc): (DataFrame, DataFrame) = {
    val aAll = mc.readPartitionPathsAt(snap, aTable, "pk",
        mc.partitionValues(snap, aTable), Some(IvmStore.BaseSchema))
      .map(_.select("k", "ck", "cents"))
      .getOrElse(t.ra.limit(0).select("k", "ck", "cents"))
    val bAll = mc.readPartitionPathsAt(snap, bTable, "pbk",
        mc.partitionValues(snap, bTable), Some(DimFileSchema))
      .map(_.select("ck", "rate"))
      .getOrElse(t.rb.limit(0).select("ck", "rate"))
    (aAll, bAll)
  }

  private[graft] def applyIvmJoinBatch(batch: DataFrame,
      mc: graft.compendium.ManifestCommit, aTable: String, bTable: String,
      viewTable: String, epoch: Long, queryId: String = "__direct__",
      buckets: Int = 16): Unit =
    withPackedScans(mc.session) {
      applyIvmJoinBatchBody(batch, mc, aTable, bTable, viewTable, epoch,
        queryId, buckets)
    }

  private def applyIvmJoinBatchBody(batch: DataFrame,
      mc: graft.compendium.ManifestCommit, aTable: String, bTable: String,
      viewTable: String, epoch: Long, queryId: String,
      buckets: Int): Unit = {
    val s = batch.sparkSession
    val nb = lit(buckets.toLong)
    val marker = viewTable + "__epoch"
    if (batch.isEmpty) return
    val snap = mc.current()
    val marks =
      markerMarksAt(mc, snap, marker)
    if (skipAsReplay(marks, epoch, queryId)(m =>
        mc.commit(Map.empty, tiny = Map(marker -> markerTiny(m))))) return
    val t = twoSidedPointApply(batch, mc, snap, aTable, bTable, nb)
    // view bootstrap ([[applyIvmBatch]]'s discipline): a
    // pre-existing base with no view recomputes A ⟕ B ONCE at the
    // snapshot, and this epoch commits EVERY view partition; thereafter
    // the view exists and the point algebra owns it
    val boot = unseededView(mc, snap, aTable, bTable, viewTable)
    val vPruned =
      if (boot) {
        val (aAll, bAll) = wholeAB(mc, snap, aTable, bTable, t)
        aAll.join(bAll, Seq("ck"), "left")
          .select(col("k"), col("ck"), col("cents"), col("rate"))
      } else mc.readPartitionPathsAt(snap, viewTable, "pck", t.touchedPck,
          Some(JoinViewFileSchema))
        .getOrElse(t.ra.limit(0).select(col("k"), col("ck"), col("cents"),
          lit(null).cast("long").as("rate")))
    val vCommitPck = if (boot) (0L until buckets).toSeq else t.touchedPck
    // rebuild the touched view partitions: keep unchanged-fact rows
    // (with dim changes folded into their rate), drop changed-fact
    // rows, re-insert the batch's upserts against the post-batch dim
    // both attach sides are change/dim-partition-bounded — broadcast
    // them so the view partitions (fact-scale for this view) are
    // scanned, never shuffled (guide §3.1)
    val vKeep = vPruned.join(broadcast(t.ra.select("k")), Seq("k"),
        "left_anti")
      .join(broadcast(t.rb.select(col("ck"), col("op").as("b_op"),
          col("rate").as("b_rate"))),
        Seq("ck"), "left")
      .select(col("k"), col("ck"), col("cents"),
        when(col("b_op") === "D", lit(null).cast("long"))
          .when(col("b_op").isNotNull, col("b_rate"))
          .otherwise(col("rate")).as("rate"))
    val aIns = t.ra.filter(col("op") =!= "D")
      .select(col("k"), col("ck"), col("cents"))
      .join(broadcast(t.bNow), Seq("ck"), "left")
      .select(col("k"), col("ck"), col("cents"), col("rate"))
    val newV = vKeep.unionByName(aIns)
      .withColumn("pck", pmod(col("ck"), nb))
    mc.commitPartitioned(
      t.partWrites(aTable, bTable) ++
        Map(viewTable -> (("pck", newV, vCommitPck))),
      tiny = Map(marker -> markerTiny(marks + (queryId -> epoch))))
    t.unpersist()
  }

  /** Seed the (A, B, V) trio in ONE flip from initial loads — the
    * c15/c23 seed discipline: the initial load is a write, not a CDC
    * epoch. V computes as A ⟕ B once; thereafter the epochs own it.
    */
  def seedJoinView(mc: graft.compendium.ManifestCommit,
      a: DataFrame, b: DataFrame, aTable: String, bTable: String,
      viewTable: String, buckets: Int = 16): Unit = {
    val nb = lit(buckets.toLong)
    val v = a.select(col("k"), col("ck"), col("cents"))
      .join(b.select(col("ck"), col("rate")), Seq("ck"), "left")
      .select(col("k"), col("ck"), col("cents"), col("rate"))
    mc.commitPartitioned(Map(
      aTable -> (("pk",
        a.withColumn("pk", pmod(col("k"), nb)), (0L until buckets).toSeq)),
      bTable -> (("pbk",
        b.withColumn("pbk", pmod(col("ck"), nb)), (0L until buckets).toSeq)),
      viewTable -> (("pck",
        v.withColumn("pck", pmod(col("ck"), nb)), (0L until buckets).toSeq))))
    : Unit
  }

  /** AGGREGATE-over-join view maintenance under two-sided CDC — the
    * classic IVM shape [[ivmJoinStream]] (c24, the flat join view) does
    * not cover: V(ck) = (n, cents_total, revenue_total) where
    * revenue_total = SUM(cents × rate) over A(k, ck, cents) ⟕ B(ck,
    * rate), grouped by the join key. The delta rule is the whole
    * point — neither change side may ever re-scan the fact store:
    *
    *   - a FACT change adjusts (n, cents_total) by its point delta
    *     (old row from a pruned A read, new row from the batch), and
    *     revenue re-derives as cents_total' × rate — the group's rate
    *     comes from the VIEW row itself (or a pruned B lookup for a
    *     group born this epoch);
    *   - a DIM change RE-WEIGHTS the aggregated row from the view's own
    *     sufficient statistic: revenue' = cents_total × rate_new. The
    *     stored cents_total is exactly why SUM(cents × rate)
    *     decomposes — rate is functionally determined by the group key,
    *     so the sum factors, and the update is O(|touched groups|)
    *     arithmetic, never a fact read (the fact side contributes ZERO
    *     I/O to a dim-only epoch — IvmAggJoinSpec pins the A
    *     partitions' manifest entries AND bytes-read at 0).
    *
    * Store layout and epoch mechanics are [[ivmJoinStream]]'s: A
    * bucketed by pk = k mod B, B by pbk = ck mod B, V by pck = ck mod
    * B (pck ≡ pbk for one ck, so dim lookups are co-bucketed), every
    * read pruned to the batch's touched partition values through one
    * manifest snapshot, and the epoch's (A, B, V, marker) staged as ONE
    * [[graft.compendium.ManifestCommit]] flip. LEFT-join semantics:
    * facts on an absent dim hold rate NULL and contribute a NULL
    * revenue product, so revenue_total is NULL exactly when the
    * group's dim is absent (SQL's SUM over all-NULL products) and a
    * dim INSERT re-weights them in place — the c24 null-fill case at
    * aggregate grain. Same per-lineage replay marker as the family.
    *
    * 100 TB: the view is |distinct ck| rows — dimension-scale, however
    * large A grows; an epoch's cost is bounded by the BATCH's key
    * spread on every side (pruned partition reads, batch-vs-partition
    * joins, one staged write per touched directory). The from-scratch
    * alternative re-joins and re-aggregates the full fact table per
    * trigger.
    */
  def ivmAggJoinStream(changes: Dataset[CdcJoinChange],
      mc: graft.compendium.ManifestCommit, aTable: String, bTable: String,
      viewTable: String, buckets: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[CdcJoinChange] =
    lineageBatches(changes)((batch, epoch, queryId) =>
      applyIvmAggJoinBatch(batch.toDF(), mc, aTable, bTable, viewTable,
        epoch, queryId, buckets))

  private[graft] def applyIvmAggJoinBatch(batch: DataFrame,
      mc: graft.compendium.ManifestCommit, aTable: String, bTable: String,
      viewTable: String, epoch: Long, queryId: String = "__direct__",
      buckets: Int = 16): Unit =
    withPackedScans(mc.session) {
      applyIvmAggJoinBatchBody(batch, mc, aTable, bTable, viewTable, epoch,
        queryId, buckets)
    }

  private def applyIvmAggJoinBatchBody(batch: DataFrame,
      mc: graft.compendium.ManifestCommit, aTable: String, bTable: String,
      viewTable: String, epoch: Long, queryId: String,
      buckets: Int): Unit = {
    val s = batch.sparkSession
    val nb = lit(buckets.toLong)
    val marker = viewTable + "__epoch"
    if (batch.isEmpty) return
    val snap = mc.current()
    val marks =
      markerMarksAt(mc, snap, marker)
    if (skipAsReplay(marks, epoch, queryId)(m =>
        mc.commit(Map.empty, tiny = Map(marker -> markerTiny(m))))) return
    // shared A/B point-apply scaffolding (the c24 body) — a dim-only
    // epoch has an empty touchedPk, so the fact store contributes no
    // reads and no writes at all (the re-weight path)
    val t = twoSidedPointApply(batch, mc, snap, aTable, bTable, nb)
    // the GROUP delta: retract every changed key's old contribution,
    // add its new one — change-sized, single consumer (the merge; the
    // touched-pck set is the shared scaffolding's), fed by the
    // checkpointed oldA/ra so no resolve window re-runs
    val delta = t.oldA
      .select(col("old_ck").as("ck"), lit(-1L).as("d_n"),
        (-col("old_cents")).as("d_cents"))
      .unionByName(t.ra.filter(col("op") =!= "D")
        .select(col("ck"), lit(1L).as("d_n"), col("cents").as("d_cents")))
      .groupBy("ck")
      .agg(sum("d_n").as("d_n"), sum("d_cents").as("d_cents"))
    // touched groups = fact-delta groups ∪ dim-changed groups — exactly
    // the shared touchedPck (delta's group keys ARE old_ck ∪ non-D ck).
    // View bootstrap ([[applyIvmBatch]]'s discipline): a
    // pre-existing base with no view recomputes γ_ck(A) ⟕ B ONCE at the
    // snapshot — with the sufficient statistic stored, as the seed
    // does — and this epoch commits EVERY view partition; thereafter
    // the delta algebra owns it.
    val boot = unseededView(mc, snap, aTable, bTable, viewTable)
    val vPruned =
      if (boot) {
        val (aAll, bAll) = wholeAB(mc, snap, aTable, bTable, t)
        aAll.groupBy("ck")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents_total"))
          .join(bAll, Seq("ck"), "left")
          .select(col("ck"), col("n"), col("cents_total"), col("rate"))
      } else mc.readPartitionPathsAt(snap, viewTable, "pck", t.touchedPck,
          Some(AggJoinViewFileSchema))
        .map(_.select("ck", "n", "cents_total", "rate"))
        .getOrElse(delta.limit(0).select(col("ck"), col("d_n").as("n"),
          col("d_cents").as("cents_total"),
          lit(null).cast("long").as("rate")))
    val vCommitPck = if (boot) (0L until buckets).toSeq else t.touchedPck
    // merge: partition-mates carry forward (deltas coalesce to 0, rate
    // kept); dim changes re-weight via the stored cents_total; groups
    // born this epoch pull their rate from the post-batch dim
    // full outer decomposed into broadcast-joinable legs (guide §3.1):
    // existing groups (incl. partition-mates) left-join the broadcast
    // change-sized delta; groups born this epoch append through a
    // keys-only anti join, whose build side is the pruned view's key
    // column (a left anti join builds its right) — the pruned view
    // partitions are scanned, never shuffled, and the dim attaches
    // (rb, bNow — change/dim-partition-bounded) broadcast too.
    val merged = vPruned
      .join(broadcast(delta), Seq("ck"), "left")
      .unionByName(delta.join(vPruned.select("ck"), Seq("ck"), "left_anti")
        .select(col("ck"), lit(null).cast("long").as("n"),
          lit(null).cast("long").as("cents_total"),
          lit(null).cast("long").as("rate"),
          col("d_n"), col("d_cents")))
      .join(broadcast(t.rb.select(col("ck"), col("op").as("b_op"),
          col("rate").as("b_rate"))),
        Seq("ck"), "left")
      .join(broadcast(t.bNow.select(col("ck"), col("rate").as("now_rate"))),
        Seq("ck"), "left")
      .select(col("ck"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n"),
        (coalesce(col("cents_total"), lit(0L)) +
          coalesce(col("d_cents"), lit(0L))).as("cents_total"),
        when(col("b_op") === "D", lit(null).cast("long"))
          .when(col("b_op").isNotNull, col("b_rate"))
          .when(col("n").isNull, col("now_rate"))
          .otherwise(col("rate")).as("rate"))
      .filter(col("n") > 0)
      .withColumn("revenue_total", col("cents_total") * col("rate"))
      .withColumn("pck", pmod(col("ck"), nb))
    mc.commitPartitioned(
      t.partWrites(aTable, bTable) ++
        Map(viewTable -> (("pck", merged, vCommitPck))),
      tiny = Map(marker -> markerTiny(marks + (queryId -> epoch))))
    t.unpersist()
  }

  /** Seed the aggregate-view trio in ONE flip: V = γ_ck(A) ⟕ B with
    * the sufficient statistic (cents_total) stored so every later dim
    * change re-weights without a fact read.
    */
  def seedAggJoinView(mc: graft.compendium.ManifestCommit,
      a: DataFrame, b: DataFrame, aTable: String, bTable: String,
      viewTable: String, buckets: Int = 16): Unit = {
    val nb = lit(buckets.toLong)
    val v = a.groupBy("ck")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_total"))
      .join(b.select(col("ck"), col("rate")), Seq("ck"), "left")
      .select(col("ck"), col("n"), col("cents_total"), col("rate"),
        (col("cents_total") * col("rate")).as("revenue_total"))
    mc.commitPartitioned(Map(
      aTable -> (("pk",
        a.withColumn("pk", pmod(col("k"), nb)), (0L until buckets).toSeq)),
      bTable -> (("pbk",
        b.withColumn("pbk", pmod(col("ck"), nb)), (0L until buckets).toSeq)),
      viewTable -> (("pck",
        v.withColumn("pck", pmod(col("ck"), nb)), (0L until buckets).toSeq))))
    : Unit
  }

  /** Stream-stream time-interval join — the streaming twin of
    * q34_event_attribution: each purchase joins the SAME user's clicks
    * from the preceding `windowHours` hours, continuously. Both sides
    * carry watermarks AND the join condition time-bounds one stream
    * against the other, which is exactly what lets Spark expire join
    * state: a buffered click is droppable once the purchase-side
    * watermark passes click_ts + windowHours (no future purchase can
    * still match it), so state tracks the watermark horizon — whose
    * depth scales WITH windowHours (c21 runs this at 72 h, holding
    * three days of clicks per user, not one hour's) — never history.
    * `joinType = "inner"` (c21) emits only matched pairs in append
    * mode — late events beyond the watermark drop, the same semantics
    * the batch twin sees on the non-dropped subset.
    *
    * `joinType = "left_outer"` (c28) is the production attribution
    * contract: a purchase with NO click in its window must still
    * appear, null-credited — dropping it silently under-reports
    * conversions. The null row CANNOT emit when the purchase arrives
    * (a matching click may still be in flight, even time-stamped
    * EARLIER — disorder is the whole premise), so the engine holds the
    * purchase in join state and emits the null row exactly once, when
    * the CLICK-side watermark passes the purchase's match window and
    * no future click can possibly pair with it — watermark-closed
    * emission, the same deferred-finality discipline as c20's window
    * flush, derived automatically from the join's time-bound
    * condition. Matched pairs still emit eagerly, when the later side
    * arrives. EventStreamsSpec pins the timing: no null row before
    * the watermark closes the window; exactly one after.
    */
  def purchaseAttribution(events: Dataset[Event],
      watermark: String = "2 hours", windowHours: Int = 1,
      joinType: String = "inner"): DataFrame = {
    val clicks = events.toDF()
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.toDF()
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    // user_id projects from the PURCHASE side: on the outer path the
    // click side is null for unmatched rows (identical on matches)
    purchases.join(clicks,
        col("p_user_id") === col("user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") -
            expr(s"INTERVAL $windowHours HOUR"),
        joinType)
      .select(col("p_user_id").as("user_id"), col("purchase_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"), col("value"))
  }

  /** One user's open SCD2 interval: the dimension's CURRENT row, held as
    * group state until the next type change closes it. `(last, last_id)`
    * is the (event time, event_id) frontier already folded into the
    * history (NOT valid_from — same-type events advance it without a
    * version change): the straggler guard compares against the full
    * (ts, event_id) ORDER KEY, because an event with the frontier's
    * exact timestamp but a lower event_id also sorts before it in the
    * batch twin and would rewrite history.
    */
  final case class ScdState(cur_type: String, valid_from: Timestamp,
      version: Int, last: Timestamp, last_id: Long)

  final case class ScdClosed(user_id: Long, version: Int, event_type: String,
      valid_from: Timestamp, valid_to: Timestamp)

  /** Epoch MICROseconds of a Timestamp — ordering must match the batch
    * twin's full-precision `ts` comparisons; `getTime` alone truncates to
    * milliseconds and would order two same-millisecond events by
    * event_id where the batch twin orders them by their microsecond
    * parts.
    */
  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Continuous SCD2 dimension build — the streaming twin of
    * q38_scd2_build. Append mode emits each validity interval exactly
    * once, at the moment the next type change closes it — precisely the
    * batch twin's `valid_to IS NOT NULL` rows. The open (current) row per
    * user IS the group state: one small record per live user, which is
    * how the dimension's current view stays queryable without ever
    * re-emitting or revising output — SCD2 history is append-only, and
    * append-mode streaming enforces that structurally.
    *
    * Exactness contract: per-user event-time-ordered arrival (across any
    * batch boundaries; each batch is sorted internally) reproduces the
    * batch history bit-for-bit. An out-of-order event at or behind the
    * state's `last` frontier would have to rewrite history the fold has
    * already committed to — even a same-type absorbed event moves the
    * frontier, since an intervening change would have versioned between
    * it and the frontier — so it is dropped, the same policy a warehouse
    * MERGE into an append-only SCD2 table applies. No watermark is
    * declared because none would act: state timeout is NoTimeout (a
    * dimension's current row never expires) and the straggler guard, not
    * a watermark, is what bounds disorder — a production job bounds live
    * users by the keyspace. A TTL'd variant (the
    * DocumentStreams.nearDupStreamTTL treatment) is deliberately NOT
    * offered here: near-dup bucket state grows with stream HISTORY and
    * expiring it trades recall, but SCD2 state is one row per live
    * ENTITY — already the dimension's own cardinality — and expiring a
    * user's current row would corrupt the history (their next event
    * would open version 1 again instead of closing the real interval).
    * Bounded-state-by-TTL and correct-SCD2 are mutually exclusive;
    * bounding the keyspace is the production lever.
    */
  def scd2Stream(events: Dataset[Event]): Dataset[ScdClosed] = {
    import events.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[ScdState]): Iterator[ScdClosed] = {
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var closed = List.empty[ScdClosed]
      var cur = state.getOption
      for (e <- sorted) {
        cur match {
          case None =>
            cur = Some(ScdState(e.event_type, e.ts, 1, e.ts, e.event_id))
          case Some(s) if micros(e.ts) < micros(s.last) ||
              (micros(e.ts) == micros(s.last) && e.event_id <= s.last_id) =>
            () // at or behind the committed (ts, event_id) frontier:
               // would sort before already-folded history — dropped
          case Some(s) if e.event_type == s.cur_type =>
            cur = Some(s.copy(last = e.ts, last_id = e.event_id))
          case Some(s) =>
            closed ::= ScdClosed(userId, s.version, s.cur_type,
              s.valid_from, e.ts)
            cur = Some(ScdState(e.event_type, e.ts, s.version + 1,
              e.ts, e.event_id))
        }
      }
      cur.foreach(state.update)
      closed.reverseIterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  final case class Transition(user_id: Long, event_type: String,
      next_type: String)

  /** Per-user transition state: `bridge` is the LAST settled event (the
    * left endpoint of the next emission — one tuple per live user, the
    * sessionize/scd2 state class), `buf` the not-yet-settled arrivals
    * (bounded by the watermark lag, NOT by history).
    */
  final case class TransState(bridge: Option[(Long, Long, String)],
      buf: Vector[(Long, Long, String)])

  /** Continuous event-transition emission — the streaming twin of
    * q43_event_transitions, exact under arbitrary cross-batch disorder
    * via WATERMARK-ORDERED EMISSION: a transition (A → B) is only
    * correct once no event can still arrive between A and B, so
    * arrivals buffer un-emitted until the watermark passes them; on
    * each visit (new rows OR event-time timeout) the settled prefix —
    * buffered events at or behind the watermark, sorted by the batch
    * twin's (ts, event_id) order — emits its consecutive transitions in
    * append mode and collapses into the bridge. This is a different
    * disorder mechanism from [[funnelStream]]'s (monotone-depth
    * algebra): transitions have no monotone structure, so correctness
    * has to come from delayed ordering, the same reason event-time
    * session windows emit on watermark. The q43 matrix is the grid
    * rollup of these rows; 'exit' rows never emit (a stream cannot know
    * an event is a user's last — the batch twin over the sink owns the
    * absorbing state), so the contract is batch-minus-exits, which the
    * spec pins on shuffled replay.
    *
    * Guarantees and bounds: events later than the watermark allowance
    * are dropped (one knob, the hourlyRollup contract — emitting them
    * would order-corrupt an already-emitted pair). State per user =
    * one bridge tuple (the sessionize "tracks active users, not
    * history" class) + a buffer bounded by the allowance horizon of
    * that user's traffic; groups with a non-empty buffer re-arm an
    * event-time timeout at watermark+1 so settlement needs no new
    * arrivals. At 100 TB the production lever for idle users is the
    * keyspace bound, as scd2Stream documents — expiring a bridge would
    * fabricate a chain break (the scd2 argument verbatim).
    */
  def transitionStream(events: Dataset[Event],
      allowance: String = "2 hours"): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", allowance)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(transitionUpdate)
  }

  /** The shared transition update function — both transitionStream
    * overloads use it, so the rehydrated query can never disagree with
    * the continuous one on ordering, settlement, or the straggler guard.
    */
  private def transitionUpdate(userId: Long, rows: Iterator[Event],
      state: GroupState[TransState]): Iterator[Transition] = {
    def settle(st: TransState, wm: Long): Iterator[Transition] = {
      val (ready, rest) = st.buf.partition(_._1 / 1000L <= wm)
      val ordered = ready.sortBy(e => (e._1, e._2))
      val chain = st.bridge.toVector ++ ordered
      val out = chain.sliding(2).collect {
        case Vector((_, _, a), (_, _, b)) => Transition(userId, a, b)
      }.toVector
      val bridge = ordered.lastOption.orElse(st.bridge)
      state.update(TransState(bridge, rest))
      if (rest.nonEmpty) state.setTimeoutTimestamp(wm + 1L)
      out.iterator
    }

    val wm = state.getCurrentWatermarkMs()
    val st0 = state.getOption.getOrElse(TransState(None, Vector.empty))
    val st =
      if (state.hasTimedOut) st0
      else rows.foldLeft(st0) { (st, e) =>
        val t = micros(e.ts)
        // beyond-watermark-late, or a redelivery of a buffered or
        // already-settled (≤ bridge frontier) event: drop — emitting
        // it would order-corrupt pairs already in the sink
        val lateOrDup = t / 1000L <= wm ||
          st.buf.exists(b => b._2 == e.event_id) ||
          st.bridge.exists(br => (t, e.event_id) == ((br._1, br._2)))
        if (lateOrDup) st
        else st.copy(buf = st.buf :+ ((t, e.event_id, e.event_type)))
      }
    settle(st, wm)
  }

  /** [[transitionStream]] REHYDRATED from the event history — the
    * demote lever for the chain operator. A SETTLED user (watermark past
    * their last event) holds exactly `TransState(bridge = their latest
    * (ts, id, type), buf = ∅)`, and that bridge is reconstructible from
    * the warehouse's event history alone: [[transitionStateFrom]] takes
    * each demoted user's maximum (micros, event_id) event. The emitted
    * Transition sidecar cannot serve as the codec source (it carries
    * only the type pair — the frontier's timestamp and id, which the
    * straggler guard needs, are gone), which is WHY the codec reads
    * history; at 100 TB the scan prunes to the demoted user set (a
    * keyed point-read per user, not a corpus pass). Settled-only
    * contract, retentionStream's verbatim: demote a user only once the
    * watermark passed their last event (their buffer has settled and
    * every pair emitted); replay only post-demote-watermark events.
    */
  def transitionStream(events: Dataset[Event], allowance: String,
      initial: Dataset[(Long, TransState)]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", allowance)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout,
        initial.groupByKey(_._1).mapValues(_._2))(transitionUpdate)
  }

  /** Demote codec for [[transitionStream]]: each user's settled frontier
    * — their maximum (micros, event_id) event — becomes the bridge of a
    * buffer-empty state.
    */
  def transitionStateFrom(history: Dataset[Event])
      : Dataset[(Long, TransState)] = {
    import history.sparkSession.implicits._
    history.groupByKey(_.user_id).mapGroups { (uid, rows) =>
      val last = rows.map(e => (micros(e.ts), e.event_id, e.event_type))
        .maxBy(e => (e._1, e._2))
      (uid, TransState(Some(last), Vector.empty))
    }
  }

  /** Per-stage candidate timestamps, each list ascending (micros,
    * event_id). Only funnel-type events enter; see the prune rule in
    * [[funnelStream]] for why the lists stay small once stages complete.
    */
  final case class FunnelState(s: Vector[(Long, Long)], v: Vector[(Long, Long)],
      c: Vector[(Long, Long)], p: Vector[(Long, Long)])

  final case class FunnelDepth(user_id: Long, funnel_stage: Int)

  private val funnelStageOf =
    Map("signup" -> 0, "view" -> 1, "click" -> 2, "purchase" -> 3)
  private val funnelOrd = implicitly[Ordering[(Long, Long)]]

  /** Greedy-earliest chain over the four candidate lists: f₁ = min
    * signup, fₖ = min stageₖ candidate > fₖ₋₁; depth = longest defined
    * prefix. Shared by [[funnelStream]] and [[funnelStreamTTL]] so the
    * two variants can never disagree on what a chain is.
    */
  private def funnelChain(st: FunnelState): Seq[Option[(Long, Long)]] = {
    val lists = Seq(st.s, st.v, st.c, st.p)
    var cur: Option[(Long, Long)] = Some((Long.MinValue, Long.MinValue))
    lists.map { lst =>
      cur = cur.flatMap(prev => lst.find(e => funnelOrd.gt(e, prev)))
      cur
    }
  }

  /** Fold one event into the state's per-stage ascending candidate list
    * (non-funnel types are ignored).
    */
  private def funnelInsert(st: FunnelState, e: Event): FunnelState =
    funnelStageOf.get(e.event_type).fold(st) { k =>
      val key = (micros(e.ts), e.event_id)
      def ins(lst: Vector[(Long, Long)]): Vector[(Long, Long)] = {
        val i = lst.indexWhere(x => funnelOrd.gt(x, key))
        if (i < 0) lst :+ key else (lst.take(i) :+ key) ++ lst.drop(i)
      }
      k match {
        case 0 => st.copy(s = ins(st.s))
        case 1 => st.copy(v = ins(st.v))
        case 2 => st.copy(c = ins(st.c))
        case _ => st.copy(p = ins(st.p))
      }
    }

  /** The exact prune: while fₖ is defined, stage-k candidates above it
    * can never be chosen later (fₖ is monotone non-increasing), so each
    * list keeps only entries ≤ fₖ.
    */
  private def funnelPrune(st: FunnelState,
      ch: Seq[Option[(Long, Long)]]): FunnelState = {
    def prune(lst: Vector[(Long, Long)], f: Option[(Long, Long)]) =
      f.map(fk => lst.filter(e => funnelOrd.lteq(e, fk))).getOrElse(lst)
    FunnelState(prune(st.s, ch(0)), prune(st.v, ch(1)),
      prune(st.c, ch(2)), prune(st.p, ch(3)))
  }

  /** Continuous funnel-depth tracking — the streaming twin of
    * q41_funnel_pattern, exact under ARBITRARY cross-batch disorder
    * (unlike scd2Stream's in-order contract): a late-arriving signup must
    * be able to unlock a view/click/purchase chain that already streamed
    * past.
    *
    * Correctness rests on two facts. (1) The greedy-earliest chain is
    * optimal: f₁ = min ts(signup), fₖ = min ts(stageₖ) > fₖ₋₁ — if any
    * ordered subsequence reaches stage k, the greedy one does, so depth =
    * longest defined prefix of (f₁..f₄), exactly the batch twin's regex
    * subsequence test. (2) Every fₖ is MONOTONE NON-INCREASING as events
    * accumulate — new events only add candidates — which yields an exact
    * prune: a stage-k candidate above the current fₖ can never be chosen
    * later (fₖ only moves down), so each list keeps only candidates
    * ≤ fₖ while fₖ is defined. State per user is therefore the four
    * candidate lists BELOW the current chain — collapsing toward one
    * entry per completed stage — plus unbounded tails only for stages the
    * user never reached, the irreducible information a late unlock needs.
    * At 100 TB scale the production lever is the same TTL horizon as
    * nearDupStreamTTL: expire users idle past the disorder horizon.
    *
    * Update mode: one FunnelDepth row per touched user per micro-batch
    * (its current depth; the sink keeps the latest).
    */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelDepth] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(funnelUpdate)
  }

  /** The shared exact-funnel update function — both funnelStream
    * overloads use it, so the rehydrated query can never disagree with
    * the continuous one on chain choice or pruning.
    */
  private def funnelUpdate(userId: Long, rows: Iterator[Event],
      state: GroupState[FunnelState]): FunnelDepth = {
    var st = state.getOption.getOrElse(
      FunnelState(Vector.empty, Vector.empty, Vector.empty, Vector.empty))
    rows.foreach(e => st = funnelInsert(st, e))
    val ch = funnelChain(st)
    st = funnelPrune(st, ch)
    // never store a row for a user who has no funnel-type events at
    // all: at scale the state store must track funnel-ACTIVE users,
    // not every user the stream has ever seen (the depth-0 output row
    // still emits). Once any funnel event entered, the lists stay
    // non-empty — pruning keeps each chosen fₖ itself.
    if (st.s.nonEmpty || st.v.nonEmpty || st.c.nonEmpty || st.p.nonEmpty)
      state.update(st)
    FunnelDepth(userId, ch.takeWhile(_.isDefined).length)
  }

  /** [[funnelStream]] REHYDRATED from demoted per-user state — the
    * demote lever for the funnel operator. The demote artifact is the
    * PRUNED candidate-list state itself (the emitted FunnelDepth
    * sidecar cannot serve: depth alone cannot say which stage-k
    * candidates a late unlock may still choose), and
    * [[funnelStateFrom]] rebuilds it from the warehouse's event
    * history — insert-all then prune is deterministic and
    * batch-order-free, so the rebuilt state is IDENTICAL to what the
    * continuous query held, whatever micro-batch boundaries it saw
    * (StateRehydrationSpec pins demote/rehydrate ≡ continuous). At
    * 100 TB the history scan prunes to the demoted user set and the
    * four funnel event types — a keyed, type-filtered read, not a
    * corpus pass. A rehydrated user emits no row until their next
    * arrival (update-mode semantics: the sink already holds their
    * depth).
    */
  def funnelStream(events: Dataset[Event],
      initial: Dataset[(Long, FunnelState)]): Dataset[FunnelDepth] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout,
        initial.groupByKey(_._1).mapValues(_._2))(funnelUpdate)
  }

  /** Demote codec for [[funnelStream]]: rebuild each user's pruned
    * candidate-list state from their funnel-type event history. Users
    * with no funnel-type events get no state row (the operator's own
    * never-store rule).
    */
  def funnelStateFrom(history: Dataset[Event])
      : Dataset[(Long, FunnelState)] = {
    import history.sparkSession.implicits._
    history
      .filter(e => funnelStageOf.contains(e.event_type))
      .groupByKey(_.user_id).mapGroups { (uid, rows) =>
        var st = FunnelState(Vector.empty, Vector.empty, Vector.empty,
          Vector.empty)
        rows.foreach(e => st = funnelInsert(st, e))
        (uid, funnelPrune(st, funnelChain(st)))
      }
  }

  /** The PRODUCTION variant of [[funnelStream]] — the TTL lever its doc
    * comment names, made concrete in the [[graft.streaming.DocumentStreams.nearDupStreamTTL]]
    * mold: the stream watermarks `ts` with the disorder horizon, and
    * per-user candidate state ages out against that watermark, so state
    * per user converges to the ≤ 4 chosen chain entries plus at most one
    * horizon of fresh candidates — never the unbounded stage tails the
    * exact variant must keep for arbitrarily-late unlocks.
    *
    * Unlike nearDupStreamTTL's best-effort band, this eviction is EXACT
    * within the watermark contract (it only narrows disorder tolerance,
    * never changes a depth): depths equal [[funnelStream]]'s whenever no
    * event arrives later than the horizon allows. Why an aged non-chain
    * candidate can never be missed: chain values fₖ only move DOWN, and
    * they move only when an arrival creates a new minimum at some stage
    * j. The lowest changed stage must choose the arrival itself (an
    * older eligible candidate would already have been chosen), so
    * f'ⱼ = ts(arrival) > watermark − horizon, and chain values strictly
    * increase along stages, so every newly-chosen value at stages > j
    * exceeds it too. A candidate with ts + horizon ≤ watermark can
    * therefore never be newly chosen — evicting it is lossless. Chosen
    * chain entries are exempt from eviction at ANY age: a year-old
    * signup still anchors its user's funnel, exactly as in the batch
    * twin.
    *
    * The EventTimeTimeout wakes IDLE users once their oldest non-chain
    * candidate ages past the horizon, shrinking them to chain-only state
    * without waiting for their next event; chain-only users carry no
    * timeout (≤ 4 longs per funnel-active user is the semantic floor —
    * dropping it would forget achieved depth, which the batch twin never
    * does). Users with no funnel-type events are never stored, as in the
    * exact variant.
    */
  def funnelStreamTTL(events: Dataset[Event],
      horizonMinutes: Long = 120): Dataset[FunnelDepth] = {
    import events.sparkSession.implicits._
    val horizonMs = horizonMinutes * 60000L

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[FunnelState]): FunnelDepth = {
      var st = state.getOption.getOrElse(
        FunnelState(Vector.empty, Vector.empty, Vector.empty, Vector.empty))
      if (!state.hasTimedOut) rows.foreach(e => st = funnelInsert(st, e))
      val ch = funnelChain(st)
      st = funnelPrune(st, ch)
      // age-evict non-chain candidates the watermark has passed by more
      // than the horizon (keys are (micros, event_id); watermark is ms)
      val wmMs = state.getCurrentWatermarkMs()
      val chosen = ch.flatten.toSet
      def live(e: (Long, Long)): Boolean =
        chosen.contains(e) || e._1 / 1000L + horizonMs > wmMs
      st = FunnelState(st.s.filter(live), st.v.filter(live),
        st.c.filter(live), st.p.filter(live))
      if (st.s.nonEmpty || st.v.nonEmpty || st.c.nonEmpty || st.p.nonEmpty) {
        state.update(st)
        // wake when the oldest surviving NON-chain candidate ages out;
        // survivors satisfy ts + horizon > wm, so the timeout is always
        // in the watermark's future (the setTimeoutTimestamp contract)
        val nonChain = (st.s ++ st.v ++ st.c ++ st.p).filterNot(chosen)
        if (nonChain.nonEmpty)
          state.setTimeoutTimestamp(nonChain.map(_._1).min / 1000L + horizonMs)
      } else if (state.exists) {
        // an unanchored user's whole candidate set aged out (no chain
        // to keep): drop the row entirely — update() would pin empty
        // vectors in the store forever
        state.remove()
      }
      FunnelDepth(userId, ch.takeWhile(_.isDefined).length)
    }

    events
      .withWatermark("ts", s"$horizonMinutes minutes")
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Per-user multi-touch state: `clicks` are retained touch candidates
    * (micros, click_id) inside the attribution horizon, `pending` the
    * purchases (micros, purchase_id, value) the watermark has not yet
    * settled.
    */
  final case class MultiTouchState(clicks: Vector[(Long, Long)],
      pending: Vector[(Long, Long, Double)])

  final case class TouchCredit(user_id: Long, purchase_id: Long,
      click_id: Long, hours_before: Long, weight: Long, share: Double,
      credited_value: Double)

  /** Continuous time-decay multi-touch attribution — the streaming twin
    * of q42_multi_touch, exact under cross-batch disorder via the
    * transitionStream mechanism (watermark-ordered emission): a
    * purchase's click shares are only final once no click at or before
    * its timestamp can still arrive, so purchases buffer until the
    * watermark passes them, then emit every in-window click's credit
    * with the batch twin's EXACT integer halving weight
    * (w = 1 << (30 − floor(Δ/1h)), share = w/Σw — the one IEEE division,
    * bit-equal to batch at any arrival order). Zero-click purchases
    * emit nothing, exactly the batch inner join.
    *
    * Unlike transitionStream's bridge, this state is bounded WITHOUT a
    * TTL knob by the model itself: a click can only ever be credited
    * inside the 24 h attribution window, so clicks at or behind
    * wm − 24 h are evicted on every visit (pending purchases are all
    * ahead of the watermark, so no surviving purchase can reach them),
    * and pending purchases are bounded by the allowance horizon. The
    * 24 h window IS the TTL — including for IDLE users: a group with
    * retained clicks but nothing pending arms an event-time timeout at
    * its youngest click's age-out instant, so click-only users (the
    * common case) are revisited exactly once more and their dead state
    * removed, never leaked. Events later than the allowance drop (the
    * hourlyRollup contract); buffered purchases re-arm an event-time
    * timeout at wm+1 so settlement needs no new arrivals.
    */
  def attributionDecayStream(events: Dataset[Event],
      allowance: String = "2 hours"): Dataset[TouchCredit] = {
    import events.sparkSession.implicits._
    val windowMs = 24L * 3600 * 1000

    def settle(userId: Long, st: MultiTouchState, wm: Long,
        state: GroupState[MultiTouchState]): Iterator[TouchCredit] = {
      val (ready, rest) = st.pending.partition(_._1 / 1000L <= wm)
      val out = ready.sortBy(p => (p._1, p._2)).flatMap {
        case (pt, pid, value) =>
          // window membership at FULL microsecond precision — the batch
          // twin's join compares Timestamps, and same-millisecond
          // events carry distinct microsecond parts (the micros()
          // docstring); only hours_before floors to millis, because
          // that is what batch unix_millis arithmetic does
          val weighted = st.clicks.collect {
            case (ct, cid)
                if ct <= pt && ct > pt - windowMs * 1000L =>
              val hours = (pt / 1000L - ct / 1000L) / 3600000L
              (cid, hours, 1L << (30 - hours))
          }
          val total = weighted.map(_._3).sum
          weighted.map { case (cid, hours, w) =>
            val share = w * 1.0 / total
            TouchCredit(userId, pid, cid, hours, w, share, value * share)
          }
      }
      val keepClicks = st.clicks.filter(_._1 / 1000L > wm - windowMs)
      if (keepClicks.nonEmpty || rest.nonEmpty) {
        state.update(MultiTouchState(keepClicks, rest))
        if (rest.nonEmpty) state.setTimeoutTimestamp(wm + 1L)
        else {
          // click-only users (no purchase pending) must still be
          // revisited once their youngest click ages past the
          // attribution window, or their dead state lives in the store
          // forever; the wake instant is > wm because every kept click
          // satisfies ct/1000 + windowMs > wm
          state.setTimeoutTimestamp(
            keepClicks.map(_._1).max / 1000L + windowMs)
        }
      } else if (state.exists) {
        state.remove()
      }
      out.iterator
    }

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[MultiTouchState]): Iterator[TouchCredit] = {
      val wm = state.getCurrentWatermarkMs()
      val st0 = state.getOption.getOrElse(
        MultiTouchState(Vector.empty, Vector.empty))
      val st =
        if (state.hasTimedOut) st0
        else rows.foldLeft(st0) { (st, e) =>
          val t = micros(e.ts)
          // beyond-watermark-late (emitting would change already-final
          // shares) or an at-least-once redelivery: drop
          if (t / 1000L <= wm) st
          else e.event_type match {
            case "click" if !st.clicks.exists(_._2 == e.event_id) =>
              st.copy(clicks = st.clicks :+ ((t, e.event_id)))
            case "purchase" if !st.pending.exists(_._2 == e.event_id) =>
              st.copy(pending = st.pending :+ ((t, e.event_id, e.value)))
            case _ => st
          }
        }
      settle(userId, st, wm, state)
    }

    events
      .withWatermark("ts", allowance)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Per-user retention state: `minMonth`/`emitted`/`pending` are month
    * INDICES (year*12 + month − 1, so offsets are plain differences —
    * the same integer-exact arithmetic as batch q40's
    * (yearΔ*12 + monthΔ)). Long.MaxValue = no event seen yet.
    */
  final case class RetentionState(minMonth: Long, emitted: Set[Long],
      pending: Set[Long])

  final case class CohortActivity(user_id: Long, cohort_month: Timestamp,
      month_offset: Long)

  /** Continuous cohort-retention feed — the streaming twin of
    * q40_cohort_retention. Emits each (user, active month) exactly once
    * as (user_id, cohort_month, month_offset); the q40 grid is the
    * consumer's distinct-count rollup of these rows (the
    * transitionStream contract: the stream owns the corpus-scale
    * per-user work, the grid rollup runs over emitted rows).
    *
    * The disorder hazard is the COHORT: a user's first-active month can
    * only move EARLIER, and a late event in an earlier month would
    * re-base every already-emitted offset. So activity buffers until
    * the watermark passes the START of the user's earliest seen month —
    * from then on, any event that could lower the cohort would be
    * beyond-watermark-late and is dropped, i.e. the cohort is frozen
    * and every offset is final (watermark-ordered emission at month
    * granularity). After the freeze, new months emit in the arrival
    * batch. Buffered users re-arm an event-time timeout at the freeze
    * instant, so settlement needs no new arrivals.
    *
    * State per user = cohort index + the distinct-month set (bounded by
    * the user's LIFETIME IN MONTHS — tens of longs after years, the
    * batch twin's users×months bound, not event history). Unlike
    * attributionDecayStream there is no model-given eviction: offsets
    * of far-future activity need the cohort forever, so at 100 TB the
    * production lever is demoting long-idle users' state to a keyed
    * warehouse sidecar (the d15/d16 store discipline) and re-hydrating
    * on their next event — expiring it would re-base their cohort.
    */
  def retentionStream(events: Dataset[Event],
      allowance: String = "60 days"): Dataset[CohortActivity] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", allowance)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        retentionUpdate(sessionZone(events)))
  }

  /** [[retentionStream]] REHYDRATED from a demoted-state sidecar — the
    * production lever the X81s state-bound documents: long-idle users'
    * state is demoted to a keyed warehouse table, the continuous query
    * restarts without them, and `initial` seeds the new query's state
    * store so a returning user's offsets still count from their ORIGINAL
    * cohort (an un-seeded restart would re-base them at their next
    * active month — [[retentionStateFrom]] is the demote/rehydrate
    * codec, and the spec pins two-phase ≡ continuous).
    *
    * Contract: equivalence holds for arrivals AFTER the demote
    * watermark — the same events the continuous run would accept. (The
    * restarted query's own watermark rebuilds from its first batch, so
    * feeding it pre-demote-watermark stragglers would ACCEPT rows the
    * continuous run had late-dropped; a production demote stamps the
    * watermark into the sidecar and filters the replay the same way.)
    */
  def retentionStream(events: Dataset[Event], allowance: String,
      initial: Dataset[(Long, RetentionState)]): Dataset[CohortActivity] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", allowance)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout,
        initial.groupByKey(_._1).mapValues(_._2))(
        retentionUpdate(sessionZone(events)))
  }

  /** Demote codec: rebuild each user's [[RetentionState]] from their
    * emitted rows in the warehouse sidecar (the consumer's append-only
    * table of CohortActivity rows). Exactly lossless for SETTLED users —
    * frozen cohort, empty pending — which is precisely the demotable
    * population: a user is only idle-demoted once the watermark is past
    * their last activity, at which point every buffered month has
    * emitted. cohort index + emitted set reconstruct; pending = empty.
    */
  def retentionStateFrom(sidecar: Dataset[CohortActivity])
      : Dataset[(Long, RetentionState)] = {
    import sidecar.sparkSession.implicits._
    val zoneId = sessionZone(sidecar)
    sidecar.groupByKey(_.user_id).mapGroups { (uid, rows) =>
      val rs = rows.toVector
      val mi = monthIndexAt(zoneId, rs.head.cohort_month.getTime)
      (uid, RetentionState(mi, rs.map(r => mi + r.month_offset).toSet,
        Set.empty))
    }
  }

  /** Session timezone captured at plan-build time on the driver — the
    * batch twin's date_trunc('month')/year()/month() resolve against
    * spark.sql.session.timeZone, so a hard-coded UTC here would silently
    * break the streamed-equals-batch contract in any non-UTC session.
    */
  private def sessionZone(ds: Dataset[_]): java.time.ZoneId =
    java.time.ZoneId.of(
      ds.sparkSession.sessionState.conf.sessionLocalTimeZone)

  private def monthIndexAt(zoneId: java.time.ZoneId, ms: Long): Long = {
    val d = java.time.Instant.ofEpochMilli(ms).atZone(zoneId)
    d.getYear * 12L + d.getMonthValue - 1
  }

  private def monthStartMsAt(zoneId: java.time.ZoneId, idx: Long): Long =
    java.time.LocalDate.of((idx / 12).toInt, (idx % 12).toInt + 1, 1)
      .atStartOfDay(zoneId).toInstant.toEpochMilli

  /** The shared retention update function (see [[retentionStream]] for
    * the watermark-ordered-emission argument). Also invoked once per
    * rehydrated key on the seeded query's first batch (possibly with no
    * data): the empty fold leaves the state intact and the emitted-set
    * guard prevents any re-emission.
    */
  private def retentionUpdate(zoneId: java.time.ZoneId)(
      userId: Long, rows: Iterator[Event],
      state: GroupState[RetentionState]): Iterator[CohortActivity] = {
    val wm = state.getCurrentWatermarkMs()
    val st0 = state.getOption.getOrElse(
      RetentionState(Long.MaxValue, Set.empty, Set.empty))
    val st =
      if (state.hasTimedOut) st0
      else rows.foldLeft(st0) { (st, e) =>
        val t = e.ts.getTime
        if (t <= wm) st // beyond-watermark-late: could re-base the cohort
        else {
          val mi = monthIndexAt(zoneId, t)
          if (st.emitted.contains(mi) || st.pending.contains(mi)) st
          else RetentionState(math.min(st.minMonth, mi), st.emitted,
            st.pending + mi)
        }
      }
    if (st.minMonth != Long.MaxValue &&
        wm >= monthStartMsAt(zoneId, st.minMonth)) {
      // cohort frozen: every pending month's offset is final
      val cohortTs = new Timestamp(monthStartMsAt(zoneId, st.minMonth))
      val out = st.pending.toVector.sorted.map(mi =>
        CohortActivity(userId, cohortTs, mi - st.minMonth))
      state.update(RetentionState(st.minMonth, st.emitted ++ st.pending,
        Set.empty))
      out.iterator
    } else {
      if (st.minMonth != Long.MaxValue) {
        state.update(st)
        // freeze instant is ahead of the watermark by the branch
        // condition, satisfying the setTimeoutTimestamp contract
        if (st.pending.nonEmpty)
          state.setTimeoutTimestamp(monthStartMsAt(zoneId, st.minMonth))
      }
      Iterator.empty
    }
  }
}