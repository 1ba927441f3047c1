package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EventStreamsSpec extends SparkTestBase {

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("hourlyRollup aggregates by event-time hour (streaming = batch plan)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val df = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = EventStreams.hourlyRollup(df)
      .writeStream.format("memory").queryName("rollup")
      .outputMode("complete").start()
    try {
      in.addData(
        (1L, ts("10:05"), "click", 1.0),
        (2L, ts("10:55"), "click", 2.0),
        (3L, ts("10:30"), "view", 5.0),
        (4L, ts("11:10"), "click", 3.0))
      q.processAllAvailable()
      val rows = spark.table("rollup").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set(
        ("2026-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2026-01-01 10:00:00.0", "view", 1L, 5.0),
        ("2026-01-01 11:00:00.0", "click", 1L, 3.0)))
    } finally q.stop()
  }

  test("kmvDistinctStream: shuffled micro-batched sketch equals the batch sketch bit-exactly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // real sf0.001 events, shuffled deterministically and split into 4
    // micro-batches: order-independence means the streamed bottom-k per
    // type must equal the one-shot batch aggregate exactly
    val batch = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val rows = batch.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .sortBy(t => graft.functions.Portable.h60Scala(s"shuf_${t._1}"))
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStreams.kmvDistinctStream(df, k = 8)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("kmv_stream").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val expect = EventStreams.kmvDistinctStream(batch, k = 8).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(streamed === expect)
      // the sketch is genuinely bounded (k), and bounded below by data
      assert(streamed.values.forall(_.length == 8)) // 15 distinct users/type > k
    } finally q.stop()
  }

  test("hdrCellsStream: shuffled micro-batched histogram equals the batch cells exactly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // real sf0.001 events, shuffled deterministically, 4 micro-batches:
    // counts are order-free, so the streamed cell grid must equal the
    // one-shot batch histogram cell for cell — and stay bounded
    val batch = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val rows = batch.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .sortBy(t => graft.functions.Portable.h60Scala(s"shuf_${t._1}"))
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStreams.hdrCellsStream(df)
      .writeStream.format("memory").queryName("hdr_stream")
      .outputMode("complete").start()
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      def cells(dfc: org.apache.spark.sql.DataFrame) = dfc.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
        .toMap
      val streamed = cells(spark.table("hdr_stream"))
      val expect = cells(EventStreams.hdrCellsStream(batch))
      assert(streamed === expect,
        "streamed histogram must equal the batch cells exactly")
      // the state bound the no-watermark choice rests on: cells per type
      // stay within the summary's construction limit (~8 sub-buckets × 40
      // octaves), regardless of how many events streamed in
      val perType = streamed.keys.groupBy(_._1).map(_._2.size)
      assert(perType.forall(_ <= 320), s"cell grid must stay bounded: $perType")
    } finally q.stop()
  }

  test("sessionize closes a session after the inactivity gap (event time)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // one burst for user 1, then silence
      in.addData(
        EventStreams.Event(1, ts("10:00"), 1, "click", 1.0),
        EventStreams.Event(2, ts("10:10"), 1, "click", 2.0),
        EventStreams.Event(3, ts("10:20"), 1, "view", 3.0))
      q.processAllAvailable()
      assert(spark.table("sessions").isEmpty) // watermark hasn't passed
      // much later event (user 2) advances the watermark past 10:50
      in.addData(EventStreams.Event(9, ts("12:00"), 2, "click", 0.5))
      q.processAllAvailable()
      in.addData(EventStreams.Event(10, ts("13:30"), 2, "click", 0.5))
      q.processAllAvailable()
      val s = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4)))
      assert(s.contains(
        (1L, "2026-01-01 10:00:00.0", "2026-01-01 10:20:00.0", 3L, 6.0)))
    } finally q.stop()
  }

  test("file-source stream over the events table equals the batch rollup") {
    import org.apache.spark.sql.functions._
    val src = tmpDir()
    // stage the real sf0.001 events as a watched directory (ts read as
    // nanos-long then truncated, same as Tables.events)
    val batch = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "event_type", "value")
    batch.write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(batch.schema).parquet(src)
    val q = EventStreams.hourlyRollup(stream)
      .writeStream.format("memory").queryName("file_rollup")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_rollup").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      val expected = batch
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("batch sessionization (q22) equals streaming sessionize on real events") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q22_sessionize_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
        r.getLong(4), r.getAs[Double]("total_value"))).toSet

    val events = graft.core.Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event].collect().toSeq
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("eq_sessions")
      .outputMode("append").start()
    try {
      in.addData(events)
      q.processAllAvailable()
      // push the watermark far past the last event so every session closes
      val lastTs = events.map(_.ts.getTime).max
      in.addData(EventStreams.Event(-1, new java.sql.Timestamp(
        lastTs + 7L * 24 * 3600 * 1000), -999L, "flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("eq_sessions")
        .filter(col("user_id") =!= -999L).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(streamed.size === batch.size)
      // identical keys; totals agree to fp-accumulation noise (streaming
      // folds doubles in event order, batch sums exact decimals)
      val bKeys = batch.map(t => (t._1, t._2, t._3, t._4))
      val sKeys = streamed.map(t => (t._1, t._2, t._3, t._4))
      assert(sKeys === bKeys)
      val bTot = batch.toSeq.sortBy(t => (t._1, t._2.getTime)).map(_._5)
      val sTot = streamed.toSeq.sortBy(t => (t._1, t._2.getTime)).map(_._5)
      bTot.zip(sTot).foreach { case (x, y) => assert(math.abs(x - y) < 1e-6) }
    } finally q.stop()
  }

  test("dedupedIngest drops at-least-once redeliveries across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.dedupedIngest(in.toDS())
      .writeStream.format("memory").queryName("dedup_ingest")
      .outputMode("append").start()
    try {
      in.addData(
        EventStreams.Event(1, ts("10:00"), 1, "click", 1.0),
        EventStreams.Event(2, ts("10:05"), 1, "view", 2.0),
        EventStreams.Event(2, ts("10:05"), 1, "view", 2.0)) // in-batch dup
      q.processAllAvailable()
      // redelivery in a LATER batch (same id, within the watermark)
      in.addData(
        EventStreams.Event(1, ts("10:00"), 1, "click", 1.0),
        EventStreams.Event(3, ts("10:20"), 2, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_ingest").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("dedupedIngest TTL: a redelivery AFTER state eviction re-emits (the within-watermark contract c19's long delay avoids)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // The caveat in dropDuplicatesWithinWatermark's name: state holds a
    // key only while its event time is inside the watermark window, so a
    // redelivery carrying a FRESH timestamp (ingest-time reassignment —
    // the Kafka-retry shape) after the original's state was evicted is
    // NOT suppressed. c19's gate replay sets the delay to out-span the
    // replay precisely so this path cannot fire there; this twin pins
    // that the trade is real, not imagined — memory is bounded by the
    // redelivery horizon BECAUSE suppression beyond it is surrendered.
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.dedupedIngest(in.toDS()) // shipped 2 h delay
      .writeStream.format("memory").queryName("dedup_ttl")
      .outputMode("append").start()
    try {
      // B1: the original sighting of key 1 at 10:00
      in.addData(EventStreams.Event(1, ts("10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // B2 advances max event time to 16:00 → watermark 14:00; key 2's
      // state (15:00) stays inside the window
      in.addData(EventStreams.Event(99, ts("16:00"), 9, "view", 0.0),
        EventStreams.Event(2, ts("15:00"), 2, "view", 2.0))
      q.processAllAvailable()
      // B3: a full batch boundary under watermark 14:00 — key 1's state
      // (event time 10:00) is evicted no later than this batch
      in.addData(EventStreams.Event(98, ts("16:05"), 9, "view", 0.0))
      q.processAllAvailable()
      // B4: both keys redelivered with fresh timestamps (≥ watermark, so
      // neither is late-dropped): key 2 is still in state → suppressed;
      // key 1's state is gone → re-emitted
      in.addData(EventStreams.Event(1, ts("15:40"), 1, "click", 1.0),
        EventStreams.Event(2, ts("15:45"), 2, "view", 2.0))
      q.processAllAvailable()
      val counts = spark.table("dedup_ttl").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      assert(counts(1L) === 2, s"evicted key must re-emit: $counts")
      assert(counts(2L) === 1, s"in-window key must stay suppressed: $counts")
    } finally q.stop()
  }

  test("c19/c20 gate fixtures are non-vacuous at sf0.01: dupes delivered, stragglers dropped, rollup changed") {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.01")
    // c19: the redelivery set (event_id ≡ 0 mod 3 inside the ≡13 mod 97
    // slice) must be nonempty, else the row grades plain passthrough
    val c19Dupes = ev.filter(col("event_id") % 97 === 13 &&
      col("event_id") % 3 === 0).count()
    assert(c19Dupes > 0, "c19 redelivery plant is empty at the gate sf")
    // c20: the planted straggler set L must be nonempty AND removing it
    // must change q21's rollup — the hash gate then proves the stream
    // dropped exactly L
    val slice = ev.filter(col("event_id") % 97 === 17)
    val lateL = col("event_id") % 3 === 1 &&
      col("ts") < lit(java.sql.Timestamp.from(
        java.time.LocalDateTime.parse("2024-01-08T00:00:00")
          .toInstant(java.time.ZoneOffset.UTC)))
    assert(slice.filter(lateL).count() > 0,
      "c20 straggler plant is empty at the gate sf")
    def rollup(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(rollup(slice) !== rollup(slice.filter(!lateL)),
      "dropping L must change the hourly rollup (non-vacuity)")
  }

  test("c21 gate fixture is non-vacuous at sf0.01: pairs exist and at least one pair CROSSES the md5 batch split") {
    import spark.implicits._
    // the row grades cross-batch join state; if every matched pair's
    // click and purchase landed in the same micro-batch, intra-batch
    // joining would pass the hash gate without any state surviving a
    // batch boundary — recompute the row's exact md5 thirds and assert
    // a crossing pair exists
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.01")
      .filter(col("event_id") % 13 === 4)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def hx(id: Long): String =
      md.digest(s"c21_$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val order = ev.sortBy(e => hx(e._1)).map(_._1).zipWithIndex.toMap
    val third = math.max((ev.length + 2) / 3, 1)
    def batchOf(id: Long): Int = order(id) / third
    val clicks = ev.filter(_._4 == "click")
    val purchases = ev.filter(_._4 == "purchase")
    val pairs = for {
      p <- purchases
      c <- clicks
      if c._3 == p._3 && !c._2.after(p._2) &&
        p._2.getTime - c._2.getTime <= 72L * 3600 * 1000
    } yield (p._1, c._1)
    assert(pairs.nonEmpty, "c21 slice has no matched pairs at the gate sf")
    assert(pairs.exists { case (p, c) => batchOf(p) != batchOf(c) },
      "every matched pair is intra-batch: the replay never exercises " +
        "cross-batch join state — re-seed the md5 split")
    // c28 (the left-outer twin, same slice): UNMATCHED purchases must
    // exist, or the gate's null-emission path is vacuous and the outer
    // row would hash-pass as a plain inner join
    val matchedP = pairs.map(_._1).toSet
    assert(purchases.exists(p => !matchedP.contains(p._1)),
      "every purchase has a click in window: c28's null-credit path " +
        "is never exercised at the gate sf")
  }

  test("late-but-within-watermark event in a later batch widens session start") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions3")
      .outputMode("append").start()
    try {
      // batch 1: user 3 at 10:10 → watermark becomes 09:40
      in.addData(EventStreams.Event(1, ts("10:10"), 3, "click", 1.0))
      q.processAllAvailable()
      // batch 2: OUT-OF-ORDER event at 10:05 (after 09:40 watermark, before
      // the stored session start) must extend the session backwards, exactly
      // as the globally-sorted batch twin (q22) would place it
      in.addData(EventStreams.Event(2, ts("10:05"), 3, "view", 2.0))
      q.processAllAvailable()
      // flush: push the watermark far past 10:40 so the session closes
      in.addData(EventStreams.Event(9, ts("23:00"), 4, "click", 0.0))
      q.processAllAvailable()
      in.addData(EventStreams.Event(10, ts("23:59"), 4, "click", 0.0))
      q.processAllAvailable()
      val s = spark.table("sessions3").filter(col("user_id") === 3L).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4)))
      assert(s.toSeq === Seq(
        (3L, "2026-01-01 10:05:00.0", "2026-01-01 10:10:00.0", 2L, 3.0)))
    } finally q.stop()
  }

  test("hourlyRollup under late data: watermark-drop semantics vs batch twin") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val df = in.toDF().toDF("event_id", "ts", "event_type", "value")
    // APPEND mode — windows emit only once the 2 h watermark passes them,
    // which is what makes dropped-late-event semantics observable.
    val q = EventStreams.hourlyRollup(df)
      .writeStream.format("memory").queryName("late_rollup")
      .outputMode("append").start()
    try {
      // batch 1: 10:05/10:45 plus a 13:00 event → watermark becomes 11:00
      in.addData(
        (1L, ts("10:05"), "click", 1.0),
        (2L, ts("10:45"), "view", 4.0),
        (3L, ts("13:00"), "click", 2.0))
      q.processAllAvailable()
      // batch 2 straddles the watermark: 10:30 is BEHIND 11:00 (its hour
      // window is finalized → dropped); 12:30 is ahead (accepted)
      in.addData(
        (4L, ts("10:30"), "click", 100.0),
        (5L, ts("12:30"), "click", 3.0))
      q.processAllAvailable()
      // flush far forward so every real window closes
      in.addData((6L, Timestamp.valueOf("2026-01-02 06:00:00"), "flush", 0.0))
      q.processAllAvailable()
      in.addData((7L, Timestamp.valueOf("2026-01-02 12:00:00"), "flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("late_rollup")
        .filter(col("event_type") =!= "flush").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      // batch twin (q21 shape) over the NON-DROPPED subset: event 4 gone
      val expected = Seq(
        (1L, ts("10:05"), "click", 1.0),
        (2L, ts("10:45"), "view", 4.0),
        (3L, ts("13:00"), "click", 2.0),
        (5L, ts("12:30"), "click", 3.0))
        .toDF("event_id", "ts", "event_type", "value")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("straggler older than one gap emits as a closed singleton session") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    // widened watermark (2 h) against a 30 min gap — the only regime where
    // an admitted event can be more than a gap before the open session
    val q = EventStreams.sessionize(in.toDS(), gapMinutes = 30,
        watermarkMinutes = Some(120))
      .writeStream.format("memory").queryName("sessions4")
      .outputMode("append").start()
    try {
      // batch 1: user 5 at 12:00 → watermark 10:00
      in.addData(EventStreams.Event(1, ts("12:00"), 5, "click", 1.0))
      q.processAllAvailable()
      // batch 2: straggler at 10:30 — admitted (>= 10:00) but 90 min before
      // the open session's start: must NOT merge into it, and must NOT
      // displace it; emits alone
      in.addData(EventStreams.Event(2, ts("10:30"), 5, "view", 2.0))
      q.processAllAvailable()
      // flush: close the 12:00 session
      in.addData(EventStreams.Event(9, ts("20:00"), 6, "click", 0.0))
      q.processAllAvailable()
      in.addData(EventStreams.Event(10, ts("23:00"), 6, "click", 0.0))
      q.processAllAvailable()
      val s = spark.table("sessions4").filter(col("user_id") === 5L).collect()
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString,
          r.getLong(3), r.getDouble(4))).toSet
      assert(s === Set(
        ("2026-01-01 10:30:00.0", "2026-01-01 10:30:00.0", 1L, 2.0),
        ("2026-01-01 12:00:00.0", "2026-01-01 12:00:00.0", 1L, 1.0)))
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks across batches, bounds state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.purchaseAttribution(in.toDS())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      // batch 1: clicks only — buffered in join state
      in.addData(
        EventStreams.Event(1, ts("10:00"), 1, "click", 0.0),
        EventStreams.Event(2, ts("10:30"), 1, "click", 0.0),
        EventStreams.Event(3, ts("08:00"), 1, "click", 0.0), // > 1 h before
        EventStreams.Event(4, ts("10:20"), 2, "click", 0.0)) // other user
      q.processAllAvailable()
      // batch 2: the purchase arrives later — must still see batch-1 clicks
      in.addData(EventStreams.Event(5, ts("10:45"), 1, "purchase", 9.99))
      q.processAllAvailable()
      val got = spark.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(got === Set((1L, 5L, 1L), (1L, 5L, 2L)),
        "exactly the same-user clicks within the preceding hour")
    } finally q.stop()
  }

  test("left-outer attribution: null row held until the watermark closes the window, then emitted exactly once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    // 1 h window, 1 h watermark delay — emission timing is the contract
    val q = EventStreams.purchaseAttribution(in.toDS(),
        watermark = "1 hour", windowHours = 1, joinType = "left_outer")
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    // the timing assertions look only at purchases 10 and 12 — the
    // watermark-advancing traffic below adds its own (held) purchases
    def rows() = spark.table("attrib_outer").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .filter(t => t._1 == 10L || t._1 == 12L).toSeq.sorted
    try {
      // user 1: a matched pair in ONE batch; user 2: a purchase with
      // NO click in its window  (Event fields: event_id, ts, user_id)
      in.addData(
        EventStreams.Event(11, ts("09:50"), 1, "click", 0.0),
        EventStreams.Event(12, ts("10:10"), 1, "purchase", 7.0),
        EventStreams.Event(10, ts("10:00"), 2, "purchase", 5.0))
      q.processAllAvailable()
      // the matched pair emits eagerly; the unmatched purchase must NOT
      // — a click time-stamped 09:30 could still arrive (disorder)
      assert(rows() === Seq((12L, Some(11L))),
        "unmatched purchase emitted before its window closed / matched pair not eager")
      // advance BOTH watermark branches past 10:10 (the global
      // watermark is the MIN of the click- and purchase-side branches,
      // so clicks alone cannot move it): click+purchase at 12:30+
      // on non-pairing users → watermark 11:30; the held purchase's
      // null row flushes, exactly once
      in.addData(
        EventStreams.Event(13, ts("12:30"), 3, "click", 0.0),
        EventStreams.Event(14, ts("12:35"), 4, "purchase", 1.0))
      q.processAllAvailable()
      in.addData(
        EventStreams.Event(15, ts("12:50"), 3, "click", 0.0),
        EventStreams.Event(16, ts("12:55"), 4, "purchase", 1.0))
      q.processAllAvailable()
      assert(rows() === Seq((10L, None), (12L, Some(11L))),
        "watermark close must emit the null-credit row exactly once, " +
          "and never a null row for an already-matched purchase")
      // and a LATE click behind the closed window can no longer pair
      in.addData(EventStreams.Event(17, ts("09:59"), 2, "click", 0.0))
      q.processAllAvailable()
      assert(rows() === Seq((10L, None), (12L, Some(11L))),
        "a late click must not re-credit an already-closed purchase")
    } finally q.stop()
  }

  test("streaming attribution equals batch q34 on real events (flushed)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q34_event_attribution")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val events = graft.core.Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event].collect().toSeq
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.purchaseAttribution(in.toDS())
      .writeStream.format("memory").queryName("attrib_eq")
      .outputMode("append").start()
    try {
      in.addData(events)
      q.processAllAvailable()
      val streamed = spark.table("attrib_eq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("warehouse ingest: dedup inside the watermark, keyed upsert beyond it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = new graft.compendium.Warehouse(spark, tmpDir())
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.warehouseIngest(in.toDS(), wh, "events_ingested")
      .start()
    try {
      in.addData(
        EventStreams.Event(1, ts("10:00"), 1, "click", 1.0),
        EventStreams.Event(2, ts("10:05"), 1, "view", 2.0),
        EventStreams.Event(2, ts("10:05"), 1, "view", 2.0)) // in-batch dup
      q.processAllAvailable()
      // redelivery in a later batch, still inside the watermark → dedup
      in.addData(
        EventStreams.Event(1, ts("10:00"), 1, "click", 1.0),
        EventStreams.Event(3, ts("10:20"), 2, "click", 3.0))
      q.processAllAvailable()
      assert(wh.read("events_ingested").select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
      // replay BEYOND the watermark horizon: advance event time far, then
      // redeliver event 1 — dedup state is gone, but the keyed upsert
      // rewrites the same row instead of duplicating it
      in.addData(EventStreams.Event(9, ts("20:00"), 3, "click", 0.5))
      q.processAllAvailable()
      in.addData(EventStreams.Event(1, ts("10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = wh.read("events_ingested").collect()
      assert(rows.map(_.getAs[Long]("event_id")).sorted.toSeq ===
        Seq(1L, 2L, 3L, 9L), "replay beyond the watermark must not duplicate")
    } finally q.stop()
  }

  test("cdcApplyStream: streamed log-ordered batches equal the one-shot q49-style merge; tombstones and resurrection") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def seed(wh: graft.compendium.Warehouse): Unit =
      wh.replace("snapshot", Seq(
        (1L, 100L), (2L, 200L), (3L, 300L), (4L, 400L), (5L, 500L))
        .toDF("k", "cents"))
    val batch1 = Seq(
      EventStreams.CdcChange(1, 1, "U", 110), // update
      EventStreams.CdcChange(2, 1, "D", 0),   // tombstone
      EventStreams.CdcChange(7, 1, "I", 700), // insert new key
      EventStreams.CdcChange(3, 1, "U", 310), // out-of-order pair:
      EventStreams.CdcChange(3, 2, "D", 0))   //   seq 2 wins → deleted
    val batch2 = Seq(
      EventStreams.CdcChange(2, 3, "I", 250), // resurrect a tombstoned key
      EventStreams.CdcChange(1, 4, "D", 0),   // delete after update
      EventStreams.CdcChange(8, 1, "D", 0))   // delete of an absent key: no-op
    def snap(wh: graft.compendium.Warehouse): Seq[(Long, Long)] =
      wh.read("snapshot").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // streamed: two micro-batches in log order
    val whS = new graft.compendium.Warehouse(spark, tmpDir())
    seed(whS)
    val in = MemoryStream[EventStreams.CdcChange]
    val q = EventStreams.cdcApplyStream(in.toDS(), whS, "snapshot").start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    // one-shot: the union resolved globally
    val wh1 = new graft.compendium.Warehouse(spark, tmpDir())
    seed(wh1)
    wh1.applyCdc("snapshot", (batch1 ++ batch2).toDF(), "k", "seq", "op")
    assert(snap(whS) === snap(wh1),
      "streamed apply must equal the one-shot global merge")
    assert(snap(whS) === Seq((2L, 250L), (4L, 400L), (5L, 500L), (7L, 700L)),
      "tombstones drop, resurrection re-inserts, untouched keys survive")
  }

  test("ivmStream: view equals full recompute after every batch; FK moves, group drops, epoch replay") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = new graft.compendium.Warehouse(spark, tmpDir())
    // base: ck 10 has keys {1, 2}, ck 20 has {3}, ck 30 has {4}
    wh.replace("ivm_base", Seq(
      (1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 300L), (4L, 30L, 400L))
      .toDF("k", "ck", "cents"))
    wh.replace("ivm_view", Seq((10L, 2L, 300L), (20L, 1L, 300L),
      (30L, 1L, 400L)).toDF("ck", "n", "cents_total"))
    def recompute(): Set[(Long, Long, Long)] =
      wh.read("ivm_base").groupBy("ck")
        .agg(org.apache.spark.sql.functions.count("*").as("n"),
          org.apache.spark.sql.functions.sum("cents").as("cents_total"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def view(): Set[(Long, Long, Long)] =
      wh.read("ivm_view").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val in = MemoryStream[EventStreams.CdcViewChange]
    val q = EventStreams.ivmStream(in.toDS(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"))
      .start()
    val qid = q.id.toString
    try {
      // batch 1: in-place update, FK MOVE (k=3 from ck 20 to ck 10 —
      // ck 20 empties and must DROP), fresh insert into a new ck
      in.addData(
        EventStreams.CdcViewChange(1, 1, "U", 10, 150),
        EventStreams.CdcViewChange(3, 1, "U", 10, 310),
        EventStreams.CdcViewChange(9, 1, "I", 40, 900))
      q.processAllAvailable()
      assert(view() === recompute(), "batch 1: IVM must equal recompute")
      assert(!view().exists(_._1 == 20L), "emptied group must drop")
      // batch 2: delete (ck 30 empties), out-of-order pair resolves to D
      in.addData(
        EventStreams.CdcViewChange(4, 2, "D", 0, 0),
        EventStreams.CdcViewChange(9, 3, "D", 0, 0),
        EventStreams.CdcViewChange(9, 2, "U", 40, 950))
      q.processAllAvailable()
      assert(view() === recompute(), "batch 2: IVM must equal recompute")
      assert(view() === Set((10L, 3L, 660L)))
    } finally q.stop()
    // epoch replay: re-applying an already-applied epoch OF THE SAME
    // QUERY is a no-op (restart from the same checkpoint re-delivers
    // the in-flight batch under the same query id and epoch)
    val before = view()
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(1, 5, "D", 0, 0)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 0L, queryId = qid)
    assert(view() === before, "stale epoch must skip (no double-apply)")
  }

  test("ivmStream: restart from the SAME checkpoint keeps the query id; post-restart batches apply against the surviving marker") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = new graft.compendium.Warehouse(spark, tmpDir())
    wh.replace("ivm_base", Seq((1L, 10L, 100L)).toDF("k", "ck", "cents"))
    wh.replace("ivm_view", Seq((10L, 1L, 100L)).toDF("ck", "n", "cents_total"))
    def view(): Set[(Long, Long, Long)] =
      wh.read("ivm_view").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def recompute(): Set[(Long, Long, Long)] =
      wh.read("ivm_base").groupBy("ck")
        .agg(org.apache.spark.sql.functions.count("*").as("n"),
          org.apache.spark.sql.functions.sum("cents").as("cents_total"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ckpt = tmpDir()
    val in = MemoryStream[EventStreams.CdcViewChange]
    def start() =
      EventStreams.ivmStream(in.toDS(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"))
        .option("checkpointLocation", ckpt).start()
    val q1 = start()
    val id1 = q1.id
    in.addData(EventStreams.CdcViewChange(2, 1, "I", 10, 200))
    q1.processAllAvailable()
    q1.stop()
    assert(view() === Set((10L, 2L, 300L)))
    // restart FROM THE SAME CHECKPOINT: StreamingQuery.id (what the
    // marker scopes on) must survive, so the marker written by the
    // first incarnation still guards replays, and the restarted query's
    // NEXT epoch (1 > 0) applies normally
    val q2 = start()
    try {
      assert(q2.id === id1,
        "same checkpoint must resume under the same query id — the marker's scope")
      in.addData(EventStreams.CdcViewChange(3, 1, "I", 20, 700))
      q2.processAllAvailable()
      assert(view() === recompute(),
        "post-restart batch must apply against the surviving marker")
      assert(view() === Set((10L, 2L, 300L), (20L, 1L, 700L)))
    } finally q2.stop()
  }

  test("ivmStream: restart with a FRESH checkpoint (new query id, epochs from 0) applies, never skips") {
    import spark.implicits._
    val wh = new graft.compendium.Warehouse(spark, tmpDir())
    wh.replace("ivm_base", Seq((1L, 10L, 100L)).toDF("k", "ck", "cents"))
    wh.replace("ivm_view", Seq((10L, 1L, 100L)).toDF("ck", "n", "cents_total"))
    def view(): Set[(Long, Long, Long)] =
      wh.read("ivm_view").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // query A ran up to epoch 5
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(2, 1, "I", 10, 200)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 5L, queryId = "query-A")
    assert(view() === Set((10L, 2L, 300L)))
    // checkpoint re-created: query B restarts the epoch counter at 0.
    // An epoch-only marker would skip this batch (0 <= 5) — unbounded
    // silent data loss; the (query_id, epoch) marker must apply it.
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(3, 1, "I", 20, 700)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 0L, queryId = "query-B")
    assert(view() === Set((10L, 2L, 300L), (20L, 1L, 700L)),
      "a new query id's epoch 0 is new work, not a replay")
    // and query B's OWN replay of epoch 0 still skips
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(3, 2, "D", 0, 0)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 0L, queryId = "query-B")
    assert(view() === Set((10L, 2L, 300L), (20L, 1L, 700L)),
      "same query id + stale epoch must still skip")
    // ZOMBIE lineage: query A's driver resurfaces AFTER B's takeover and
    // redelivers its already-applied epoch 5 — with a single
    // latest-writer marker row, B's commit would have erased A's guard
    // and the ADDITIVE delta would re-apply (view/base divergence); the
    // per-lineage map must still refuse it
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(2, 1, "I", 10, 200)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 5L, queryId = "query-A")
    assert(view() === Set((10L, 2L, 300L), (20L, 1L, 700L)),
      "a zombie lineage's redelivered epoch re-applied after takeover")
  }

  test("ivmStream: a floor-only SKIP rescopes a legacy epoch-only marker so later fresh lineages apply") {
    import spark.implicits._
    val wh = new graft.compendium.Warehouse(spark, tmpDir())
    wh.replace("ivm_base", Seq((1L, 10L, 100L)).toDF("k", "ck", "cents"))
    wh.replace("ivm_view", Seq((10L, 1L, 100L)).toDF("ck", "n", "cents_total"))
    // a LEGACY epoch-only marker (pre-lineage schema): "epoch 5 applied"
    wh.replace("ivm_view__epoch", Seq(5L).toDF("epoch"))
    def view(): Set[(Long, Long, Long)] =
      wh.read("ivm_view").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the resuming lineage redelivers epoch 3 <= floor: must SKIP (it is
    // a replay under legacy semantics) — and the skip itself must
    // rewrite the marker in the new schema with the floor scoped to the
    // skipper, because no marker write ever follows a skip
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(9, 1, "I", 99, 999)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 3L, queryId = "resumer")
    assert(view() === Set((10L, 1L, 100L)), "floor skip must not apply")
    val marker = wh.read("ivm_view__epoch")
    assert(marker.columns.contains("query_id"),
      "a floor-only skip must migrate the legacy marker to the lineage-scoped schema")
    assert(marker.collect().map(r =>
        (r.getAs[String]("query_id"), r.getAs[Long]("epoch"))).toSet ===
      Set(("resumer", 5L)),
      "the floor must be re-scoped to the skipping lineage at its legacy value")
    // a FRESH lineage's epoch 0 now applies — with the un-migrated floor
    // persisting, every epoch <= 5 here was silently dropped (the CDC
    // loss the rescope closes)
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(2, 1, "I", 20, 700)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 0L, queryId = "fresh")
    assert(view() === Set((10L, 1L, 100L), (20L, 1L, 700L)),
      "a fresh lineage's epoch 0 must apply after the floor is scoped away")
    // and the resumer's guard survived the rescope: its epoch 5 replay
    // still refuses
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(9, 1, "I", 99, 999)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 5L, queryId = "resumer")
    assert(view() === Set((10L, 1L, 100L), (20L, 1L, 700L)),
      "the rescoped floor must still guard the resuming lineage's replays")
  }

  test("ivmStream: absent view over a pre-existing base bootstraps from a full recompute") {
    import spark.implicits._
    val wh = new graft.compendium.Warehouse(spark, tmpDir())
    // populated base, NO view table — the first-attach scenario; deltas
    // onto readOrEmpty's empty frame would lose every pre-existing key
    wh.replace("ivm_base", Seq(
      (1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 300L))
      .toDF("k", "ck", "cents"))
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(4, 1, "I", 20, 50)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 0L, queryId = "boot")
    val got = wh.read("ivm_view").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = wh.read("ivm_base").groupBy("ck")
      .agg(org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.sum("cents").as("cents_total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, "bootstrapped view must equal the full recompute")
    assert(got === Set((10L, 2L, 300L), (20L, 2L, 350L)))
  }

  test("ivmStream: duplicate-(k,seq) ties resolve identically in the view delta and the base merge") {
    import spark.implicits._
    val wh = new graft.compendium.Warehouse(spark, tmpDir())
    wh.replace("ivm_base", Seq((1L, 10L, 100L)).toDF("k", "ck", "cents"))
    wh.replace("ivm_view", Seq((10L, 1L, 100L)).toDF("ck", "n", "cents_total"))
    // two rows with the SAME (k, seq) but different payloads: without a
    // shared total-order tiebreak, the view delta and Warehouse.applyCdc
    // could each keep a different row and the view silently diverges
    EventStreams.applyIvmBatch(
      Seq(EventStreams.CdcViewChange(1, 7, "U", 20, 500),
        EventStreams.CdcViewChange(1, 7, "U", 30, 111)).toDF(),
      IvmStore.Warehouse(wh, "ivm_base", "ivm_view"), epoch = 0L, queryId = "ties")
    val got = wh.read("ivm_view").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = wh.read("ivm_base").groupBy("ck")
      .agg(org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.sum("cents").as("cents_total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want,
      "view after a tied batch must equal the recompute of the merged base")
  }

  test("in-session gap splits into two sessions on the same user") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions2")
      .outputMode("append").start()
    try {
      // two bursts 2 h apart arriving in ONE batch: the first closes
      // immediately (in-batch gap), no timeout needed
      in.addData(
        EventStreams.Event(1, ts("09:00"), 7, "click", 1.0),
        EventStreams.Event(2, ts("09:05"), 7, "click", 1.0),
        EventStreams.Event(3, ts("11:00"), 7, "view", 4.0))
      q.processAllAvailable()
      val s = spark.table("sessions2").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3)))
      assert(s.toSeq === Seq((7L, "2026-01-01 09:00:00.0", 2L)))
    } finally q.stop()
  }

  test("batch SCD2 (q38) closed intervals equal streaming scd2Stream across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q38_scd2_build")(spark, d).collect()
    val batchClosed = batch.filter(!_.isNullAt(4))
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    val batchCurrent = batch.filter(_.isNullAt(4))
      .map(r => (r.getLong(0), r.getInt(1))).toMap

    // two batches split on the median timestamp: per-user event-time
    // order holds across the boundary, which is the twin's exactness
    // contract — open intervals must carry over as state and close
    // against second-batch changes
    // feed in the SAME full-precision order the query and its batch twin
    // use: getTime truncates to milliseconds, so two same-millisecond
    // events could otherwise cross the batch split in an order the
    // straggler guard drops
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val events = graft.core.Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event].collect().sortBy(e => (micros(e.ts), e.event_id))
    val (first, second) = events.splitAt(events.length / 2)
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.scd2Stream(in.toDS())
      .writeStream.format("memory").queryName("scd2")
      .outputMode("append").start()
    try {
      in.addData(first.toSeq)
      q.processAllAvailable()
      val afterFirst = spark.table("scd2").count()
      in.addData(second.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("scd2").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getTimestamp(3), r.getTimestamp(4))).toSet
      assert(streamed === batchClosed,
        "streamed closed intervals must equal the batch twin's valid_to IS NOT NULL rows")
      assert(afterFirst > 0 && afterFirst < streamed.size,
        "the split must exercise both in-batch and cross-batch closes")
      // every user's open interval stayed in state: exactly one batch
      // current-row per user, versioned one past the last streamed close
      val lastStreamed = streamed.groupBy(_._1).map { case (u, g) =>
        u -> g.map(_._2).max
      }
      batchCurrent.foreach { case (u, v) =>
        assert(v === lastStreamed.getOrElse(u, 0) + 1,
          s"user $u: current version $v must extend the streamed history")
      }
    } finally q.stop()
  }

  test("scd2Stream drops a straggler behind the committed frontier (append-only)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.scd2Stream(in.toDS())
      .writeStream.format("memory").queryName("scd2_late")
      .outputMode("append").start()
    try {
      // batch 1: A@09:00 and A@09:30 — same type, no close, but the
      // frontier advances to 09:30
      in.addData(
        EventStreams.Event(1, ts("09:00"), 5, "A", 0.0),
        EventStreams.Event(2, ts("09:30"), 5, "A", 0.0))
      q.processAllAvailable()
      // batch 2: late B@09:15 — between two already-folded events; a
      // batch replay would produce A[09:00,09:15) B[09:15,09:30)
      // A[09:30,…), i.e. rewrite history. Append-only drops it instead
      // of fabricating a DIFFERENT history (the old valid_from-based
      // guard accepted it and emitted A[09:00,09:15) B[09:15,…)).
      in.addData(EventStreams.Event(3, ts("09:15"), 5, "B", 0.0))
      q.processAllAvailable()
      assert(spark.table("scd2_late").count() === 0,
        "no interval may close off a straggler behind the frontier")
      // an in-order change still closes normally afterwards
      in.addData(EventStreams.Event(4, ts("10:00"), 5, "C", 0.0))
      q.processAllAvailable()
      val rows = spark.table("scd2_late").collect()
        .map(r => (r.getInt(1), r.getString(2),
          r.getTimestamp(3).toString, r.getTimestamp(4).toString))
      assert(rows.toSeq === Seq(
        (1, "A", "2026-01-01 09:00:00.0", "2026-01-01 10:00:00.0")))
    } finally q.stop()
  }

  test("transitionStream rollup equals batch q43 minus exits on shuffled replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    // batch answer minus the absorbing 'exit' rows — the documented
    // stream contract (a stream cannot know an event is a user's last)
    val batch = graft.SparkEntry.queries("q43_event_transitions")(spark, d)
      .filter(col("next_type") =!= "exit").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val events = graft.core.Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event].collect().toSeq
    // SHUFFLED replay across three batches: watermark-ordered emission,
    // not arrival order, must reconstruct every within-user chain. The
    // allowance out-spans the replay disorder so nothing is late-dropped
    // (the late-drop contract is hourlyRollup's, tested there).
    val shuffled = new scala.util.Random(7L).shuffle(events)
    val third = shuffled.length / 3
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.transitionStream(in.toDS(), allowance = "3650 days")
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    try {
      val lastTs = events.map(_.ts.getTime).max
      in.addData(shuffled.take(third))
      q.processAllAvailable()
      in.addData(shuffled.slice(third, 2 * third))
      q.processAllAvailable()
      in.addData(shuffled.drop(2 * third))
      q.processAllAvailable()
      // two far-future fillers on their own users: the first advances
      // the watermark past every real event + allowance, the second
      // triggers the batch in which the armed timeouts settle the tails
      in.addData(EventStreams.Event(-1L, new java.sql.Timestamp(
        lastTs + 4000L * 24 * 3600 * 1000), -998L, "flush", 0.0))
      q.processAllAvailable()
      in.addData(EventStreams.Event(-2L, new java.sql.Timestamp(
        lastTs + 4001L * 24 * 3600 * 1000), -999L, "flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("transitions")
        .filter(col("user_id") >= 0)
        .groupBy("event_type", "next_type").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed === batch,
        "streamed transition rollup must equal the batch matrix minus exits")
    } finally q.stop()
  }

  test("attributionDecayStream equals batch q42 row-for-row on shuffled replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q42_multi_touch")(spark, d)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)) ->
        (r.getLong(0), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(batch.nonEmpty, "sf0.001 must contain attributable purchases")

    val events = graft.core.Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event].collect().toSeq
    // shuffled three-batch replay: purchases must wait for the watermark
    // before crediting, so clicks arriving in LATER batches than their
    // purchase still land in its window
    val shuffled = new scala.util.Random(11L).shuffle(events)
    val third = shuffled.length / 3
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.attributionDecayStream(in.toDS(), allowance = "3650 days")
      .writeStream.format("memory").queryName("touch_credits")
      .outputMode("append").start()
    try {
      val lastTs = events.map(_.ts.getTime).max
      in.addData(shuffled.take(third))
      q.processAllAvailable()
      in.addData(shuffled.slice(third, 2 * third))
      q.processAllAvailable()
      in.addData(shuffled.drop(2 * third))
      q.processAllAvailable()
      in.addData(EventStreams.Event(-1L, new java.sql.Timestamp(
        lastTs + 4000L * 24 * 3600 * 1000), -998L, "flush", 0.0))
      q.processAllAvailable()
      in.addData(EventStreams.Event(-2L, new java.sql.Timestamp(
        lastTs + 4001L * 24 * 3600 * 1000), -999L, "flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("touch_credits")
        .filter(col("user_id") >= 0).collect()
        .map(r => (r.getLong(1), r.getLong(2)) ->
          (r.getLong(0), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6))).toMap
      assert(streamed.size === spark.table("touch_credits")
          .filter(col("user_id") >= 0).count(),
        "append-mode credits must be emitted exactly once per (purchase, click)")
      assert(streamed === batch,
        "streamed credits must equal batch q42 bit-for-bit (exact weights, one IEEE division)")
    } finally q.stop()
  }

  test("attributionDecayStream honors microsecond window edges and reaps click-only state") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    def tsMicros(ms: Long, extraMicros: Int): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(ms)
      t.setNanos(extraMicros * 1000)
      t
    }
    val W = 24L * 3600 * 1000 // attribution window, ms
    val base = java.sql.Timestamp.valueOf("2026-03-01 12:00:00").getTime
    val events = Seq(
      // purchase at base ms + 500µs
      EventStreams.Event(10L, tsMicros(base, 500), 1L, "purchase", 100.0),
      // same-millisecond boundary pair: 1µs BEFORE the purchase is
      // credited at hours 0; 1µs AFTER must not be (batch joins at
      // full Timestamp precision — a ms-floored compare gets both
      // wrong-way cases)
      EventStreams.Event(11L, tsMicros(base, 499), 1L, "click", 0.0),
      EventStreams.Event(12L, tsMicros(base, 501), 1L, "click", 0.0),
      // lower edge: exactly at purchase − 24h is excluded (strict >),
      // 1µs inside is credited at hours 24
      EventStreams.Event(13L, tsMicros(base - W, 500), 1L, "click", 0.0),
      EventStreams.Event(14L, tsMicros(base - W, 501), 1L, "click", 0.0),
      // a click-only user: state must be reaped once the window passes
      EventStreams.Event(20L, tsMicros(base, 0), 2L, "click", 0.0))
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.attributionDecayStream(in.toDS(), allowance = "1 hour")
      .writeStream.format("memory").queryName("micro_credits")
      .outputMode("append").start()
    try {
      in.addData(events)
      q.processAllAvailable()
      in.addData(EventStreams.Event(-1L, new java.sql.Timestamp(
        base + 4L * W), -998L, "flush", 0.0))
      q.processAllAvailable()
      in.addData(EventStreams.Event(-2L, new java.sql.Timestamp(
        base + 5L * W), -999L, "flush", 0.0))
      q.processAllAvailable()
      val rows = spark.table("micro_credits").collect()
        .map(r => r.getLong(2) -> (r.getLong(3), r.getLong(4))).toMap
      assert(rows.keySet === Set(11L, 14L),
        s"exactly the strictly-inside clicks are credited, got ${rows.keySet}")
      assert(rows(11L) === ((0L, 1L << 30)), "same-ms earlier click: hours 0")
      assert(rows(14L) === ((24L, 1L << 6)), "1µs inside the 24h edge: hours 24")
      // every user's state is gone: the purchase settled, user 2's
      // lone click aged out via its self-armed timeout
      val lastState = q.recentProgress.reverse
        .flatMap(_.stateOperators.headOption).headOption
      assert(lastState.exists(_.numRowsTotal == 0L),
        s"state store must be empty after the window passes, got ${lastState.map(_.numRowsTotal)}")
    } finally q.stop()
  }

  test("retentionStream rollup equals batch q40 on shuffled replay, exactly once per user-month") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q40_cohort_retention")(spark, d)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty)

    val events = graft.core.Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event].collect().toSeq
    // shuffled replay: a user's earliest month may arrive LAST — the
    // freeze rule must hold every offset back until the cohort is safe
    val shuffled = new scala.util.Random(13L).shuffle(events)
    val third = shuffled.length / 3
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.retentionStream(in.toDS(), allowance = "3650 days")
      .writeStream.format("memory").queryName("cohort_activity")
      .outputMode("append").start()
    try {
      val lastTs = events.map(_.ts.getTime).max
      in.addData(shuffled.take(third))
      q.processAllAvailable()
      in.addData(shuffled.slice(third, 2 * third))
      q.processAllAvailable()
      in.addData(shuffled.drop(2 * third))
      q.processAllAvailable()
      in.addData(EventStreams.Event(-1L, new java.sql.Timestamp(
        lastTs + 4000L * 24 * 3600 * 1000), -998L, "flush", 0.0))
      q.processAllAvailable()
      in.addData(EventStreams.Event(-2L, new java.sql.Timestamp(
        lastTs + 4001L * 24 * 3600 * 1000), -999L, "flush", 0.0))
      q.processAllAvailable()
      val rows = spark.table("cohort_activity").filter(col("user_id") >= 0)
      assert(rows.count() ===
          rows.select("user_id", "cohort_month", "month_offset").distinct().count(),
        "each (user, month) must emit exactly once")
      val streamed = rows
        .groupBy("cohort_month", "month_offset")
        .agg(count_distinct(col("user_id")).as("n_users")).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed === batch,
        "streamed cohort grid must equal batch q40")
    } finally q.stop()
  }

  test("retention demote/rehydrate: sidecar-seeded restart equals the continuous run; unseeded diverges") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ev(id: Long, uid: Long, t: String) = EventStreams.Event(
      id, java.sql.Timestamp.valueOf(t), uid, "view", 1.0)
    // u1/u4 span both phases (the rehydration case), u2 is settled-idle,
    // u3 is new in phase 2
    val batch1 = Seq(
      ev(1, 1, "2024-01-15 10:00:00"), ev(2, 1, "2024-02-20 09:00:00"),
      ev(3, 2, "2024-03-05 12:00:00"),
      ev(4, 4, "2024-01-03 08:00:00"), ev(5, 4, "2024-06-28 23:00:00"))
    val batch2 = Seq(
      ev(6, 1, "2024-09-10 11:00:00"),
      ev(7, 3, "2024-09-01 07:00:00"), ev(8, 3, "2024-10-30 19:00:00"),
      ev(9, 4, "2024-12-24 18:00:00"))
    val flush1 = ev(-1, -998, "2024-07-15 00:00:00")
    val flush2 = ev(-2, -999, "2025-06-01 00:00:00")
    def rowsOf(table: String) = spark.table(table)
      .filter(col("user_id") >= 0).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

    // continuous reference: both batches through one query
    val inC = MemoryStream[EventStreams.Event]
    val qC = EventStreams.retentionStream(inC.toDS(), "1 day")
      .writeStream.format("memory").queryName("ret_cont")
      .outputMode("append").start()
    val cont = try {
      val rnd = new scala.util.Random(5L)
      inC.addData(rnd.shuffle(batch1)); qC.processAllAvailable()
      inC.addData(flush1); qC.processAllAvailable()
      inC.addData(rnd.shuffle(batch2)); qC.processAllAvailable()
      inC.addData(flush2); qC.processAllAvailable()
      rowsOf("ret_cont")
    } finally qC.stop()

    // phase 1: run, settle, DEMOTE (query stops; state dies with it)
    val in1 = MemoryStream[EventStreams.Event]
    val q1 = EventStreams.retentionStream(in1.toDS(), "1 day")
      .writeStream.format("memory").queryName("ret_p1")
      .outputMode("append").start()
    val r1 = try {
      in1.addData(new scala.util.Random(6L).shuffle(batch1))
      q1.processAllAvailable()
      in1.addData(flush1); q1.processAllAvailable()
      rowsOf("ret_p1")
    } finally q1.stop()

    // the warehouse sidecar is exactly the emitted rows; rehydrate
    val sidecar = r1.toSeq
      .map { case (u, c, o) => EventStreams.CohortActivity(u, c, o) }
      .toDS()
    val in2 = MemoryStream[EventStreams.Event]
    val q2 = EventStreams.retentionStream(in2.toDS(), "1 day",
        EventStreams.retentionStateFrom(sidecar))
      .writeStream.format("memory").queryName("ret_p2")
      .outputMode("append").start()
    val r2 = try {
      in2.addData(new scala.util.Random(7L).shuffle(batch2))
      q2.processAllAvailable()
      in2.addData(flush2); q2.processAllAvailable()
      rowsOf("ret_p2")
    } finally q2.stop()

    assert(r1.intersect(r2).isEmpty, "rehydration must not re-emit settled months")
    assert(r1.union(r2) === cont, "two-phase demote/rehydrate must equal the continuous run")
    // the load-bearing row: u1's September offset counts from the
    // JANUARY cohort only because the state was rehydrated
    val jan = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    assert(r2.contains((1L, jan, 8L)))

    // negative control: an UNSEEDED restart re-bases returning users
    val in3 = MemoryStream[EventStreams.Event]
    val q3 = EventStreams.retentionStream(in3.toDS(), "1 day")
      .writeStream.format("memory").queryName("ret_p2_unseeded")
      .outputMode("append").start()
    val r3 = try {
      in3.addData(batch2); q3.processAllAvailable()
      in3.addData(flush2); q3.processAllAvailable()
      rowsOf("ret_p2_unseeded")
    } finally q3.stop()
    val sep = java.sql.Timestamp.valueOf("2024-09-01 00:00:00")
    assert(r3.contains((1L, sep, 0L)) && !(r1.union(r3) === cont),
      "without rehydration the returning user's cohort re-bases — the divergence demote/rehydrate exists to prevent")
  }

  test("retentionStream month boundaries follow the session timezone, not UTC") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // 2024-03-01T02:00:00Z is still 2024-02-29 21:00 in America/New_York:
    // the cohort month must be February there, March in a UTC session.
    val tricky = new java.sql.Timestamp(
      java.time.Instant.parse("2024-03-01T02:00:00Z").toEpochMilli)
    val prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val in = MemoryStream[EventStreams.Event]
      // zoneId captured at plan-build time — build INSIDE the NY session
      val q = EventStreams.retentionStream(in.toDS(), allowance = "1 day")
        .writeStream.format("memory").queryName("cohort_tz")
        .outputMode("append").start()
      try {
        in.addData(EventStreams.Event(1L, tricky, 7L, "view", 0.0))
        q.processAllAvailable()
        in.addData(EventStreams.Event(2L, new java.sql.Timestamp(
          tricky.getTime + 90L * 24 * 3600 * 1000), -999L, "flush", 0.0))
        q.processAllAvailable()
        val got = spark.table("cohort_tz")
          .filter(col("user_id") === 7L).collect()
        assert(got.length === 1)
        val cohort = got.head.getTimestamp(
          got.head.fieldIndex("cohort_month"))
        // batch twin's definition of the same boundary, same session tz
        // (timestamp_millis is tz-agnostic: avoids a literal whose parse
        // would itself depend on the session timezone)
        val expected = spark.sql(
          s"SELECT date_trunc('month', timestamp_millis(${tricky.getTime}))")
          .collect().head.getTimestamp(0)
        assert(cohort === expected,
          s"cohort must be the session-tz month start, got $cohort")
        val ld = cohort.toInstant
          .atZone(java.time.ZoneId.of("America/New_York")).toLocalDate
        assert(ld.getMonthValue === 2 && ld.getDayOfMonth === 1,
          s"in a NY session the cohort month is February, got $ld")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }
}
