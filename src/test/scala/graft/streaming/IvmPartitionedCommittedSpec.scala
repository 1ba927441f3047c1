package graft.streaming

import graft.SparkTestBase
import graft.compendium.{ManifestCommit, Warehouse}
import org.apache.spark.sql.functions._

/** The IVM epoch over a 16-bucket IvmStore.ManifestCommit — the fact-scale path with the
  * transactional flip. Pins the composition's four claims at once:
  * epoch results equal the flat path's (shared algebra), per-epoch
  * writes stay partition-pruned (untouched partition directories are
  * byte-identical across epochs — same files, same mtimes), a reader's
  * held manifest resolution never mixes epochs (the partitioned form's
  * view-then-base torn window, closed), and a rewritten partition's
  * superseded directory is GC'd once past the retain horizon even
  * while its staging parent still hosts live carried-forward
  * partitions.
  */
class IvmPartitionedCommittedSpec extends SparkTestBase {
  import spark.implicits._

  private val B = 16

  private def batchDF(rows: Seq[(Long, Long, String, Long, Long)]) =
    rows.toDF("k", "seq", "op", "ck", "cents")

  private def viewRows(df: org.apache.spark.sql.DataFrame) =
    df.select("ck", "n", "cents_total").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

  private def recomputeOf(base: org.apache.spark.sql.DataFrame) =
    viewRows(base.groupBy("ck")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_total")))

  /** 64 keys across all 16 pk buckets; ck = k mod 8 spreads the view. */
  private val seed = (0L until 64L).map(k => (k, 0L, "I", k % 8, k * 10))

  private val epochs = Seq(
    Seq((3L, 1L, "U", 5L, 999L), (70L, 1L, "I", 2L, 777L)),
    Seq((3L, 2L, "D", 5L, 0L), (19L, 1L, "U", 7L, 123L)),
    Seq((70L, 2L, "U", 2L, 778L)))

  test("epoch by epoch: view == recompute(base) through ONE manifest; equal to the flat path") {
    val mc = new ManifestCommit(spark, tmpDir())
    val whF = new Warehouse(spark, tmpDir())
    EventStreams.applyIvmBatch(batchDF(seed), IvmStore.ManifestCommit(mc,
      "base", "view", B), epoch = 0L, queryId = "q")
    EventStreams.applyIvmBatch(batchDF(seed), IvmStore.Warehouse(whF, "base", "view"),
      epoch = 0L, queryId = "q")
    epochs.zipWithIndex.foreach { case (rows, i) =>
      EventStreams.applyIvmBatch(batchDF(rows), IvmStore.ManifestCommit(mc,
        "base", "view", B), epoch = i + 1L, queryId = "q")
      EventStreams.applyIvmBatch(batchDF(rows), IvmStore.Warehouse(whF, "base", "view"),
        epoch = i + 1L, queryId = "q")
      val snap = mc.current()
      val view = mc.readPartitionedAt(snap, "view").get
      val base = mc.readPartitionedAt(snap, "base").get
      assert(viewRows(view) === recomputeOf(base),
        s"epoch ${i + 1}: view must equal the base recompute in one snapshot")
      assert(viewRows(view) === viewRows(whF.read("view")),
        s"epoch ${i + 1}: committed-partitioned path must equal the flat path")
    }
  }

  test("an epoch touching k buckets leaves every untouched partition's directory byte-identical (same files, same mtimes)") {
    val root = tmpDir()
    val mc = new ManifestCommit(spark, root)
    EventStreams.applyIvmBatch(batchDF(seed), IvmStore.ManifestCommit(mc,
      "base", "view", B), epoch = 0L, queryId = "q")
    val before = mc.current()
    def files(manifest: Map[String, String], key: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$root/${manifest(key)}")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_"))
          b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result().sortBy(_._1)
    }
    // epoch 1 touches k=3 (pk 3) and k=70 (pk 6); its view delta spans
    // ck 3 (k=3's OLD group decrements), ck 5 (its new group) and ck 2
    EventStreams.applyIvmBatch(batchDF(epochs.head),
      IvmStore.ManifestCommit(mc, "base", "view", B), epoch = 1L, queryId = "q")
    val after = mc.current()
    val touchedBase = Set("base/pk=3", "base/pk=6")
    val touchedView = Set("view/pck=3", "view/pck=5", "view/pck=2")
    // every untouched entry maps to the SAME directory with the SAME
    // files — carried forward, not rewritten
    mc.partitionKeys(before, "base").filterNot(touchedBase).foreach { k =>
      assert(before(k) === after(k), s"$k remapped by an epoch that never touched it")
      assert(files(before, k) === files(after, k), s"$k files changed")
    }
    mc.partitionKeys(before, "view").filterNot(touchedView).foreach { k =>
      assert(before(k) === after(k), s"$k remapped by an epoch that never touched it")
      assert(files(before, k) === files(after, k), s"$k files changed")
    }
    // and the touched entries DID move to fresh staged directories,
    // each holding ONE data file (the staged write clusters by the
    // partition column — unclustered it would spray tasks × dirs files)
    touchedBase.foreach(k => assert(before(k) !== after(k), s"$k not rewritten"))
    (touchedBase ++ touchedView).filter(after.contains).foreach { k =>
      assert(files(after, k).size === 1,
        s"$k staged ${files(after, k).size} files — the write is unclustered")
    }
  }

  test("a reader's held resolution never mixes epochs — the partitioned form's torn window, closed") {
    val mc = new ManifestCommit(spark, tmpDir())
    EventStreams.applyIvmBatch(batchDF(seed), IvmStore.ManifestCommit(mc,
      "base", "view", B), epoch = 0L, queryId = "q")
    // reader resolves, then the writer commits an epoch between the
    // reader's view read and its base read — with per-table overwrites
    // this is exactly the new-view/old-base interleaving
    val snap = mc.current()
    val viewBefore = viewRows(mc.readPartitionedAt(snap, "view").get)
    EventStreams.applyIvmBatch(batchDF(epochs.head),
      IvmStore.ManifestCommit(mc, "base", "view", B), epoch = 1L, queryId = "q")
    assert(viewBefore === recomputeOf(mc.readPartitionedAt(snap, "base").get),
      "the held snapshot must pair the pre-epoch view with the pre-epoch base")
    val fresh = mc.current()
    assert(viewRows(mc.readPartitionedAt(fresh, "view").get)
      === recomputeOf(mc.readPartitionedAt(fresh, "base").get))
  }

  test("a batch that empties a view partition sweeps its manifest entry (no group resurrection)") {
    val mc = new ManifestCommit(spark, tmpDir())
    // ck 5 lives only in pck 5 via keys 5, 13, ...: seed then delete ALL
    // its members so the partition empties
    val tiny = Seq((5L, 0L, "I", 5L, 50L), (13L, 0L, "I", 5L, 130L),
      (2L, 0L, "I", 2L, 20L))
    EventStreams.applyIvmBatch(batchDF(tiny), IvmStore.ManifestCommit(mc,
      "base", "view", B), epoch = 0L, queryId = "q")
    assert(mc.partitionKeys(mc.current(), "view").contains("view/pck=5"))
    EventStreams.applyIvmBatch(
      batchDF(Seq((5L, 1L, "D", 0L, 0L), (13L, 1L, "D", 0L, 0L))), IvmStore.ManifestCommit(mc,
      "base", "view", B), epoch = 1L, queryId = "q")
    val cur = mc.current()
    assert(!mc.partitionKeys(cur, "view").contains("view/pck=5"),
      "an emptied view partition must leave the manifest")
    assert(viewRows(mc.readPartitionedAt(cur, "view").get)
      === Seq((2L, 1L, 20L)))
    // base pk=5 and pk=13 swept too (both keys deleted)
    assert(!mc.partitionKeys(cur, "base").contains("base/pk=5"))
    assert(!mc.partitionKeys(cur, "base").contains("base/pk=13"))
  }

  test("zombie lineage after takeover stays refused on the committed-partitioned path; replay burns no version") {
    val mc = new ManifestCommit(spark, tmpDir())
    EventStreams.applyIvmBatch(batchDF(seed), IvmStore.ManifestCommit(mc,
      "base", "view", B), epoch = 0L, queryId = "lineage-a")
    EventStreams.applyIvmBatch(batchDF(epochs.head),
      IvmStore.ManifestCommit(mc, "base", "view", B), epoch = 1L, queryId = "lineage-a")
    EventStreams.applyIvmBatch(batchDF(epochs(1)),
      IvmStore.ManifestCommit(mc, "base", "view", B), epoch = 0L, queryId = "lineage-b")
    val settled = viewRows(mc.readPartitionedAt(mc.current(), "view").get)
    val vSettled = mc.currentVersion()
    EventStreams.applyIvmBatch(batchDF(epochs.head),
      IvmStore.ManifestCommit(mc, "base", "view", B), epoch = 1L, queryId = "lineage-a")
    assert(mc.currentVersion() === vSettled,
      "zombie redelivery burned a manifest version")
    assert(viewRows(mc.readPartitionedAt(mc.current(), "view").get)
      === settled, "zombie redelivery re-applied after takeover")
  }

  test("a rewritten partition's superseded directory frees past the retain horizon while its parent still hosts live partitions") {
    val root = tmpDir()
    val mc = new ManifestCommit(spark, root, retain = 2)
    EventStreams.applyIvmBatch(batchDF(seed), IvmStore.ManifestCommit(mc,
      "base", "view", B), epoch = 0L, queryId = "q")
    val v0base3 = mc.current()("base/pk=3")
    val parent0 = v0base3.split('/').head
    // three epochs rewriting pk=3 push the v0 copy past retain=2
    (1 to 3).foreach { e =>
      EventStreams.applyIvmBatch(
        batchDF(Seq((3L, e.toLong, "U", 5L, 100L + e))), IvmStore.ManifestCommit(mc,
        "base", "view", B), epoch = e.toLong, queryId = "q")
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the seed parent still hosts 15 other live base partitions…
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$parent0")),
      "a parent with live carried-forward partitions must survive")
    // …but the superseded pk=3 subdirectory inside it is gone
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$v0base3")),
      "a rewritten partition's old directory pinned by nothing must free")
    // and the surviving state is still correct
    val cur = mc.current()
    assert(viewRows(mc.readPartitionedAt(cur, "view").get)
      === recomputeOf(mc.readPartitionedAt(cur, "base").get))
  }
}
