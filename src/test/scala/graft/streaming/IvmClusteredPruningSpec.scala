package graft.streaming

import graft.SparkTestBase
import graft.compendium.ManifestCommit
import org.apache.spark.sql.functions._

/** The MEASUREMENT behind c27: "per-epoch cost ∝ touched partitions"
  * as observable facts, not design prose. Read side: a bucket-confined
  * epoch runs to completion while every untouched partition directory
  * is PHYSICALLY ABSENT — any listing or read would throw, so the
  * untouched store provably contributes zero I/O. Write side: the
  * manifest diff and staged data-file count of a clustered epoch vs a
  * same-row-volume spread epoch differ by exactly the touched-bucket
  * ratio.
  */
class IvmClusteredPruningSpec extends SparkTestBase {
  import spark.implicits._

  private val B = 16

  private def ch(k: Long, seq: Long, op: String, cents: Long) =
    EventStreams.CdcViewChange(k, seq, op, k, cents)

  /** Point-group stores (ck = k, the status-table shape): 64 keys over
    * 16 buckets, base and view pre-seeded partition-granular.
    */
  private def seed(mc: ManifestCommit): Unit = {
    val base = (0L until 64L).map(k => (k, k, k * 10)).toDF("k", "ck", "cents")
    mc.commitPartitioned(Map(
      "base" -> (("pk", base.withColumn("pk", pmod(col("k"), lit(B.toLong))),
        (0L until B).toSeq)),
      "view" -> (("pck", base.groupBy("ck")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_total"))
        .withColumn("pck", pmod(col("ck"), lit(B.toLong))),
        (0L until B).toSeq))))
  }

  private def viewRows(mc: ManifestCommit): Seq[(Long, Long, Long)] = {
    val snap = mc.current()
    mc.readPartitionPathsAt(snap, "view", "pck",
        mc.partitionValues(snap, "view")).get
      .select("ck", "n", "cents_total").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
  }

  private def recompute(mc: ManifestCommit): Seq[(Long, Long, Long)] = {
    val snap = mc.current()
    mc.readPartitionPathsAt(snap, "base", "pk",
        mc.partitionValues(snap, "base")).get
      .groupBy("ck").agg(count(lit(1)).as("n"), sum("cents").as("cents_total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
  }

  /** Data files under the directory a manifest entry names. */
  private def dataFiles(root: String, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$dir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val b = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_")) b += f.getPath.toString
    }
    b.result()
  }

  test("a bucket-confined epoch completes with every untouched partition directory ABSENT — zero I/O outside the touched bucket") {
    val root = tmpDir()
    val mc = new ManifestCommit(spark, root)
    seed(mc)
    val before = mc.current()
    // the epoch: all changes live in bucket 3 (k ≡ 3 mod 16)
    val batch = Seq(ch(3, 1, "U", 999), ch(19, 1, "D", 0),
      ch(35, 1, "U", 351), ch(67, 1, "I", 670))
    // hide every base/view partition dir EXCEPT the touched bucket;
    // hidden names carry no '=' and don't match the staged grammar, so
    // commit-time GC (parent and subdir sweeps) leaves them alone
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hidden = (mc.partitionKeys(before, "base") ++
        mc.partitionKeys(before, "view"))
      .filterNot(k => k.endsWith("=3"))
      .map(before)
    hidden.foreach { d =>
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/$d"),
        new org.apache.hadoop.fs.Path(s"$root/${d.replace("=", "_hidden_")}")))
    }
    try {
      EventStreams.applyIvmBatch(batch.toDF(), IvmStore.ManifestCommit(mc,
        "base", "view", B), epoch = 0L, queryId = "q")
    } finally hidden.foreach { d =>
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(s"$root/${d.replace("=", "_hidden_")}"),
        new org.apache.hadoop.fs.Path(s"$root/$d")))
    }
    val after = mc.current()
    // manifest diff: exactly base/pk=3 and view/pck=3 changed
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(changed === Set("base/pk=3", "view/pck=3", "view__epoch"),
      s"clustered epoch touched $changed")
    // each rewritten partition staged as ONE file (the clustered write)
    Seq("base/pk=3", "view/pck=3").foreach { k =>
      assert(dataFiles(root, after(k)).size === 1, s"$k over-filed")
    }
    // and the result is the from-scratch fold
    assert(viewRows(mc) === recompute(mc))
    val v3 = viewRows(mc).filter(_._1 % 16 == 3).toSet
    assert(v3 === Set((3L, 1L, 999L), (35L, 1L, 351L), (51L, 1L, 510L),
      (67L, 1L, 670L)), "bucket 3's point upserts must have landed")
  }

  test("write volume ∝ touched buckets: same-row clustered vs spread epochs rewrite 1 vs 16 partition pairs") {
    val root = tmpDir()
    val mc = new ManifestCommit(spark, root)
    seed(mc)
    val v0 = mc.current()
    // 16 changed rows confined to bucket 5
    val clustered = (0 until 16).map(i =>
      ch(5L + 16L * (i % 4), i + 1L, "U", 1000L + i))
    EventStreams.applyIvmBatch(clustered.toDF(), IvmStore.ManifestCommit(mc,
      "base", "view", B), epoch = 0L, queryId = "q")
    val v1 = mc.current()
    val changedClustered = (v0.keySet ++ v1.keySet)
      .filter(k => v0.get(k) != v1.get(k)) - "view__epoch"
    assert(changedClustered === Set("base/pk=5", "view/pck=5"),
      s"clustered epoch rewrote $changedClustered")
    // 16 changed rows spread one per bucket
    val spread = (0 until 16).map(i =>
      ch(i.toLong, 100L + i, "U", 2000L + i))
    EventStreams.applyIvmBatch(spread.toDF(), IvmStore.ManifestCommit(mc,
      "base", "view", B), epoch = 1L, queryId = "q")
    val v2 = mc.current()
    val changedSpread = (v1.keySet ++ v2.keySet)
      .filter(k => v1.get(k) != v2.get(k)) - "view__epoch"
    assert(changedSpread.size === 32,
      s"spread epoch must rewrite every (pk, pck) pair: $changedSpread")
    // file grain: 2 staged data files vs 32, the exact touched-bucket
    // ratio — per-epoch write cost tracks the batch's key spread
    val filesClustered = changedClustered.toSeq.map(k =>
      dataFiles(root, v1(k)).size).sum
    val filesSpread = changedSpread.toSeq.map(k =>
      dataFiles(root, v2(k)).size).sum
    assert(filesClustered === 2 && filesSpread === 32,
      s"staged files: clustered=$filesClustered spread=$filesSpread")
    assert(viewRows(mc) === recompute(mc))
  }
}
