package graft.core

import org.apache.spark.sql.SparkSession

/** Local-filesystem checksum policy for the driver-facing mains.
  *
  * Hadoop's default `file://` filesystem is ChecksumFileSystem: every
  * file write also writes a `.crc` sidecar and every read re-verifies
  * it — doubling the file-op count and adding a CRC pass over all bytes.
  * The warehouse/streaming operators are many-small-file workloads
  * (staged manifest tables, state-store deltas, checkpoint WALs, tiny
  * markers), so on local disk the CRC layer is pure fixed cost: measured
  * 8–22% of the streaming-gate wall at sf0.1 (c21 5.4→4.5 s, c25
  * 7.7→6.6 s, c26 9.1→7.9 s in one window; commit d375f24).
  *
  * Skipping it is the production-correct local setting, not a benchmark
  * trick: application-level CRCs on a single local disk duplicate the
  * protection ext4/ECC already give (and the correctness gate re-reads
  * every output through an independent engine anyway), while at cluster
  * scale data lives on HDFS/object stores whose schemes these two keys
  * never touch — the override is inert off local disk by construction.
  *
  * `SPARK_GRAFT_LOCAL_CHECKSUMS=1` restores the checksummed default
  * (both the FileSystem API and the AbstractFileSystem one that
  * streaming checkpoint managers use).
  */
object LocalFs {
  def configs: Seq[(String, String)] =
    if (sys.env.get("SPARK_GRAFT_LOCAL_CHECKSUMS").contains("1")) Seq.empty
    else Seq(
      "spark.hadoop.fs.file.impl" ->
        "org.apache.hadoop.fs.RawLocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        "org.apache.hadoop.fs.local.RawLocalFs")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    configs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
