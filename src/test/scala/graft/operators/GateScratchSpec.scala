package graft.operators

import graft.SparkTestBase

/** The streaming gates' per-invocation dirs (warehouse, checkpoint, seed
  * copy) live under the per-process fixture root, which is removed at JVM
  * exit — a gate run leaves nothing of its own directly in the temp dir,
  * not even while its query runs.
  */
class GateScratchSpec extends SparkTestBase {

  test("c21 and c15 keep their scratch dirs and seed copies under the fixture root") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def gateDirs(dir: java.io.File): Set[String] =
      Option(dir.list()).toSeq.flatten
        .filter(n => n.startsWith("c21_") || n.startsWith("seed_")).toSet
    // Spark's own checkpoint dir for a query started without a location;
    // it deletes the dir when the query stops cleanly, so it is looked
    // for while each query runs (a query-started event reaches a
    // session's listeners on the query's thread, before its first batch)
    def checkpoints: Set[String] = Option(tmp.list()).toSeq.flatten
      .filter(_.startsWith("temporary-")).toSet
    val before = gateDirs(tmp)
    val ckptBefore = checkpoints
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        checkpoints.foreach(seen.add)
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try Seq("c21_stream_stream_join", "c15_stream_replay_partitioned")
      .foreach { n =>
        graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").collect()
      }
    finally spark.streams.removeListener(listener)
    assert(gateDirs(tmp) -- before === Set.empty)
    import scala.jdk.CollectionConverters._
    assert((seen.asScala.toSet ++ checkpoints) -- ckptBefore === Set.empty)
    // and the dirs were made, where the exit hook removes them
    val root = new java.io.File(graft.core.StoreFixture.scratch("probe"))
      .getParentFile
    val under = gateDirs(root)
    assert(under.exists(_.startsWith("c21_ssjoin")), under)
    assert(under.exists(_.startsWith("seed_c15")), under)
    assert(Option(root.list()).toSeq.flatten.exists(_.startsWith("ckpt_")))
  }
}
