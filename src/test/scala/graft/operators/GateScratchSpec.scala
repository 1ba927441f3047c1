package graft.operators

import graft.SparkTestBase

/** The streaming gates' per-invocation dirs (warehouse, checkpoint, seed
  * copy) live under the per-process fixture root, which is removed at JVM
  * exit — a gate run leaves nothing of its own directly in the temp dir.
  */
class GateScratchSpec extends SparkTestBase {

  test("c21 and c15 keep their scratch dirs and seed copies under the fixture root") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def gateDirs(dir: java.io.File): Set[String] =
      Option(dir.list()).toSeq.flatten
        .filter(n => n.startsWith("c21_") || n.startsWith("seed_")).toSet
    val before = gateDirs(tmp)
    Seq("c21_stream_stream_join", "c15_stream_replay_partitioned").foreach {
      n => graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").collect()
    }
    assert(gateDirs(tmp) -- before === Set.empty)
    // and the dirs were made, where the exit hook removes them
    val root = new java.io.File(graft.core.StoreFixture.scratch("probe"))
      .getParentFile
    val under = gateDirs(root)
    assert(under.exists(_.startsWith("c21_ssjoin")), under)
    assert(under.exists(_.startsWith("seed_c15")), under)
  }
}
