package graft.plans

import graft.SparkTestBase

class RegisterSpec extends SparkTestBase {

  test("registering the graft functions twice leaves the registry unchanged") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def graftFunctions = registry.listFunction()
      .filter(_.funcName.startsWith("graft_"))
      .map(f => f.funcName ->
        (registry.lookupFunction(f).get, registry.lookupFunctionBuilder(f).get))
      .toMap
    VectorExpressions.register(s)
    SketchAggregates.register(s)
    val first = graftFunctions
    assert(first.keySet === Set("graft_dot", "graft_rolling_hash",
      "graft_center", "graft_pq_label", "graft_pq_argmax", "graft_ncr_decode",
      "graft_md5_prefix60", "graft_kmv", "graft_topk"))
    VectorExpressions.register(s)
    SketchAggregates.register(s)
    val second = graftFunctions
    assert(second.keySet === first.keySet)
    second.foreach { case (name, (info, builder)) =>
      assert(info eq first(name)._1, s"$name was registered again")
      assert(builder eq first(name)._2, s"$name was registered again")
    }
  }
}
