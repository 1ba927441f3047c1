package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** Harness-cost bounds for the streaming IVM gates.
  *
  * Every IVM gate's invocation splits into SEED (write the initial
  * base/view/manifest the stream maintains — a store that in production
  * exists before the stream ever starts), FEED (derive the gate's CDC
  * change set — content that in production arrives from outside), and
  * the EPOCH REPLAY (the maintenance work the gate actually grades).
  * Seed and feed are harness: re-running them inside every invocation
  * charges producer/environment cost to the consumer's bench number and
  * compounds as the gate family grows — the round-16 finding (the eight
  * streaming gates were ~84 s of a 241 s sweep, almost all seed+feed).
  *
  * [[SeededStore]] builds a seed TEMPLATE once per JVM (the
  * [[StoreFixture]] discipline) and FILE-COPIES it per invocation, so
  * each gate run still mutates a private store — replay markers,
  * manifest versions and partition rewrites stay fully isolated, and
  * the gate's correctness surface is byte-identical to seeding inline —
  * while the repeated Spark seed-write jobs drop out of the per-query
  * time. [[FeedCache]] memoizes the collected change arrays the
  * MemoryStream harnesses replay (bounded: the CDC slices are
  * ≤ ~|keys|/7 rows). Verify pays each build exactly once; bench warms
  * them ([[graft.operators.RelationalQueries.warmSeeds]]) so best-of-1
  * decade sweeps measure the replay leg, same as the dedup sidecars.
  */
private[graft] object SeededStore {

  /** A fresh private copy of the `kind` seed template for `input`,
    * building the template on first use: `build(path)` must leave the
    * complete seeded store (all table dirs + manifest/log) at `path`.
    */
  def apply(kind: String, input: String)(build: String => Unit): String = {
    val tmpl = StoreFixture(s"seedtmpl_$kind", input) { p =>
      build(p)
      // an EMPTY-corpus seed may legitimately write nothing at all
      // (zero partitions → zero directories): the template is then an
      // empty store, which must still exist to be copied
      Files.createDirectories(Paths.get(p)): Unit
    }
    val dst = StoreFixture.scratch(s"seed_$kind")
    copyTree(Paths.get(tmpl), Paths.get(dst))
    dst
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val it = Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) { if (!Files.exists(q)) Files.createDirectories(q): Unit }
      else Files.copy(p, q): Unit
    }
  }
}

/** Once-per-JVM memo of a gate's collected CDC feed (see
  * [[SeededStore]] — the feed is harness content, not the measured
  * operator). Keyed by (kind, input dir); arrays are never mutated by
  * consumers (the gates only filter/slice them).
  */
private[graft] object FeedCache {
  private val cache = new ConcurrentHashMap[String, AnyRef]()

  def apply[T](kind: String, input: String)(compute: => Array[T]): Array[T] =
    cache.computeIfAbsent(s"$kind:$input",
      _ => compute.asInstanceOf[AnyRef]).asInstanceOf[Array[T]]
}
