package graft.core

import java.util.concurrent.ConcurrentHashMap

import graft.functions.Portable.md5HexScala

/** Build-once-per-JVM warehouse-store fixtures for the incremental
  * gates (d15 signature store, d16 content-hash store, s09/s10 centroid
  * store).
  *
  * Two properties, both review findings from round 7:
  *
  *  - **Build/consume split**: the gated queries model a DAILY
  *    consumer of a store an ingest pipeline maintains; rebuilding the
  *    store inside every query invocation billed the (production-
  *    amortized) build to the consumer's bench time and ran it once per
  *    bench repeat. Memoizing per (kind, input dir) makes every
  *    invocation after the first consume-only — the cost the bench
  *    number is supposed to mean.
  *  - **No cross-process races**: the stores previously lived at fixed
  *    deterministic paths under target/, so a bench sweep and a
  *    concurrent verify/test run on the same SF dir could interleave
  *    overwrite-vs-read and a reader could consume a half-rewritten
  *    store. The base directory is now a per-process temp dir, so no
  *    two JVMs ever share a store path; within one JVM, computeIfAbsent
  *    guarantees a single build whose readers only start after the
  *    write completed.
  *
  * Store names keep their `graft_sigstore`/`graft_hashstore`/
  * `graft_centstore` stems — the plan-shape specs identify the store
  * scan in executed plans by those substrings.
  */
private[graft] object StoreFixture {
  private lazy val base = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stores_")
    // recursive delete at JVM exit — deleteOnExit() would silently no-op
    // on a non-empty directory and leak every store set into /tmp
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir.toFile)
    }))
    dir.toString
  }
  private val built = new ConcurrentHashMap[String, String]()

  /** Path of the `kind` store for input `input`, building it exactly
    * once per JVM: `build(path)` must leave a complete parquet table at
    * `path` before returning.
    */
  def apply(kind: String, input: String)(build: String => Unit): String =
    built.computeIfAbsent(s"$kind:$input", { _ =>
      val p = s"$base/${kind}_${md5HexScala(input).take(12)}"
      build(p)
      p
    })

  /** A fresh per-invocation scratch dir (a gate's warehouse, checkpoint
    * or seed copy) under the same per-process root, so the exit hook
    * removes it with the stores. Nothing deletes it earlier: the frame a
    * gate returns reads it lazily.
    */
  def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), prefix).toString
}
