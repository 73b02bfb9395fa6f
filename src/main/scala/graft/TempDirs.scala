package graft

import java.nio.file.{Files, Path}

/** Registry for the temp snapshot-table directories some `src_*` queries
  * stage under /tmp. The returned DataFrames read those tables LAZILY, so
  * a query body cannot delete its own dir in a `finally` — the caller has
  * not consumed the plan yet. Instead every dir created here is deleted by
  * ONE JVM shutdown hook, which also covers the failure path: a query that
  * throws mid-build (the round-9 schema-evolution crash left 18
  * `graft_snapevo_q*` dirs across a 3-posture sweep) leaks nothing past
  * JVM exit.
  */
object TempDirs {
  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private val drainHooks =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Run `cb` after every [[drain]] — for registries that CACHE paths to
    * dirs created here (e.g. Similarity's per-dataset IVF index cache):
    * an existence check inside the cache's compute() still races a drain
    * that lands between compute returning and the lazy read job listing
    * the dir, so the drain itself must also invalidate at the registry.
    * Hooks run after the deletes: a compute() racing the drain either
    * sees the dir gone and rebuilds, or its fresh entry is cleared and
    * the next call rebuilds — never a cached path to a deleted dir.
    */
  def onDrain(cb: () => Unit): Unit = drainHooks.add(cb)

  // Registered once, on first use — not in a lazy val initializer racing
  // class init; the queue handles concurrent query threads.
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => drain(), "graft-tempdirs"))
    true
  }

  /** Create and register a temp directory; returns its path as a String
    * (the shape every Snapshots call site wants).
    */
  def create(prefix: String): String = {
    require(hookInstalled)
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }

  /** Delete every registered dir now (idempotent; missing paths are
    * fine). Exposed for tests and for sweep drivers that want cleanup
    * between postures rather than at exit.
    */
  def drain(): Unit = {
    var p = registered.poll()
    while (p != null) {
      rmTree(p.toFile)
      p = registered.poll()
    }
    drainHooks.forEach(cb => cb())
  }

  /** Delete `f` and, if it is a directory, everything under it. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
  }
}
