package graft

import java.nio.file.{Files, Path}

/** Temp directories for tests, deleted with everything under them when the
  * forked test JVM exits. Not [[TempDirs]]: suites call `TempDirs.drain()`
  * mid-run, and that must not delete a directory a later suite still reads
  * (the [[MrCorpus]] files).
  */
object TestDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(
      () => dirs.forEach(d => TempDirs.rmTree(d.toFile)), "graft-testdirs"))
    true
  }

  /** A new empty directory under the system temp dir, named `prefix...`. */
  def create(prefix: String): Path = {
    require(hookInstalled)
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }
}
