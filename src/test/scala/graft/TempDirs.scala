package graft

import java.nio.file.{Files, Path}

/** Temp directories for specs: each is created under `java.io.tmpdir`
  * and deleted recursively when the test JVM exits, as the engine's
  * own [[graft.core.Scratch.local]] allocations are. The deletion runs
  * in Hadoop's shutdown-hook slot for closing FileSystems, after
  * Spark's own hooks have stopped the session.
  */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)),
    org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY)

  /** A fresh directory named `prefix` plus a random suffix. */
  def create(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d.toFile)
    d
  }
}
