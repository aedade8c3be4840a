package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator

/** JVM-scoped temp-dir registry: every scratch directory the library creates
  * (pagination-crawl spill, streaming checkpoints, crawl state dirs in
  * queries/benchmarks) is registered here and recursively deleted by ONE
  * shutdown hook — callers no longer leak a /tmp directory per run. Callers
  * that need the data to outlive the JVM pass their own directory instead.
  */
object TempDirs {

  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Copy the tree under `src` into `dst`, overwriting existing files. */
  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def register(p: Path): Path = {
    registered.add(p)
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        var q = registered.poll()
        while (q != null) {
          try deleteRecursively(q) catch { case _: Throwable => }
          q = registered.poll()
        }
      }, "graft-tempdir-cleanup"))
    p
  }

  /** Create a temp directory that is removed at JVM exit. */
  def create(prefix: String): Path =
    register(Files.createTempDirectory(prefix))
}
