package graft

import java.nio.file.{Files, Path, Paths}

/** Shared temp-file helpers (one implementation — streaming replays,
  * source round trips, and tests all need the same recursive delete). */
object TmpFiles {
  def deleteRecursively(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  /** A fresh temp dir that lives as long as the JVM, deleted by a shutdown
    * hook — for files a returned DataFrame still reads lazily after the
    * query that wrote them has returned. */
  def jvmRoot(prefix: String): Path = {
    val r = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r.toString)))
    r
  }
}
