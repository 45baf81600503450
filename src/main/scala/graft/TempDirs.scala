package graft

import java.nio.file.{Files, Path}

/** Directories written under `java.io.tmpdir` that can only go when the
  * JVM exits, because a lazily evaluated DataFrame still reads them (a
  * staged fixture, a persisted index). One shutdown hook removes every
  * registered directory with its contents. */
object TempDirs {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => dirs.forEach(d => deleteTree(d))))

  /** Registers `dir` for deletion at JVM exit; returns it. */
  def deleteOnExit(dir: Path): Path = { hook; dirs.add(dir); dir }

  /** A fresh directory under `java.io.tmpdir`, deleted at JVM exit. */
  def create(prefix: String): Path = deleteOnExit(Files.createTempDirectory(prefix))

  /** Deletes `root` and everything under it, if it exists. */
  def deleteTree(root: Path): Unit =
    scala.util.Try(Files.walk(root)).foreach { paths =>
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => scala.util.Try(Files.deleteIfExists(p)))
      finally paths.close()
    }
}
