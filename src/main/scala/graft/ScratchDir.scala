package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

/** Scratch directories for registry queries and operator caches. A query's
  * returned DataFrame may read its directory lazily, after `run` returns,
  * so each directory lives until the JVM exits and is deleted then, with
  * everything under it. */
object ScratchDir {
  private val dirs = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(dirs.forEach(deleteTree))

  /** A fresh temp dir named `<prefix><random suffix>`, deleted at exit. */
  def apply(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir.toString
  }

  private def deleteTree(root: Path): Unit =
    try {
      Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    } catch { case _: IOException | _: UncheckedIOException => () }
}
