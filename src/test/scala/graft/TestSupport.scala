package graft

import java.io.File
import java.nio.file.{Files, Path}

/** Helpers shared by the specs. */
object TestSupport {
  /** Runs `body` with a fresh temp directory named after `prefix`, and
    * deletes the directory and everything under it afterwards, whether
    * `body` returns, fails or is cancelled. */
  def withTempDir[T](prefix: String)(body: File => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toFile)
    finally deleteRecursively(dir)
  }

  private def deleteRecursively(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}
