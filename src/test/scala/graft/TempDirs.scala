package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

/** The temp directories one spec creates: each `apply` makes a fresh
  * directory under `java.io.tmpdir`, and [[deleteAll]] — called from the
  * spec's `afterAll` — removes every one of them with its contents.
  */
final class TempDirs {
  private val made = new ConcurrentLinkedQueue[java.io.File]()

  def apply(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    made.add(dir)
    dir.toString
  }

  def deleteAll(): Unit = {
    made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d): Unit)
    made.clear()
  }
}
