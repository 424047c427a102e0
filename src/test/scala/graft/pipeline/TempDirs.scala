package graft.pipeline

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories for a suite: each `tempDir` is a fresh directory under
  * `java.io.tmpdir`, and all of them are deleted after the suite runs. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(dir)
    dir.toString
  }

  private def rmrf(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  override protected def afterAll(): Unit =
    try super.afterAll() finally made.forEach(d => rmrf(d))
}
