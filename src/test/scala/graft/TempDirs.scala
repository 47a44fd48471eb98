package graft

import org.scalatest.{BeforeAndAfterAll, Suite}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Temp dirs a suite creates with [[tempDir]] are deleted when the
  * suite ends, so repeated runs leave `java.io.tmpdir` as they found
  * it. */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  /** A fresh `<prefix>*` temp dir, deleted after the suite's last test. */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try made.forEach(Fixtures.deleteRecursively(_))
    finally super.afterAll()
}
