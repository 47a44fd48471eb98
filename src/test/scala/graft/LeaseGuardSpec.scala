package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Mechanical audit of the kernel-lock design of
  * [[graft.sinks.TableLease]]: closing ANY channel on a lock file drops
  * every lock the JVM holds on it, so `TableLease` alone may open or
  * lock files; and exclusion in the sink layer rests on the kernel
  * lock, never on a wall clock. */
class LeaseGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val lease = root.resolve("graft/sinks/TableLease.scala")

  test("only TableLease opens or locks a file channel; no wall clock under graft/sinks") {
    assert(Files.isRegularFile(lease), s"run from the repo root: no $lease")
    val locking = """FileChannel\s*\.\s*open\b|\btryLock\b|\.lock\(""".r
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = for {
      p <- files
      (l, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if (p != lease && locking.findFirstIn(l).isDefined) ||
        (p.startsWith(root.resolve("graft/sinks")) &&
          l.contains("currentTimeMillis"))
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(found.isEmpty,
      s"a file lock outside TableLease, or a clock in the sink layer:\n${found.mkString("\n")}")
  }
}
