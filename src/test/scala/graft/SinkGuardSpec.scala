package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Mechanical audit of the rules [[graft.sinks.UpsertWriter]] decides
  * once: the bucket of a key comes from `UpsertWriter.bucketOf` alone,
  * the sink keeps no JVM-wide memo (a table's schema is read from its
  * footer on every call), and no code clones a session to read with
  * other confs. */
class SinkGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val writer = root.resolve("graft/sinks/UpsertWriter.scala")

  test("one bucket rule, no session clone in src/main, no memo map under graft/sinks") {
    assert(Files.isRegularFile(writer), s"run from the repo root: no $writer")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = for {
      p <- files
      (l, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if l.contains("newSession(") ||
        (p != writer && l.contains("pmod(xxhash64(")) ||
        (p.startsWith(root.resolve("graft/sinks")) && l.contains("ConcurrentHashMap"))
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(found.isEmpty,
      s"a bucket expression outside UpsertWriter, a cloned session, or a memo map in the sink layer:\n${found.mkString("\n")}")
  }
}
