package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Mechanical audit against regrowth of ad hoc instrumentation: the
  * shipped code reports what it did through `graft.obs` alone, so no
  * other `SparkListener`, no env flag of its own and no tool stopwatch
  * may appear in `src/main`. */
class MetricsPathGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, Seq[String])] = {
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).asScala.toSeq).toList
    finally walk.close()
  }

  test("no SparkListener outside graft/obs") {
    val listener = """\b(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
    val found = for {
      (p, lines) <- sources
      if !p.startsWith(root.resolve("graft/obs"))
      (l, i) <- lines.zipWithIndex
      if listener.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(found.isEmpty,
      s"a listener outside graft.obs — tag phases with Obs.phase instead:\n${found.mkString("\n")}")
  }

  test("no env flag of graft's own") {
    val read = """(sys\.env|System\.getenv)""".r
    val flag = "\"(GRAFT_[A-Z0-9_]+)\"".r
    val found = for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex
      if read.findFirstIn(l).isDefined && flag.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(found.isEmpty,
      s"an env flag of graft's own:\n${found.mkString("\n")}")
  }

  test("no stopwatch under graft/tools: tool timings come from Obs") {
    val found = for {
      (p, lines) <- sources
      if p.startsWith(root.resolve("graft/tools"))
      (l, i) <- lines.zipWithIndex
      if l.contains("System.nanoTime")
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(found.isEmpty,
      s"a tool times itself — read its phases from Obs.Metrics:\n${found.mkString("\n")}")
  }
}
