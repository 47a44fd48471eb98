package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Mechanical audit against re-copying the near-dup workers' batch
  * skeleton: `graft.streaming.Admission` alone owns the table reads
  * (`tableOrEmpty`), the write shapes (`writeState`) and the awaited
  * concurrent admit writes (`Await.result`). Any other file under
  * `graft/streaming` that grows one of them is a new drifting copy. */
class AdmissionKernelGuardSpec extends AnyFunSuite {
  private val dir = Paths.get("src/main/scala/graft/streaming")
  private val kernel = dir.resolve("Admission.scala")
  private val copied = Seq(
    """\bdef\s+tableOrEmpty\b""".r, """\bdef\s+writeState\b""".r,
    """\bAwait\s*\.\s*result\b""".r)

  test("only the admission kernel defines tableOrEmpty/writeState or calls Await.result") {
    assert(Files.isRegularFile(kernel), s"run from the repo root: no $kernel")
    val walk = Files.walk(dir)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = for {
      p <- files if p != kernel
      (l, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if copied.exists(_.findFirstIn(l).isDefined)
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(found.isEmpty,
      s"a copy of the admission kernel's steps — call graft.streaming.Admission instead:\n${found.mkString("\n")}")
  }
}
