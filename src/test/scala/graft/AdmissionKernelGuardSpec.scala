package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Mechanical audit against re-copying the near-dup workers' batch
  * skeleton: `graft.streaming.Admission` alone owns the table reads
  * (`tableOrEmpty`), the write shapes (`writeState`), the awaited
  * concurrent admit writes (`Await.result`) and the drain skeleton
  * (`readStream … AvailableNow … start()`). Any other file that grows
  * one of them is a new drifting copy. */
class AdmissionKernelGuardSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")
  private val dir = main.resolve("graft/streaming")
  private val kernel = dir.resolve("Admission.scala")

  /** `file:line: text` of every line under `root`, outside the kernel,
    * that matches one of `patterns`. */
  private def copies(root: Path, patterns: Seq[scala.util.matching.Regex]): Seq[String] = {
    assert(Files.isRegularFile(kernel), s"run from the repo root: no $kernel")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    for {
      p <- files if p != kernel
      (l, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if patterns.exists(_.findFirstIn(l).isDefined)
    } yield s"$p:${i + 1}: ${l.trim}"
  }

  test("only the admission kernel defines tableOrEmpty/writeState or calls Await.result") {
    val found = copies(dir, Seq(
      """\bdef\s+tableOrEmpty\b""".r, """\bdef\s+writeState\b""".r,
      """\bAwait\s*\.\s*result\b""".r))
    assert(found.isEmpty,
      s"a copy of the admission kernel's steps — call graft.streaming.Admission instead:\n${found.mkString("\n")}")
  }

  test("only the admission kernel opens a readStream") {
    val found = copies(main, Seq("""\.\s*readStream\b""".r))
    assert(found.isEmpty,
      s"a copy of the drain skeleton — call graft.streaming.Admission.start instead:\n${found.mkString("\n")}")
  }
}
