package graft

import graft.sinks.{TableLease, UpsertWriter}
import org.scalatest.funsuite.AnyFunSuite
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Cross-PROCESS exclusion of [[TableLease]], deterministically: a
  * forked JVM ([[LeaseHolderMain]]) opens a window and reports it on
  * stdout, so every assertion here runs while the window is provably
  * held — no sleep, no polling, no timing-placed kill. The kernel drops
  * a dead process's lock, so the window frees the moment
  * `destroyForcibly` + `waitFor` return. */
class LeaseCrossProcessSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val kinds = Seq[TableLease.Kind](TableLease.Drain, TableLease.Maintenance)

  private def fork(args: String*): Process = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    new ProcessBuilder((Seq(java, "-Xmx64m", "-cp", sys.props("java.class.path"),
      "graft.LeaseHolderMain") ++ args): _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
  }

  /** The child's one stdout line. Blocks until the child writes it; the
    * bound only turns a broken child into a failure instead of a hang. */
  private def lineOf(child: Process): String = {
    val r = new BufferedReader(new InputStreamReader(child.getInputStream, UTF_8))
    val line = Await.result(Future(r.readLine())(ExecutionContext.global), 60.seconds)
    assert(line != null, "the child exited before reporting")
    line
  }

  private def append(path: String, tag: String): Boolean =
    UpsertWriter.append(spark, path, Seq((1L, tag)).toDF("id", "v"),
      keys = Seq("id"), batchTag = tag)

  /** The refusal `body` throws, with its class (an in-process lock
    * overlap is an IllegalStateException too, with no message). */
  private def refusal(body: => Any): String =
    intercept[IllegalStateException](body).toString

  test("a window held by another process refuses both kinds and gates writers under Maintenance; it frees when that process is killed") {
    for (kind <- kinds) {
      val dir = tempDir("graft-lease-xproc")
      val t = dir.resolve("t").toString
      val ready = dir.resolve("ready")
      val child = fork("hold", t, kind.toString, ready.toString)
      try {
        assert(lineOf(child) == "ready")
        val holder = new String(Files.readAllBytes(ready), UTF_8)
        for (k <- kinds)
          assert(refusal(TableLease.acquire(t, k, "parent")).contains(holder),
            s"$k acquire under the child's $kind window")
        if (kind == TableLease.Maintenance)
          assert(refusal(append(t, "b0")).contains("maintenance window is open"))
        else assert(append(t, "b0"), "the writer gate must pass under a Drain window")
      } finally {
        child.destroyForcibly()
        child.waitFor()
      }
      // the kernel dropped the dead holder's lock: at once, no TTL
      for (k <- kinds) {
        TableLease.acquire(t, k, "parent")
        TableLease.release(t, k, "parent")
      }
    }
  }

  test("in-process refusals under withMaintenance never drop its kernel lock") {
    // Closing any channel on a lock file drops the JVM's lock on it, so
    // an in-process refusal that opened its own channel on the held
    // maintenance file would silently hand the window to other
    // processes. The foreign process's refusal AFTER the in-process
    // ones is the check.
    val t = tempDir("graft-lease-1ch").resolve("t").toString
    TableLease.withMaintenance(Seq(t), "parent-maint") {
      val refused = Future {
        Seq(refusal(append(t, "b0")), refusal(TableLease.requireNoForeignMaintenance(t)),
          refusal(TableLease.acquire(t, TableLease.Drain, "parent-drain")))
      }(ExecutionContext.global)
      val Seq(gate, bare, drain) = Await.result(refused, 60.seconds)
      assert(gate.contains("maintenance window is open"))
      assert(bare.contains("maintenance window is open"))
      assert(drain.contains("Maintenance lease is held"))
      val child = fork("try", t, "Maintenance")
      try assert(lineOf(child).startsWith("refused:"),
        "another process took the maintenance window this JVM holds")
      finally child.waitFor()
    }
  }
}
