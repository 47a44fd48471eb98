package graft

import graft.obs.Obs
import graft.tools.SinkDriver
import org.scalatest.funsuite.AnyFunSuite

/** `SinkDriver`'s steps run here at sf0.001 with four batches, so the
  * driver cannot drift from the shipped writer unnoticed. Only the checks
  * that hold at any scale are asserted: timings and bucket sizes say
  * nothing at this size. */
class SinkDriverSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  for ((name, step) <- SinkDriver.steps)
    test(s"$name: the sink's invariants hold at sf0.001") {
      val m = Obs.install(spark)
      val report =
        try Obs.phase(spark, name)(step(new SinkDriver.Run(spark, m, TestSpark.sf0001, 4)))
        finally m.close()
      val failed = report.checks.collect { case (check, false) => check }
      assert(report.checks.nonEmpty && failed.isEmpty,
        s"$name violated ${failed.mkString(", ")}; figures: ${report.figures}")
    }
}
