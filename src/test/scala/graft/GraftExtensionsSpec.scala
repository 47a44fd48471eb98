package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The deployment path: a session built with
  * `.withExtensions(new GraftExtensions)` — NOT via `Sessions.tune` —
  * must get the custom functions, the similarity-join planner strategy,
  * and the threshold-pushdown rule purely from the injection. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions injects functions, strategy, and optimizer rule") {
    val base = TestSpark.spark // ensures the shared SparkContext exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne base, "premise: a fresh session, not the tuned one")

      // injectFunction
      assert(s2.sql("SELECT parse_brl_money('1234,56') AS v")
        .head().getDouble(0) == 1234.56)

      // injectPlannerStrategy
      val df = plans.SimilarityJoin(
        Tables.documents(s2, TestSpark.sf0001), "doc_id", "text")
      assert(df.queryExecution.sparkPlan
        .exists(_.isInstanceOf[plans.SimilarityJoinExec]),
        "strategy must come from the extension injection")

      // injectOptimizerRule
      val pushed = df.filter(col("jaccard") >= 0.9)
        .queryExecution.optimizedPlan
        .collect { case sj: plans.SimilarityJoinPlan => sj }
      assert(pushed.nonEmpty && pushed.head.threshold == 0.9,
        "pushdown rule must come from the extension injection")
      // s2 shares the SparkContext — never stop() it here
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  /** WARN+ messages the function registry logs while `body` runs. */
  private def registryWarnings(body: => Unit): Seq[String] = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = "org.apache.spark.sql.catalyst.analysis"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "graft-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = new LoggerConfig(name, Level.WARN, false)
    logger.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
    try body
    finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.asScala.toSeq
  }

  test("tune twice leaves the registry's builders identical and logs no replacement WARN") {
    val s = TestSpark.spark
    val registry = s.sessionState.functionRegistry
    def bound: Seq[AnyRef] = Functions.all.map { case (n, _) =>
      registry.lookupFunctionBuilder(FunctionIdentifier(n)).orNull }
    def replaced(ws: Seq[String]) =
      ws.exists(_.contains("replaced a previously registered function"))

    // a foreign function under a graft name is still replaced (and the
    // capture sees the replacement WARN — the control for the check below)
    registry.createOrReplaceTempFunction("word_shingles",
      (_: Seq[Expression]) => Literal(1), "scala_udf")
    assert(replaced(registryWarnings(Sessions.tune(s))),
      "premise: replacing a foreign function logs the WARN")
    val first = bound
    assert(first.zip(Functions.all).forall { case (b, (_, f)) => b eq f },
      "tune must bind every name to the Functions.all builder")

    assert(!replaced(registryWarnings(Sessions.tune(s))),
      "re-tuning re-registered an unchanged function")
    assert(bound.zip(first).forall { case (a, b) => a eq b })
  }
}
