package graft

import graft.obs.Obs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end daily pipeline: two consecutive runs against the same
  * warehouse must RESTATE the mart (idempotent upsert), not duplicate
  * it, and the stored state must equal the registered query's result —
  * the switch-from-the-reference acceptance test. */
class PipelineE2ESpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("two daily runs restate the mart and key the alerts; state matches the query") {
    val wh = tempDir("graft-pipeline").toString
    val sf = TestSpark.sf0001

    Pipeline.runDaily(spark, sf, wh, runVersion = 1L)
    val afterFirst = spark.read.parquet(s"$wh/relatorio_diario").count()

    // the cron fires again (same upstream day): restatement, not growth
    Pipeline.runDaily(spark, sf, wh, runVersion = 2L)
    val mart = spark.read.parquet(s"$wh/relatorio_diario")
    assert(mart.count() == afterFirst, "second run must not duplicate rows")
    assert(mart.select(max($"run_version")).head().getLong(0) == 2L)

    // stored state ≡ the registered (oracle-verified) query result
    val expected = SparkEntry.queries("ep1_consolidar_relatorio")(spark, sf)
    val key = Seq("id_anuncio", "id_anuncio_variacao")
    val diff = mart.drop("run_version")
      .join(expected, key, "full_outer")
      .filter(expected("faturamento_total").isNull ||
        mart("faturamento_total").isNull ||
        !(mart("faturamento_total") <=> expected("faturamento_total")))
    assert(diff.count() == 0, "warehouse state diverges from the query result")

    // alerts: keyed per part — re-runs update in place
    val alerts = spark.read.parquet(s"$wh/alerts")
    assert(alerts.count() ==
      alerts.select("alert_key").distinct().count(), "alerts must be keyed")
    assert(alerts.select(max($"run_version")).head().getLong(0) == 2L)
    assert(alerts.filter($"status" === "OPEN").count() == alerts.count())
  }

  test("every job of a runDaily books under one of its four steps") {
    val wh = tempDir("graft-pipeline-obs").toString
    val sf = TestSpark.sf0001
    Pipeline.runDaily(spark, sf, wh, runVersion = 1L) // the next run merges
    val m = Obs.install(spark)
    try {
      Obs.within(spark, "daily") {
        Pipeline.runDaily(spark, sf, wh, runVersion = 2L, compactOver = 0)
      }
      // listener events arrive in order: once this job's stage is in,
      // every job submitted before it is too
      Obs.within(spark, "barrier")(spark.sparkContext.parallelize(1 to 2, 1).count())
      val deadline = System.currentTimeMillis() + 60000
      while (m.under("barrier").stages == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val steps = Seq("consolidate", "mart-upsert", "alert", "maintenance")
      val booked = m.totals.collect {
        case (p, t) if t.jobs > 0 && (p == "daily" || p.startsWith("daily/")) => p
      }
      assert(booked.nonEmpty && booked.forall(p =>
        steps.exists(s => p == s"daily/$s" || p.startsWith(s"daily/$s/"))),
        s"runDaily jobs booked outside its steps: $booked")
      for (s <- Seq("mart-upsert", "alert", "maintenance"))
        assert(m.under(s"daily/$s").jobs > 0, s"$s ran no tagged job")
    } finally m.close()
  }

  test("declared batch-only deployment: a long runDaily loop keeps the replay sidecar empty") {
    // The r15 verdict's residual #2: a pure-batch mart (no streaming
    // co-writer, no checkpoint) had no way to assert "no replayers",
    // so legacy folded tags survived every maintenance pass forever.
    // noReplayers = true is that assertion; this drives the common
    // deployment shape long enough to cross compaction thresholds and
    // pins the sidecar ABSENT after every cycle.
    val wh = tempDir("graft-pipeline-batchonly").toString
    val sf = TestSpark.sf0001
    val mart = s"$wh/relatorio_diario"
    val sidecar = java.nio.file.Paths.get(mart + ".__folded-tags")
    // a detached worker's LEGACY sidecar (its checkpoint long deleted —
    // no horizon can ever be derived for these again): the first
    // declared run must clear it, not carry it forever
    Pipeline.runDaily(spark, sf, wh, runVersion = 1L)
    Files.write(sidecar, "b3\nb7\nlegacy-tag\n".getBytes("UTF-8"))
    (2L to 12L).foreach { v =>
      Pipeline.runDaily(spark, sf, wh, runVersion = v,
        compactOver = 8, noReplayers = true)
      assert(!Files.exists(sidecar),
        s"run $v left a replay sidecar on a declared batch-only mart")
    }
    // the mart itself stays correct through the declared maintenance
    val stored = spark.read.parquet(mart)
    assert(stored.count() ==
      SparkEntry.queries("ep1_consolidar_relatorio")(spark, sf).count())
    assert(stored.select(max($"run_version")).head().getLong(0) == 12L)
  }

  test("the no-replayers declaration is checked: live deltas refuse, a checkpoint contradicts") {
    val wh = tempDir("graft-pipeline-norep").toString
    val sf = TestSpark.sf0001
    Pipeline.runDaily(spark, sf, wh, runVersion = 1L)
    // contradiction up front: a worker checkpoint + the no-writer claim
    val e1 = intercept[IllegalArgumentException] {
      Pipeline.runDaily(spark, sf, wh, runVersion = 2L,
        workerCheckpoint = Some(s"$wh/ckpt"), noReplayers = true)
    }
    assert(e1.getMessage.contains("noReplayers"))
    // a tagged streaming append lands (the writer the declaration says
    // cannot exist): the next declared run must refuse the clear loudly
    // — the table-local evidence contradicts the caller
    val mart = s"$wh/relatorio_diario"
    graft.sinks.UpsertWriter.append(spark, mart,
      spark.read.parquet(mart).limit(1),
      keys = Seq("id_anuncio", "id_anuncio_variacao"), batchTag = "b99")
    val e2 = intercept[IllegalStateException] {
      Pipeline.runDaily(spark, sf, wh, runVersion = 3L, noReplayers = true)
    }
    assert(e2.getMessage.contains("no-replayers assertion is false"),
      s"unexpected refusal: ${e2.getMessage}")
    // the refusal is BEFORE the upsert (which would fold the delta and
    // destroy the evidence): the delta file must still be live
    assert(graft.sinks.UpsertWriter.taggedDeltas(mart) == Set("b99"),
      "the refusal must fire before any folding op consumes the deltas")
    // an undeclared run still works (keeps every tag, the safe default)
    Pipeline.runDaily(spark, sf, wh, runVersion = 4L)
  }
}
