package graft

import graft.streaming.WatermarkedIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

/** Pipeline.runWatermarked end to end: the T2 D-3 watermark as a
  * streaming query, KILLED mid-drain and resumed — on-time rows accrue
  * into exact daily totals, a late arrival lands in the T6 error
  * channel exactly once, and batch replay restates instead of
  * duplicating (the PipelineStreamingSpec contract applied to the
  * watermark worker). */
class WatermarkedStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(LocalDateTime.of(2026, 1, day, hour, 0))

  private def addEventFile(flat: String, base: java.nio.file.Path,
      name: String, rows: Seq[(Long, Timestamp, Double)]): Unit =
    StreamFiles.landOne(base, flat, name,
      rows.toDF("order_id", "event_time", "amount"))

  test("kill mid-drain, resume: daily totals exact, late row in the error channel exactly once") {
    val base = tempDir("graft-wm-stream")
    val flat = base.resolve("events").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()

    // six on-time files on days 8..10 (all within D-3 of the running
    // max, whatever their pickup order), then — written LAST, so the
    // file source's modification-time order drains it after the prior
    // batches established the high-water mark — one file carrying a
    // LATE row (day 1 ≪ 10 − 3) next to an on-time row
    val ontime = Seq(
      ("t0", Seq((1L, ts(8, 9), 10.0))),
      ("t1", Seq((2L, ts(9, 9), 20.0))),
      ("t2", Seq((3L, ts(10, 9), 30.0))),
      ("t3", Seq((4L, ts(10, 12), 40.0))),
      ("t4", Seq((5L, ts(9, 15), 50.0))),
      ("t5", Seq((6L, ts(8, 18), 60.0))))
    ontime.foreach { case (n, rows) => addEventFile(flat, base, n, rows) }
    addEventFile(flat, base, "t6",
      Seq((7L, ts(1, 9), 70.0), (8L, ts(10, 18), 80.0)))

    // run 1: kill as soon as at least one batch committed partials
    val q1 = Pipeline.runWatermarked(spark, flat, wh, ckpt)
    val partialsDir = s"$wh/daily_partials"
    val deadline = System.currentTimeMillis() + 120000
    def committed(): Long =
      if (!Files.exists(java.nio.file.Paths.get(partialsDir, "_SUCCESS"))) 0L
      else spark.read.parquet(partialsDir).count()
    while (committed() < 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q1.stop()
    q1.awaitTermination(60000)
    val afterKill = committed()
    assert(afterKill >= 1, "run 1 never committed a batch")

    // run 2: resume on the SAME checkpoint, drain to completion
    val q2 = Pipeline.runWatermarked(spark, flat, wh, ckpt)
    q2.awaitTermination(120000)

    // daily totals = exact batch truth over the ON-TIME rows only
    val totals = WatermarkedIngest.dailyTotals(spark, wh)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2)))
      .toSet
    assert(totals == Set(
      ("2026-01-08", 2L, 70.0),
      ("2026-01-09", 2L, 70.0),
      ("2026-01-10", 3L, 150.0)),
      s"daily totals diverged (late row leaked in, or a replay double-counted): $totals")

    // the late row sits in the error channel EXACTLY once, T6-shaped
    val late = WatermarkedIngest.lateErrors(spark, wh)
      .select(col("order_id"), col("status"), col("mensagem_erro"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(late.toSeq == Seq((7L, "erro", "late_arrival")),
      s"error channel must carry the one late arrival once: ${late.toSeq}")

    // genuinely resumed: the kill landed mid-drain
    assert(afterKill < 7,
      s"kill landed after the full drain ($afterKill partials) — test proved nothing")
  }
}
