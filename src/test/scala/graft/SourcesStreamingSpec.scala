package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** S7 (JSON file source — the reference's OAuth token file) and the
  * streaming form of T2's late-data watermark (the D-3 delay of
  * tarefa_popular_fila_trafego.php:7-9 as `withWatermark` + windowed agg). */
class SourcesStreamingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S7: single-object JSON file reads as one row (config.php token file)") {
    val dir = tempDir("graft-json")
    val f = dir.resolve("token.json")
    Files.writeString(f,
      """{"access_token": "APP-123", "expires_in": 21600, "scope": "read"}""")
    val df = spark.read.json(f.toString)
    val row = df.select($"access_token", $"expires_in").as[(String, Long)].head()
    assert(row == ("APP-123", 21600L))
  }

  test("T2 streaming: 3-day watermark drops data later than the delay") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val counts = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "3 days")
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".cast("date").as("dia"), $"n")

    val q = counts.writeStream
      .format("memory").queryName("t2_watermark").outputMode("append").start()

    def ts(s: String) = Timestamp.valueOf(s)
    // day 1 data, then day 10 data (advances watermark to day 7) —
    // the day-1 window is < watermark, closes, and is emitted;
    // a late day-1 straggler afterwards must be DROPPED.
    input.addData((ts("2024-05-01 10:00:00"), 1.0), (ts("2024-05-01 11:00:00"), 2.0))
    q.processAllAvailable()
    input.addData((ts("2024-05-10 00:00:00"), 3.0))
    q.processAllAvailable()
    input.addData((ts("2024-05-01 23:00:00"), 9.9)) // late beyond 3 days
    q.processAllAvailable()
    input.addData((ts("2024-05-20 00:00:00"), 4.0)) // closes the day-10 window
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("t2_watermark")
      .as[(java.sql.Date, Long)].collect().toMap
    assert(rows(java.sql.Date.valueOf("2024-05-01")) == 2L,
      "late straggler must not be counted")
    assert(rows(java.sql.Date.valueOf("2024-05-10")) == 1L)
  }

  test("streaming dedup within watermark drops redelivered events, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val deduped = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

    val q = deduped.writeStream
      .format("memory").queryName("stream_dedup").outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    // original + same-batch redelivery + cross-batch redelivery: one row
    input.addData((1L, ts("2024-05-01 10:00:00")), (1L, ts("2024-05-01 10:00:30")))
    q.processAllAvailable()
    input.addData((1L, ts("2024-05-01 10:05:00")), (2L, ts("2024-05-01 10:05:00")))
    q.processAllAvailable()
    // advance the watermark far past id 1's state; a much later replay of
    // id 1 is a NEW event by contract (state is bounded, not forever)
    input.addData((3L, ts("2024-05-01 11:00:00")))
    q.processAllAvailable()
    input.addData((1L, ts("2024-05-01 11:00:01")))
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("stream_dedup")
      .as[(Long, Timestamp)].collect().toSeq.map(_._1)
    assert(ids.count(_ == 1L) == 2, s"ids: $ids") // original + post-eviction replay
    assert(ids.count(_ == 2L) == 1)
    assert(ids.count(_ == 3L) == 1)
  }
}
