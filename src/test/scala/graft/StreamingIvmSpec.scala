package graft

import graft.sinks.UpsertWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Streaming incremental view maintenance — the streaming twin of the
  * batch `ivm_delta_merge` query, closing the loop between the reference's
  * cron-batch upsert cadence (SURVEY §2.9 T1/T4) and a continuous ingest.
  *
  * Shape: each micro-batch folds to per-key PARTIALS (count + exact
  * dsum), stored keyed by (sku, batch_id) through [[UpsertWriter]]; the
  * serving view folds partials per key. Storing partials (not merged
  * totals) is what makes replay exactly-once: foreachBatch re-executes a
  * batch after a crash, and an idempotent keyed upsert of the SAME
  * (sku, batch_id) rows overwrites rather than double-counts — a
  * read-modify-write of running totals would not survive that. Partial
  * merge ≡ full recompute only because dsum is order-free and exact
  * (same argument as `ivm_delta_merge`).
  *
  * At 100 TB the partial table compacts by re-keying old partials to a
  * coarser batch grain (fold batches 1..k into one row per key) — same
  * upsert path, bounded growth.
  */
class StreamingIvmSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("foreachBatch partial-merge view equals full recompute; batch replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-ivm").toString
    val path = s"$dir/sku_totals_partials"

    def mergeBatch(df: DataFrame, batchId: Long): Unit = {
      val partials = df
        .groupBy(col("sku"))
        .agg(count(lit(1)).as("cnt"), Exprs.dsum(col("amount")).as("amt"))
        .withColumn("batch_id", lit(batchId))
      UpsertWriter.upsert(spark, path, partials,
        keys = Seq("sku", "batch_id"), versionCol = "batch_id")
    }

    val input = MemoryStream[(String, Double)]
    val q = input.toDS().toDF("sku", "amount")
      .writeStream
      .foreachBatch(mergeBatch _)
      .outputMode("update")
      .start()

    val all = Seq(
      Seq("a" -> 10.0, "b" -> 5.0),
      Seq("a" -> 1.5, "c" -> 2.0),
      Seq("b" -> 7.25, "a" -> 0.25))
    all.foreach { batch => input.addData(batch: _*); q.processAllAvailable() }
    q.stop()

    def served: Map[String, (Long, Double)] = spark.read.parquet(path)
      .groupBy(col("sku"))
      .agg(sum(col("cnt")).as("n"), Exprs.dsum(col("amt")).as("total"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap

    val exact = all.flatten.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.size.toLong, xs.map(_._2).sum)
    }
    assert(served == exact, s"served $served != exact $exact")

    // crash-replay: re-run batch 1 (same batchId, same rows) — the keyed
    // upsert overwrites the identical partials, so the view is unchanged
    mergeBatch(all(1).toDF("sku", "amount"), 1L)
    assert(served == exact, "replaying a batch must not change the view")

    // compaction: fold completed batches to one coarse partial per key,
    // re-keyed at batch grain -1 — view unchanged, row count bounded.
    // Materialized BEFORE the truncate: the fold's plan reads `path`,
    // and truncate deletes the files a lazy plan would still reference.
    val compacted = spark.createDataFrame(
      spark.read.parquet(path)
        .groupBy(col("sku"))
        .agg(sum(col("cnt")).as("cnt"), Exprs.dsum(col("amt")).as("amt"))
        .withColumn("batch_id", lit(-1L))
        .collect().toList.asJava,
      new org.apache.spark.sql.types.StructType()
        .add("sku", org.apache.spark.sql.types.StringType)
        .add("cnt", org.apache.spark.sql.types.LongType)
        .add("amt", org.apache.spark.sql.types.DoubleType)
        .add("batch_id", org.apache.spark.sql.types.LongType))
    UpsertWriter.truncate(spark, path)
    UpsertWriter.upsert(spark, path, compacted,
      keys = Seq("sku", "batch_id"), versionCol = "batch_id")
    assert(served == exact, "compaction must preserve the served view")
    assert(spark.read.parquet(path).count() == exact.size)
  }
}
