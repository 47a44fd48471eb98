package graft.streaming

import graft.sinks.UpsertWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** SURVEY §2.9 T4 — the reference's queue-worker loop
  * (`tarefa_popular_fila_*` → `worker_*`: claim ≤ 50 `pendente` rows,
  * process, ack `concluido`) as Structured Streaming.
  *
  * The cron-cadence batch claim maps to micro-batch triggers with a rate
  * limit (`maxFilesPerTrigger` — the streaming analogue of `LIMIT 50`);
  * the status machine maps to a derived status column; the crash-safe
  * resume maps to checkpointing + the idempotent K1 upsert sink
  * ([[graft.sinks.UpsertWriter]]), which gives exactly-once *state* even
  * under batch replay — the same story as the reference's
  * `ON DUPLICATE KEY UPDATE` ack.
  */
object QueueWorker {

  /** Start a worker draining parquet task files from `queueDir` into the
    * keyed state table at `stateDir`.
    *
    * @param process  per-batch enrichment (the worker's API-join step)
    * @param filesPerTrigger rate limit — tasks arrive in bounded claims
    */
  def start(
      spark: SparkSession,
      queueDir: String,
      stateDir: String,
      checkpointDir: String,
      keys: Seq[String],
      versionCol: String,
      process: DataFrame => DataFrame,
      filesPerTrigger: Int = 1): StreamingQuery = {

    Admission.start(spark, queueDir, checkpointDir, filesPerTrigger) {
      (batch, batchId) =>
        val processed = process(batch)
          .withColumn("status", lit("concluido"))
          .withColumn("batch_id", lit(batchId))
        UpsertWriter.upsert(
          batch.sparkSession, stateDir, processed, keys, versionCol)
    }
  }
}
