package graft.streaming

import graft.Exprs
import graft.sinks.UpsertWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** SURVEY §2.9 T2 — the reference's D-3 late-data watermark
  * (tarefa_consolidar_dados.php:29 waits 3 days for ads metrics to
  * mature) as STRUCTURED STREAMING, with the late arrivals routed into
  * the T6 error side-channel instead of silently dropped.
  *
  * The watermark is DERIVED FROM THE DATA, exactly like the batch
  * `t2_asof_watermark`: the cutoff for batch N is
  * `max(event_day over batches < N) − delayDays`. Computing it from
  * PRIOR batches only (never the in-flight one) is what makes a
  * replayed batch deterministic: a resumed query re-runs batch N
  * against the identical committed watermark state, re-derives the
  * identical late/on-time split, and the keyed upserts restate instead
  * of duplicating — the same exactly-once argument as
  * [[QueueWorker]]'s acks. (The engine's own `withWatermark` drops
  * late rows inside the stateful operator where they are unobservable;
  * the split here happens in the DATA PLANE, so the error channel
  * carries the actual late rows — the reference's side-channel rows,
  * not just a count.)
  *
  * Three keyed tables under `warehouseDir`, every write an idempotent
  * [[UpsertWriter]] merge:
  *
  *  - `daily_partials` (event_day, batch_id, n_orders, receita): per-day
  *    PARTIALS per batch — the `StreamingIvmSpec` contract: partials,
  *    not running totals, are what survive batch replay; the serving
  *    view [[dailyTotals]] folds them (exact — receita partials are
  *    decimal-summed, so the fold is order-free).
  *  - `late_errors` (order_id, event_day, batch_id, status,
  *    mensagem_erro): T6-shaped rows for every late arrival, keyed by
  *    (order_id, batch_id).
  *  - `wm_state` (batch_id, max_event_day): the per-batch high-water
  *    marks the next batches' cutoffs derive from.
  *
  * Scale posture: each micro-batch does one day-grain aggregation of
  * the batch (batch-sized, not table-sized), the watermark read is a
  * one-row max over a batch-count-sized table, and the upserts shuffle
  * on their keys only. At 100 TB the partials table compacts by
  * re-keying old batches to a coarser grain — same upsert path.
  */
object WatermarkedIngest {

  /** Start the watermark worker draining parquet event files from
    * `inputDir`. Input schema must carry `order_id`, `event_time`
    * (timestamp) and `amount`; rate limit and trigger mirror
    * [[QueueWorker]] (AvailableNow drain-and-stop, re-invoked on a
    * schedule or resumed from the checkpoint after a kill). */
  def start(
      spark: SparkSession,
      inputDir: String,
      warehouseDir: String,
      checkpointDir: String,
      delayDays: Int = 3,
      filesPerTrigger: Int = 1): StreamingQuery = {

    val partialsDir = s"$warehouseDir/daily_partials"
    val lateDir = s"$warehouseDir/late_errors"
    val wmDir = s"$warehouseDir/wm_state"
    Admission.start(spark, inputDir, checkpointDir, filesPerTrigger) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val withDay = batch
          .withColumn("event_day", to_date(col("event_time")))
          .persist()
        try {
          // cutoff from PRIOR batches only — deterministic under replay
          val cutoff: Option[java.time.LocalDate] =
            if (!Admission.committed(wmDir)) None
            else {
              val r = s.read.parquet(wmDir)
                .filter(col("batch_id") < batchId)
                .agg(max(col("max_event_day")).as("m")).head()
              if (r.isNullAt(0)) None
              else Some(r.getDate(0).toLocalDate.minusDays(delayDays.toLong))
            }

          // rows with no event time can be neither on-time nor late —
          // without this split they'd fail BOTH cutoff predicates
          // (NULL comparisons) and vanish from every table, the exact
          // silent drop this module exists to prevent; they take the
          // error channel with their own verdict instead
          val dated = withDay.filter(col("event_day").isNotNull)
          val undated = withDay.filter(col("event_day").isNull)

          val late = cutoff
            .map(c => dated.filter(col("event_day") < lit(c)))
            .getOrElse(dated.limit(0))
          val ontime = cutoff
            .map(c => dated.filter(col("event_day") >= lit(c)))
            .getOrElse(dated)

          // T6 error channel: the late and undated rows themselves,
          // keyed so a replayed batch restates the same verdicts
          val lateRows = late.select(
            col("order_id"), col("event_day"),
            lit(batchId).as("batch_id"),
            lit("erro").as("status"),
            lit("late_arrival").as("mensagem_erro"))
            .unionByName(undated.select(
              col("order_id"), col("event_day"),
              lit(batchId).as("batch_id"),
              lit("erro").as("status"),
              lit("null_event_time").as("mensagem_erro")))
          if (lateRows.head(1).nonEmpty)
            UpsertWriter.upsert(s, lateDir, lateRows,
              keys = Seq("order_id", "batch_id"), versionCol = "batch_id")

          // per-day partials of the on-time rows (IVM contract)
          val partials = ontime
            .groupBy(col("event_day"))
            .agg(count(lit(1)).as("n_orders"),
              Exprs.dsum(col("amount")).as("receita"))
            .withColumn("batch_id", lit(batchId))
          UpsertWriter.upsert(s, partialsDir, partials,
            keys = Seq("event_day", "batch_id"), versionCol = "batch_id")

          // advance the high-water mark (last — a crash between the
          // writes above and this one replays the batch with the OLD
          // cutoff, restating identical rows)
          val m = withDay.agg(max(col("event_day")).as("m")).head()
          if (!m.isNullAt(0)) {
            import s.implicits._
            UpsertWriter.upsert(s, wmDir,
              Seq((batchId, m.getDate(0))).toDF("batch_id", "max_event_day"),
              keys = Seq("batch_id"), versionCol = "batch_id")
          }
        } finally withDay.unpersist()
    }
  }

  import org.apache.spark.sql.types._

  /** Serving view: fold the per-batch day partials to daily totals —
    * exact, because the receita partials are decimal sums. */
  def dailyTotals(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/daily_partials", StructType(Seq(
      StructField("event_day", DateType), StructField("n_orders", LongType),
      StructField("receita", DoubleType), StructField("batch_id", LongType))))
      .groupBy(col("event_day"))
      .agg(sum(col("n_orders")).as("n_orders"),
        Exprs.dsum(col("receita")).as("receita"))

  /** Serving view: the T6 error channel of late and undated arrivals. */
  def lateErrors(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/late_errors", StructType(Seq(
      StructField("order_id", LongType), StructField("event_day", DateType),
      StructField("batch_id", LongType), StructField("status", StringType),
      StructField("mensagem_erro", StringType))))
}
