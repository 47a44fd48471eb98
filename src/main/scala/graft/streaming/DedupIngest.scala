package graft.streaming

import graft.Exprs
import graft.obs.Obs
import graft.sinks.UpsertWriter
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Continuous exact-dedup ingest — the K2 insert-if-absent contract
  * (SURVEY §2.2; tarefa_processar_fila.php's "skip if key exists"
  * applied to document content) as STRUCTURED STREAMING over the
  * `documents` shape: each arriving micro-batch keeps the first copy
  * of every content hash ever seen and drops the rest, exactly once
  * under kill/resume.
  *
  * Dedup state lives in the SURVIVORS TABLE, not in executor memory:
  * each batch resolves its within-batch winners (row_number over the
  * content hash, lowest doc_id wins — deterministic under replay),
  * then anti-joins the survivors table on the hash to drop everything
  * already admitted, then upserts the remainder keyed by hash. A
  * `flatMapGroupsWithState` form would carry every hash ever seen as
  * operator state — unbounded, checkpoint-fattening, and lost to a
  * checkpoint wipe; the table form IS the state, it compacts like any
  * table, and replay is idempotent for free ([[UpsertWriter]] keyed
  * merge + the anti-join dropping rows a crashed attempt already
  * wrote).
  *
  * First-wins semantics: across batches, first ARRIVAL wins (the
  * earlier batch admitted the hash); within a batch, lowest doc_id.
  * A replayed batch re-derives the identical winner set against the
  * identical admitted-before state, so restarts restate rather than
  * duplicate — the same argument as [[QueueWorker]]'s acks, with the
  * anti-join standing in for the claim check.
  *
  * Observability: a `dedup_log` table records per batch how many rows
  * arrived, lost the within-batch race, were already admitted, and
  * were admitted now — keyed by batch_id, so replays restate the same
  * log row instead of appending a second.
  *
  * Scale posture: per-batch cost is one batch-sized window (hash
  * groups) plus one keyed equi-join of the batch against the
  * survivors table — batch-sized shuffle on one side, hash-pruned
  * scan of the other; nothing grows with stream lifetime except the
  * table itself. At micro-batch sizes the cost is fixed per-job
  * overhead, so a batch runs three queries: the fresh count (the
  * arrivals and winners counts ride it as observations, and the
  * corpus read declares its schema rather than inferring it), the
  * survivors append and the log append — 7 Spark jobs, counting the
  * fresh count's adaptive stages. A batch under 100k fresh rows lands
  * ONE survivors delta file (one per touched bucket when bucketed), so
  * the table every later anti-join scans grows by one footer per
  * batch, not one per shuffle partition. At 100 TB the survivors
  * table is bucketed or partitioned by hash prefix upstream of the
  * join; the anti-join needs only the `content_hash` column either
  * way (column-pruned scan).
  */
object DedupIngest {

  /** Start the dedup worker draining parquet document files from
    * `inputDir` (schema must carry `doc_id` and `text`; extra columns
    * ride along into the survivors table). AvailableNow drain-and-stop
    * + checkpoint, like every worker in this package: re-invoke on a
    * schedule or resume after a kill. */
  def start(
      spark: SparkSession,
      inputDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1,
      stateBuckets: Option[Int] = None): StreamingQuery = {

    val survivorsDir = s"$warehouseDir/dedup_survivors"
    val logDir = s"$warehouseDir/dedup_log"

    Admission.start(spark, inputDir, checkpointDir, filesPerTrigger) {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // NULL text coalesces to '' BEFORE hashing: phash(NULL) is NULL,
        // and a NULL hash never matches itself in the anti-join — a
        // null-text doc would be "fresh" every batch, each replay
        // replacing the prior survivor (first-arrival-wins broken, log
        // double-counting). Collapsing NULL and empty text onto one
        // content class admits exactly one empty survivor instead. The
        // arrivals count rides the fresh count as an observation, like
        // the winners count below, so the arrivals are read once, by
        // the window's shuffle stage.
        val inObs = Observation()
        val hashed = batch
          .withColumn("content_hash", Exprs.phash(coalesce(col("text"), lit(""))))
          .observe(inObs, count(lit(1)).as("n"))

        // within-batch winner per hash: lowest doc_id — a total
        // order, so a replayed batch picks the same winner
        val winners = hashed
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))))
          .filter(col("__rn") === 1).drop("__rn")

        // cross-stream check rides the TABLE, not operator state:
        // hashes some PRIOR batch already admitted drop here. The
        // `batch_id < batchId` filter excludes rows a crashed attempt
        // at THIS batch wrote (an admitted hash keeps its admitting
        // batch_id forever — later copies never reach the upsert, and
        // later batches run only after this one commits), so a replay
        // recomputes the IDENTICAL fresh set instead of seeing its own
        // rows as "already admitted" — which makes nFresh the
        // attempt-invariant admissions count and the re-upsert a
        // keyed no-op restatement. The declared schema (the two columns
        // the join reads) spares a schema-inference job over the
        // growing table; a bucketed table's `__bucket` is still
        // discovered from its paths.
        val seen =
          if (!Admission.committed(survivorsDir))
            winners.limit(0).select(col("content_hash"))
          else s.read.schema(SeenSchema).parquet(survivorsDir)
            .filter(col("batch_id") < batchId)
            .select(col("content_hash"))
        // the winners count folds into the fresh count's job via the
        // Observation API (every winner row flows through the anti
        // join's left side exactly once) instead of scheduling its
        // own job — at micro-batch sizes per-job overhead dominates
        val winObs = Observation()
        val fresh = winners
          .observe(winObs, count(lit(1)).as("n"))
          .join(seen, Seq("content_hash"), "left_anti")
          .withColumn("batch_id", lit(batchId))
          .persist()
        try {
          val nFresh = Obs.phase(s, "corpus-check")(fresh.count())
          val nIn = inObs.get("n").asInstanceOf[Long]
          val nBatchDupes = nIn - winObs.get("n").asInstanceOf[Long]

          // The fresh set is PURE-INSERT by construction — the
          // anti-join just proved every content_hash absent, and an
          // admitted hash is never re-admitted — so both layouts
          // append: O(batch) delta files, replay-idempotent by
          // deterministic file names, no state read or rewritten on
          // ingest. Under 100k rows the write stages through one task:
          // one delta file per batch (per touched bucket when bucketed)
          // instead of one per shuffle partition of the cached set.
          if (nFresh > 0) Obs.phase(s, "admit-upserts")(Admission.writeState(
            s, survivorsDir, fresh, nFresh, Seq("content_hash"),
            pureInsert = true, batchId, stateBuckets))

          // admissions = nFresh, attempt-invariant because `seen`
          // excludes this batch's own crashed-attempt rows (above) —
          // the replay's anti-join recomputes the identical fresh
          // set. This replaces a second O(corpus) table scan per
          // batch (the anti-join's is structural; the count's wasn't).
          val nAdmitted = nFresh

          // the log restates on replay (keyed by batch_id) — written
          // LAST, so a crash between the writes replays the batch into
          // the identical split
          import s.implicits._
          Obs.phase(s, "log-upsert")(Admission.appendLog(s, logDir, batchId,
            Seq((batchId, nIn, nBatchDupes, nIn - nBatchDupes - nAdmitted,
              nAdmitted))
              .toDF("batch_id", "n_in", "n_batch_dupes", "n_seen_before",
                "n_admitted")))
        } finally fresh.unpersist()
    }
  }

  /** The survivors columns the corpus check reads. */
  private val SeenSchema = StructType(Seq(
    StructField("content_hash", LongType), StructField("batch_id", LongType)))

  /** TAKEDOWN: remove admitted documents matching `predicate` (over
    * the survivors schema) from the corpus — a searched row-grain
    * [[UpsertWriter.deleteWhere]] under the maintenance lease
    * ([[MultiSignalIngest.takedown]]'s contract: the admission log is
    * a journal and stays; a replayed batch whose deltas the rewrite
    * folded stays a no-op; a later IDENTICAL document is then
    * ADMITTED — removed, not shadow-banned). Returns rows removed. */
  def takedown(
      spark: SparkSession,
      warehouseDir: String,
      predicate: org.apache.spark.sql.Column): Long =
    Admission.deleteWhere(spark, s"$warehouseDir/dedup_survivors", predicate)

  /** Serving view: every admitted (first-arrival) document. Empty — not
    * an error — before the first committed batch, and a crashed partial
    * write stays invisible until its upsert commits (`_SUCCESS` guard,
    * uniform across this package's serving reads). The declared schema
    * covers the contract columns; extra input columns ride along once
    * committed. */
  def survivors(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/dedup_survivors",
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("content_hash", LongType),
        StructField("batch_id", LongType))))
      .drop(UpsertWriter.BucketCol) // derived layout, not data (no-op unbucketed)

  /** Serving view: the per-batch admission log. */
  def ingestLog(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/dedup_log",
      StructType(Seq(
        StructField("batch_id", LongType),
        StructField("n_in", LongType),
        StructField("n_batch_dupes", LongType),
        StructField("n_seen_before", LongType),
        StructField("n_admitted", LongType))))
}
