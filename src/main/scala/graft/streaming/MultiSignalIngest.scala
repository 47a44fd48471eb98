package graft.streaming

import graft.operators.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous MULTI-SIGNAL dedup ingest — the streaming form of
  * `dedup_multi_signal`, and the capstone of the worker family: one
  * drain admits a document only if it is neither a LEXICAL near-dup
  * (MinHash-LSH banded candidates, exact 3-gram Jaccard ≥ 0.8) nor a
  * SEMANTIC near-dup (occupancy-scaled hyperplane cells probed over
  * the Hamming-1 ring, quantized cosine ≥ 0.4) of anything admitted
  * before it — and within a batch,
  * clusters close over the UNION of both edge sets, so a mixed chain
  * (A lexically copies B, B paraphrases C) collapses to ONE winner,
  * which neither single-signal worker can do.
  *
  * Input rows carry `doc_id`, `text`, AND `embedding` (the combined
  * corpus+vector stream a production pipeline lands after the
  * embedding service). State: `ms_survivors` (full row + 16-bit
  * hyperplane signature), `ms_index` (the lexical (band, sig, doc_id)
  * rows — [[NearDupIngest]]'s index discipline), `ms_log`. The
  * semantic side needs NO separate index: survivors re-mask their
  * stored full-width signatures at the width the corpus size calls
  * for as of each batch ([[EmbedIngest]]'s maintenance-free-index
  * contract; count = prior-batch admissions + the batch, so replays
  * see the identical mask).
  *
  * The signal is the union of [[NearDupIngest.lexical]] and
  * [[EmbedIngest.semantic]] (`Admission.Signal.++`); everything else —
  * keep-latest, clustering, the corpus check's replay anchor, the write
  * shapes, the log — is the family's [[Admission]] kernel.
  *
  * At corpus scale the keyed writes move to the bucketed forms through
  * `stateBuckets`: `Some(b)` routes the survivors and index writes
  * through b-way bucketed tables ([[Admission.writeState]] picks append
  * or touched-bucket merge per batch); the admission log stays plain —
  * one row per batch. The layouts are value-identical (the bucketed
  * gate `msb_ingest_bucketed_state` and the replay spec pin it):
  * `__bucket` is derived layout, dropped by every serving view.
  */
object MultiSignalIngest {

  /** One micro-batch of the drain, exactly as [[start]]'s foreachBatch
    * runs it — exposed (package-private) so the crash-replay specs can
    * drive a batch twice with the SAME `batchId`, the contract a
    * foreachBatch body must survive: the checkpoint commits AFTER this
    * returns, so a crash in between re-delivers the whole batch. */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      numHashes: Int = 32,
      bandRows: Int = 4,
      jaccardThresh: Double = 0.8,
      cosThresh: Double = 0.4,
      stateBuckets: Option[Int] = None): Unit =
    Admission.processBatch(batch, batchId, "doc_id",
      s"$warehouseDir/ms_survivors", s"$warehouseDir/ms_log", stateBuckets,
      normalize = NearDupIngest.textOrEmpty,
      prepare = DedupOps.embeddingSigged) { (docs, corpusSize) =>
      NearDupIngest.lexical(docs, s"$warehouseDir/ms_index", numHashes,
        bandRows, jaccardThresh) ++
        EmbedIngest.semantic(docs, "doc_id", corpusSize, cosThresh)
    }

  def start(
      spark: SparkSession,
      inputDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1,
      numHashes: Int = 32,
      bandRows: Int = 4,
      jaccardThresh: Double = 0.8,
      cosThresh: Double = 0.4,
      stateBuckets: Option[Int] = None): StreamingQuery =
    Admission.start(spark, inputDir, checkpointDir, filesPerTrigger) {
      (batch, batchId) => processBatch(batch, batchId, warehouseDir,
        numHashes, bandRows, jaccardThresh, cosThresh, stateBuckets)
    }

  /** Serving-side admission pre-check: for each candidate row
    * (`query_id`, `text`, `embedding`) report whether the worker WOULD
    * admit it against the current corpus, and the first matching
    * survivor per signal — the dedup-service endpoint a production
    * ingest fronts with. Probes are exactly the worker's own: band
    * collisions + exact Jaccard for the lexical side, Hamming-1
    * probe-ring cell collisions + quantized cosine for the semantic
    * side (mask sized from the admission log's running count,
    * [[EmbedIngest.nearDuplicates]]'s read-time contract). The
    * candidate side is the small side — it
    * broadcasts; the corpus never shuffles. Returns (query_id,
    * admit, lexical_match, semantic_match) with NULL match ids when a
    * signal finds nothing; an un-committed warehouse admits
    * everything. */
  def wouldAdmit(
      spark: SparkSession,
      warehouseDir: String,
      candidates: DataFrame,
      numHashes: Int = 32,
      bandRows: Int = 4,
      jaccardThresh: Double = 0.8,
      cosThresh: Double = 0.4): DataFrame = {
    val surv = survivors(spark, warehouseDir)
    // corpus size for the mask from the admission LOG — one row per
    // batch, so the sizing scan is O(batches) instead of a full
    // survivors count per serving call. sum(n_admitted) IS the number
    // of distinct admitted keys (first admissions only, rows never
    // deleted) and is attempt-invariant under replay. A log lagging
    // one crashed batch undercounts, which only NARROWS the mask —
    // more collisions checked, never a missed near-dup.
    val mask = DedupOps.cellMaskFor(
      Admission.corpusSize(ingestLog(spark, warehouseDir)))
    // no persists here: the result is returned LAZY, so a persist
    // released before the caller's action would never serve a read —
    // it would only bill an extra materialization
    val q = DedupOps.embeddingSigged(
        candidates.select(col("query_id"),
          coalesce(col("text"), lit("")).as("text"), col("embedding")))
      .withColumn("qcell", col("sig").bitwiseAND(lit(mask)))
    // lexical: candidate bands vs the stored index, exact Jaccard
    // against only the colliding survivors' texts
    val qSets = q.select(col("query_id").as("doc_id"),
      call_function("word_shingles", col("text"), lit(3)).as("shingles"))
    val qBands = DedupOps.bandSigs(qSets, numHashes, bandRows)
    val idx = index(spark, warehouseDir)
      .select(col("band"), col("sig"), col("doc_id").as("match_id"))
    val candL = broadcast(qBands).join(idx, Seq("band", "sig"))
      .select(col("doc_id").as("doc_a"), col("match_id").as("doc_b"))
      .distinct()
    val oldSets = surv
      .join(candL.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        call_function("word_shingles", col("text"), lit(3)).as("shingles"))
    // two-sided verify join (not the worker's shared-relation form):
    // query ids and corpus doc_ids live in separate relations here,
    // so a caller's query_id colliding with a survivor id can never
    // cross-contaminate the shingle lookup. array_intersect/union
    // over the already-distinct shingle sets is the same Jaccard.
    val lexHit = candL
      .join(qSets.select(col("doc_id").as("doc_a"),
        col("shingles").as("sha")), "doc_a")
      .join(oldSets.select(col("doc_id").as("doc_b"),
        col("shingles").as("shb")), "doc_b")
      .filter(size(array_intersect(col("sha"), col("shb")))
        .cast(DoubleType) /
        size(array_union(col("sha"), col("shb"))) >= jaccardThresh)
      .groupBy(col("doc_a").as("query_id"))
      .agg(min(col("doc_b")).as("lexical_match"))
    // semantic: candidate cells vs survivors' re-masked signatures
    val corpusCells = DedupOps.withVNorm(
        surv.select(col("doc_id").as("match_id"), col("embedding"),
          col("sig")))
      .select(col("match_id"), col("v").as("vb"), col("norm").as("nb"),
        col("sig").bitwiseAND(lit(mask)).as("cb"))
    val semHit = corpusCells
      .join(broadcast(q.select(col("query_id"), col("v"), col("norm"),
        explode(DedupOps.cellProbes(col("qcell"))).as("probe"))),
        col("probe") === col("cb"))
      .filter(DedupOps.quantCos(
        col("v"), col("norm"), col("vb"), col("nb")) >= cosThresh)
      .groupBy(col("query_id"))
      .agg(min(col("match_id")).as("semantic_match"))
    q.select(col("query_id"))
      .join(lexHit, Seq("query_id"), "left")
      .join(semHit, Seq("query_id"), "left")
      .select(col("query_id"),
        (col("lexical_match").isNull && col("semantic_match").isNull)
          .as("admit"),
        col("lexical_match"), col("semantic_match"))
  }

  /** TAKEDOWN — remove every admitted document matching `predicate`
    * (over the survivors schema; a doc_id predicate fits both tables)
    * from the corpus: the survivors table AND the lexical band index,
    * two searched row-grain [[graft.sinks.UpsertWriter.deleteWhere]]
    * passes under ONE maintenance window spanning both tables
    * ([[graft.sinks.TableLease.withMaintenance]] is re-entrant), so a
    * foreign lease on EITHER table refuses the whole takedown before
    * the first row is deleted — never between the two deletes. The
    * right-to-be-forgotten / contaminated-source op a training-data
    * pipeline cannot live without at 100 TB, where the alternative is
    * a corpus rewrite.
    *
    * CRASH CONTRACT (pinned by `WorkerTakedownSpec`'s crash-injection
    * case): the two deletes are ordered SURVIVORS FIRST, and each is
    * individually idempotent, so a crash between them leaves an
    * ORPHANED-INDEX window — index rows whose documents are already
    * gone. That window is (a) NEVER a shadow ban: admission's lexical
    * verify joins index candidates back to the survivors' stored texts
    * (an inner join on the shingle sets), so a dangling index row has
    * no text to verify against and can neither drop a new admission
    * nor resurrect the removed document — its only cost is dead index
    * storage plus discarded candidate-join rows; and (b) HEALED by
    * re-running the same takedown to completion, which deletes the
    * leftover index rows and is a no-op on the already-clean survivors
    * — a partially-applied takedown MUST be re-run (the first delete's
    * count having been observed does not mean the document's index
    * footprint is gone). The reverse order would be worse on both
    * axes: a dangling SURVIVOR (index deleted first) would stay
    * admittable-against forever.
    *
    * Semantics after a takedown: later batches check admission against
    * the REDUCED corpus — a new near-dup of a removed document is
    * ADMITTED (the document is gone, not shadow-banned). The admission
    * LOG is a journal and stays untouched: the occupancy mask is a
    * CAPACITY parameter sized from cumulative admissions (monotone, so
    * every replica and replay derives the identical width), and a
    * takedown does not rewind capacity. The mask therefore stays at or
    * above the exact-occupancy width — the same recall/cost policy
    * point the worker would reach again as the corpus regrows — and
    * the oracle twin replays exactly this (mask from the journal
    * count, drops from the reduced corpus), so the policy is pinned,
    * not drifting.
    * Replay safety rides the folded-tag records deleteWhere writes for
    * every touched leaf: a crashed batch replaying AFTER the takedown
    * is a no-op, so deleted rows are never resurrected by re-delivery
    * (pinned end-to-end by the `msb_ingest_takedown_rebucket` gate).
    * Returns (survivor rows removed, index rows removed); an
    * uncommitted warehouse removes nothing. */
  def takedown(
      spark: SparkSession,
      warehouseDir: String,
      predicate: org.apache.spark.sql.Column): (Long, Long) =
    Admission.takedown(spark, s"$warehouseDir/ms_survivors",
      s"$warehouseDir/ms_index", "ms-takedown", predicate,
      between = () => takedownFault())

  /** Crash-injection hook for the takedown's between-deletes window —
    * test-only, a no-op in production (the spec swaps in a throwing
    * hook to pin the orphaned-index contract documented on
    * [[takedown]]). */
  private[graft] var takedownFault: () => Unit = () => ()

  /** Serving view: every admitted (multi-signal-unique) document with
    * its stored hyperplane signature. `batch_id` is the LAST batch that
    * wrote the row (content version); `first_admitted_batch` the batch
    * that first admitted the key (immutable — the replay anchor;
    * backfilled to `batch_id` for pre-upgrade tables). */
  def survivors(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.stateView(spark, s"$warehouseDir/ms_survivors",
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("sig", LongType), StructField("batch_id", LongType),
        StructField("first_admitted_batch", LongType))))

  /** Serving view: the lexical band-signature index. */
  def index(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/ms_index",
      NearDupIngest.IndexSchema)
      .drop(graft.sinks.UpsertWriter.BucketCol)

  /** Serving view: the per-batch admission log. */
  def ingestLog(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/ms_log",
      Admission.LogSchema)
}
