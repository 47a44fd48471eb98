package graft.streaming

import graft.operators.DedupOps
import graft.sinks.UpsertWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous NEAR-dup ingest — the streaming form of
  * `dedup_incremental` (new batch × existing corpus at banded-LSH
  * candidates only) on the family's [[Admission]] kernel, which owns
  * the micro-batch: counts, keep-latest, clustering, the committed
  * read, the write shapes and the log.
  *
  * This worker's signal ([[lexical]]):
  *
  *  1. WITHIN-BATCH pairs: band signatures (32 hashes, 8×4 bands — the
  *     family's standard J≥0.8 operating point) self-join into
  *     candidate pairs, and exact 3-gram Jaccard verifies them; the
  *     kernel's min-label propagation keeps the lowest doc_id per
  *     cluster.
  *  2. VS-CORPUS check: the winners' band signatures equi-join the
  *     stored signature INDEX table and collisions verify by exact
  *     Jaccard against only the colliding survivors' texts (semi-join
  *     pruned). A winner matching an admitted survivor at ≥ threshold
  *     drops; cluster members it represented fall with it.
  *  3. ADMIT: fresh winners go to the survivors table (keyed by doc_id)
  *     and their signatures to the index (keyed by (band, sig, doc_id))
  *     — both idempotent under replay; self-collisions in the index
  *     check are filtered on doc_id, so a replayed winner never drops
  *     against its own crashed-attempt signature row.
  *
  * Scale posture: the index table IS `dedup_incremental`'s "stored
  * band signatures you append to" — (band, sig, doc_id) skinny rows,
  * bucketed by (band, sig) upstream of the join at 100 TB; candidate
  * work is bucket collisions only; Jaccard verify ships skinny
  * (pair, shingle) rows, never whole arrays.
  */
object NearDupIngest {

  /** One micro-batch of the drain, exactly as [[start]]'s foreachBatch
    * runs it — exposed (package-private) for the crash-replay contract
    * (a crash between this returning and the checkpoint commit
    * re-invokes it with the same batchId) and for the oracle gates,
    * which drive the two-batch split directly ([[graft.operators
    * .StreamingIngestOps]]'s harness note). */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      numHashes: Int = 32,
      bandRows: Int = 4,
      thresh: Double = 0.8,
      stateBuckets: Option[Int] = None): Unit =
    Admission.processBatch(batch, batchId, "doc_id",
      s"$warehouseDir/neardup_survivors", s"$warehouseDir/neardup_log",
      stateBuckets, normalize = textOrEmpty) { (docs, _) =>
      lexical(docs, s"$warehouseDir/neardup_index", numHashes, bandRows,
        thresh)
    }

  /** NULL text → '' (same reasoning as DedupIngest: NULL must be one
    * content class, not an ever-fresh row); word_shingles('') is empty,
    * so null/short docs are singletons that always admit. */
  private[streaming] def textOrEmpty(batch: DataFrame): DataFrame =
    batch.withColumn("text", coalesce(col("text"), lit("")))

  /** The lexical signal over a batch's `docs` (`doc_id`, `text`): band
    * signatures self-join into candidate pairs that exact 3-gram Jaccard
    * verifies; winners' signatures equi-join the stored band index at
    * `indexDir` — per-ingest work scales with the batch, never the
    * corpus — and collisions verify against only the colliding
    * survivors' texts. Admitted docs' (band, sig, doc_id) rows append to
    * that index. Shared with [[MultiSignalIngest]]. */
  private[streaming] def lexical(
      docs: DataFrame, indexDir: String, numHashes: Int, bandRows: Int,
      thresh: Double): Admission.Signal = {
    val s = docs.sparkSession
    def shingles(text: String) =
      call_function("word_shingles", col(text), lit(3)).as("shingles")
    val sets = docs.select(col("doc_id"), shingles("text")).persist()
    val sigs = DedupOps.bandSigs(sets, numHashes, bandRows).persist()
    val cand = sigs.as("x").hint("shuffle_hash")
      .join(sigs.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") &&
          col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // winners vs the stored corpus: candidates from the index table
    // only, verify texts from the PRIOR corpus, so a crashed attempt's
    // own rows — index and survivors alike — can never veto a replayed
    // winner (they yield no verify text). The index guards its OWN
    // `_SUCCESS`: a kill between the admit writes can leave survivors
    // committed with the index not yet born.
    def drops(winners: DataFrame, prior: DataFrame): Seq[DataFrame] =
      Admission.read(s, indexDir).toSeq.map { index =>
        val idx = index
          .select(col("band"), col("sig"), col("doc_id").as("doc_b"))
        val candX = sigs
          .join(winners.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .join(idx, Seq("band", "sig"))
          .filter(col("doc_id") =!= col("doc_b"))
          .select(col("doc_id").as("doc_a"), col("doc_b"))
          .distinct()
        // anti-join against the batch ids: a re-arrival REUSING a
        // survivor's doc_id would otherwise put two shingle rows for one
        // id into the verify relation; the batch version wins the verify
        val oldSets = prior
          .join(candX.select(col("doc_b").as("doc_id")).distinct(),
            Seq("doc_id"), "left_semi")
          .join(sets.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), shingles("text"))
        DedupOps.jaccardPairs(candX, sets.unionByName(oldSets), thresh)
          .select(col("doc_a").as("doc_id"))
      }
    Admission.Signal(
      pairs = DedupOps.jaccardPairs(cand, sets, thresh)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      drops = drops,
      extra = Seq(Admission.Extra(indexDir, sigs,
        Seq("band", "sig", "doc_id"), (numHashes / bandRows).toLong)),
      release = () => { sigs.unpersist(); sets.unpersist(); () })
  }

  /** Start the near-dup worker draining parquet document files from
    * `inputDir` (schema must carry `doc_id` and `text`; extra columns
    * ride into the survivors table). AvailableNow drain-and-stop +
    * checkpoint, like every worker in this package. */
  def start(
      spark: SparkSession,
      inputDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1,
      numHashes: Int = 32,
      bandRows: Int = 4,
      thresh: Double = 0.8,
      stateBuckets: Option[Int] = None): StreamingQuery =
    Admission.start(spark, inputDir, checkpointDir, filesPerTrigger) {
      (batch, batchId) => processBatch(batch, batchId, warehouseDir,
        numHashes, bandRows, thresh, stateBuckets)
    }

  /** TAKEDOWN: remove admitted documents matching `predicate` from the
    * corpus — survivors AND the band index ([[Admission.takedown]]:
    * one maintenance window, survivors first;
    * [[MultiSignalIngest.takedown]] has the full contract — removed,
    * not shadow-banned, the log kept as a journal, replay-safe via
    * folded tags). Returns (survivor rows removed, index rows
    * removed). */
  def takedown(
      spark: SparkSession,
      warehouseDir: String,
      predicate: org.apache.spark.sql.Column): (Long, Long) =
    Admission.takedown(spark, s"$warehouseDir/neardup_survivors",
      s"$warehouseDir/neardup_index", "neardup-takedown", predicate)

  /** Serving view: every admitted (near-dup-unique) document.
    * `batch_id` is the LAST batch that wrote the row (content version);
    * `first_admitted_batch` the batch that first admitted the key
    * (immutable — the replay anchor; backfilled to `batch_id` for
    * pre-upgrade tables). Empty — not an error — before the first
    * admitting batch. */
  def survivors(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.stateView(spark, s"$warehouseDir/neardup_survivors",
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("batch_id", LongType),
        StructField("first_admitted_batch", LongType))))

  /** The stored band index: (doc_id, band, sig, batch_id). */
  private[streaming] val IndexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("sig", StringType), StructField("batch_id", LongType)))

  /** Serving view: the stored band-signature index. */
  def index(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/neardup_index", IndexSchema)
      .drop(UpsertWriter.BucketCol)

  /** Serving view: the per-batch admission log. */
  def ingestLog(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/neardup_log",
      Admission.LogSchema)
}
