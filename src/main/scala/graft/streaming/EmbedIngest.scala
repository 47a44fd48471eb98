package graft.streaming

import graft.operators.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous EMBEDDING-cosine near-dup ingest — the streaming form of
  * `dedup_embedding_cosine`, completing the dedup worker family
  * ([[DedupIngest]] exact, [[NearDupIngest]] lexical MinHash-LSH, this
  * one semantic) on the family's [[Admission]] kernel.
  *
  * Candidates come from the batch family's OCCUPANCY-SCALED
  * random-hyperplane cells: every vector stores its FULL
  * `CellMaxBits`-wide signature, and each batch masks signatures — its
  * own and the stored corpus's — down to the smallest width whose
  * expected cell occupancy stays at the target for the corpus size
  * *as of that batch*. Storing full signatures is what makes the index
  * maintenance-free: when the corpus outgrows a mask width, the next
  * batch simply masks one bit wider at read time — there is NOTHING to
  * re-fit or rewrite, in deliberate contrast to [[AnnIngest]]'s frozen
  * coarse quantizer (data-dependent centroids age and need
  * [[AnnIngest.refit]]; data-independent hyperplanes never do — the
  * standard LSH-vs-IVF maintenance trade).
  *
  * This worker's signal ([[semantic]]):
  *
  *  1. WITHIN-BATCH pairs: Hamming-1 MULTIPROBE cell-collision pairs
  *     (each vector probes its own cell plus every single-bit flip —
  *     `dedup_embedding_cosine_mp`'s measured recall trade) verified by
  *     the family's 1e-6-quantized cosine ≥ `thresh`; the kernel keeps
  *     the lowest vec_id per cluster.
  *  2. VS-CORPUS check: winners' probe rings equi-join the stored
  *     survivors' re-masked signatures; collisions verify by the same
  *     quantized cosine — the identical admit definition as step 1 and
  *     as the serving-side [[nearDuplicates]] default.
  *
  * Replay determinism of the MASK: the corpus count that picks the
  * width is (survivors FIRST admitted by prior batches, from the
  * admission log) + (this batch's id-deduped arrivals), and the corpus
  * check filters the stored table on the immutable
  * `first_admitted_batch` ([[Admission]]'s replay anchor), so a replay
  * sees the identical corpus count, mask and candidate structure.
  *
  * NULL/empty embeddings have no geometry: their cosine is NULL, so
  * they form no edges and admit as singletons (one row per vec_id via
  * the keyed upsert) — the semantic analogue of [[DedupIngest]]'s
  * NULL-text-is-one-content-class rule, except classes here need a
  * vector to exist.
  *
  * Scale posture: per-batch work is batch×batch and batch×corpus CELL
  * COLLISIONS only — in-cell occupancy is held ≈ [[DedupOps.CellOcc]]
  * by construction, so both joins are linear in the batch at any
  * corpus size; the survivors table is bucketable by `cell` derived
  * columns downstream, and signatures are one LONG per vector.
  */
object EmbedIngest {

  /** One micro-batch of the drain, exactly as [[start]]'s foreachBatch
    * runs it — exposed (package-private) so the crash-replay specs can
    * drive a batch twice with the SAME `batchId`, the contract a
    * foreachBatch body must survive: the checkpoint commits AFTER this
    * returns, so a crash in between re-delivers the whole batch. */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      thresh: Double = 0.4,
      stateBuckets: Option[Int] = None): Unit =
    Admission.processBatch(batch, batchId, "vec_id",
      s"$warehouseDir/embed_survivors", s"$warehouseDir/embed_log",
      stateBuckets, prepare = DedupOps.embeddingSigged) {
      (docs, corpusSize) => semantic(docs, "vec_id", corpusSize, thresh)
    }

  /** The semantic signal over a batch's `docs` (keyed by `key`, carrying
    * [[DedupOps.embeddingSigged]]'s `v`, `norm` and `sig`), under the
    * occupancy mask for `corpusSize`. The admit definition is the SAME
    * within the batch and against the corpus, or a near-dup pair would
    * admit together when co-arriving and dedup when split across
    * batches. Shared with [[MultiSignalIngest]]. */
  private[streaming] def semantic(
      docs: DataFrame, key: String, corpusSize: Long,
      thresh: Double): Admission.Signal = {
    val mask = lit(DedupOps.cellMaskFor(corpusSize))
    def probes = explode(
      DedupOps.cellProbes(col("sig").bitwiseAND(mask))).as("probe")
    // the ordered side probes its own cell plus every single-bit flip,
    // so a pair at Hamming ≤ 1 matches on exactly ONE probe — no
    // distinct needed, no pair scored twice
    val a = docs.select(col(key).as("va_id"), probes,
      col("v").as("va"), col("norm").as("na"))
    val b = docs.select(col(key).as("vb_id"),
      col("sig").bitwiseAND(mask).as("cb"), col("v").as("vb"),
      col("norm").as("nb"))
    // stored rows re-mask their full signatures at read time
    def drops(winners: DataFrame, prior: DataFrame): Seq[DataFrame] = {
      val corpusCells = DedupOps.withVNorm(
          prior.select(col(key).as("vb_id"), col("embedding"), col("sig")))
        .select(col("vb_id"), col("v").as("vb"), col("norm").as("nb"),
          col("sig").bitwiseAND(mask).as("cb"))
      Seq(winners.select(col(key), col("v"), col("norm"), probes)
        .join(corpusCells,
          col("probe") === col("cb") && col(key) =!= col("vb_id"))
        .filter(DedupOps.quantCos(
          col("v"), col("norm"), col("vb"), col("nb")) >= thresh)
        .select(col(key)))
    }
    Admission.Signal(
      pairs = a
        .join(b, col("probe") === col("cb") && col("va_id") < col("vb_id"))
        .filter(DedupOps.quantCos(
          col("va"), col("na"), col("vb"), col("nb")) >= thresh)
        .select(col("va_id").as("src"), col("vb_id").as("dst")),
      drops = drops,
      scratch = Seq("v", "norm"))
  }

  /** Start the worker draining parquet embedding files from `inputDir`
    * (schema must carry `vec_id` and `embedding: array<float>`; extra
    * columns ride into the survivors table). AvailableNow
    * drain-and-stop + checkpoint, like every worker in this package. */
  def start(
      spark: SparkSession,
      inputDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1,
      thresh: Double = 0.4,
      stateBuckets: Option[Int] = None): StreamingQuery =
    Admission.start(spark, inputDir, checkpointDir, filesPerTrigger) {
      (batch, batchId) =>
        processBatch(batch, batchId, warehouseDir, thresh, stateBuckets)
    }

  /** Serving-side near-duplicate lookup against the stored corpus: for
    * each query row (`query_id`, `embedding`) return every admitted
    * survivor within `thresh` quantized cosine. Candidates come from
    * the same occupancy-scaled cells the ingest admits through — the
    * mask is derived from the CURRENT corpus size, stored full-width
    * signatures re-mask at read time — widened to the Hamming-1
    * multiprobe ring by default (`dedup_embedding_cosine_mp`'s measured
    * recall trade: a probe ring costs (bits+1)× candidates, still
    * occupancy-bounded per probe). The query side is the small side:
    * at scale it broadcasts into a map-side join against the bucketed
    * survivors table; the corpus never shuffles.
    *
    * Returns (query_id, vec_id, cos_sim), empty before the first
    * admitting batch. */
  def nearDuplicates(
      spark: SparkSession,
      warehouseDir: String,
      queries: DataFrame,
      thresh: Double = 0.4,
      multiprobe: Boolean = true): DataFrame = {
    val surv = survivors(spark, warehouseDir)
    // corpus size from the admission LOG (one row per batch) instead
    // of a full survivors count
    val mask = DedupOps.cellMaskFor(
      Admission.corpusSize(ingestLog(spark, warehouseDir)))
    val corpus = DedupOps.withVNorm(
        surv.select(col("vec_id"), col("embedding"), col("sig")))
      .select(col("vec_id"), col("v").as("vb"), col("norm").as("nb"),
        col("sig").bitwiseAND(lit(mask)).as("cell"))
    val q = DedupOps.embeddingSigged(
        queries.select(col("query_id"), col("embedding")))
      .withColumn("qcell", col("sig").bitwiseAND(lit(mask)))
    val probed =
      if (multiprobe)
        q.select(col("query_id"), col("v"), col("norm"),
          explode(DedupOps.cellProbes(col("qcell"))).as("probe"))
      else
        q.select(col("query_id"), col("v"), col("norm"),
          col("qcell").as("probe"))
    corpus
      .join(broadcast(probed), col("probe") === col("cell"))
      .select(col("query_id"), col("vec_id"),
        DedupOps.quantCos(col("v"), col("norm"), col("vb"), col("nb"))
          .as("cos_sim"))
      .filter(col("cos_sim") >= thresh)
  }

  /** TAKEDOWN: remove admitted vectors matching `predicate` from the
    * corpus — a searched row-grain [[Admission.deleteWhere]] under the
    * maintenance lease ([[MultiSignalIngest.takedown]]'s contract:
    * the admission log is a journal and stays, so the occupancy mask
    * keeps its monotone capacity sizing; folded tags keep replays
    * no-ops; a later duplicate of a removed vector is ADMITTED).
    * Returns rows removed. */
  def takedown(
      spark: SparkSession,
      warehouseDir: String,
      predicate: org.apache.spark.sql.Column): Long =
    Admission.deleteWhere(spark, s"$warehouseDir/embed_survivors", predicate)

  /** Serving view: every admitted (semantically-unique) vector with its
    * full-width signature. `batch_id` is the LAST batch that wrote the
    * row (content version); `first_admitted_batch` the batch that first
    * admitted the key (immutable — the replay-determinism anchor;
    * backfilled to `batch_id` for pre-upgrade tables).
    * Empty — not an error — before the first admitting batch. */
  def survivors(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.stateView(spark, s"$warehouseDir/embed_survivors",
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("sig", LongType), StructField("batch_id", LongType),
        StructField("first_admitted_batch", LongType))))

  /** Serving view: the per-batch admission log. */
  def ingestLog(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/embed_log",
      Admission.LogSchema)
}
