package graft.streaming

import graft.operators.{AnnOps, SkewTools}
import graft.sinks.UpsertWriter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous ANN-index maintenance — the IVF ingest loop every
  * embedding store runs: a fixed coarse quantizer assigns each arriving
  * vector to its nearest centroid's cell, and the vector lands in that
  * cell's postings. Searches then probe a handful of cells instead of
  * the corpus ([[search]]) — the `ann_topk_ivf` family's contract, kept
  * current by a stream.
  *
  * State discipline is the package standard ([[DedupIngest]]): the
  * centroid table and the postings index are ordinary keyed tables —
  * no operator state, restarts restate because assignment is a pure
  * function of (vector, stored centroids) and the upsert is keyed by
  * vec_id; the log is keyed by batch_id and written last.
  *
  * TRAINING: the first non-empty batch bootstraps the quantizer — one
  * centroid per `label` cell via the engine-exact fixed-point mean
  * (`ann_ivf_centroids`' formula). From then on the centroids are
  * FROZEN in the ingest loop: later vectors are assigned by
  * nearest-centroid cosine, NOT by their label — the standard IVF
  * contract (training distribution fixes the cells; drift shows up as
  * unbalanced cells, audited from the log's per-batch cell spread).
  * A refresh is never silent: [[refit]] is a deliberate maintenance
  * pass that re-fits the same per-label mean over EVERYTHING ingested
  * and reassigns the whole index against the new quantizer, and
  * [[refitIfDrifted]] is the policy that triggers it from the measured
  * cell imbalance of the serving index — frozen by default, refreshed
  * on evidence, every refresh recorded in `ann_refit_log`.
  *
  * Scale posture: assignment is one broadcast of k centroid rows
  * against the batch (map-only argmax, no shuffle of the corpus);
  * per-ingest work scales with the batch; the postings table is
  * partitionable by cell, and [[search]] reads only the probed cells'
  * postings (partition-pruned at real scale).
  */
object AnnIngest {

  /** One micro-batch of the drain, exactly as [[start]]'s foreachBatch
    * runs it — exposed (package-private) for the crash-replay contract
    * and for the oracle gates' direct two-batch drive
    * ([[graft.operators.StreamingIngestOps]]'s harness note). */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      dim: Int = 64,
      stateBuckets: Option[Int] = None): Unit = {
    val s = batch.sparkSession
    val centroidsDir = s"$warehouseDir/ann_centroids"
    val indexDir = s"$warehouseDir/ann_index"
    val logDir = s"$warehouseDir/ann_log"
        val vecs = AnnOps.withNorm(batch).persist()
        try {
          val nIn = vecs.count()
          val cellAudit = if (nIn > 0) {
            // bootstrap the quantizer from the FIRST batch (frozen
            // after — written once, before the index, so a crash
            // between the writes replays assignment against the
            // identical centroids)
            if (!Admission.committed(centroidsDir)) {
              val withN = fitCentroids(vecs, dim)
                .withColumn("batch_id", lit(batchId))
              UpsertWriter.upsert(s, centroidsDir, withN,
                keys = Seq("cell"), versionCol = "batch_id")
            }

            val cents = s.read.parquet(centroidsDir)
            val assigned = nearestCell(vecs, cents)
              .select(col("cell"), col("vec_id"), col("label"),
                col("v"), col("norm"), lit(batchId).as("batch_id"))
            // first_admitted_batch lookup — the append-vs-merge
            // discriminator this worker was merge-only without: the
            // committed index is probed for the batch's keys, BUCKET-
            // PRUNED to the batch's touched buckets when the layout is
            // bucketed (partition pruning on the literal bucket list —
            // the lookup reads O(batch·bucket), never the index), and
            // filtered on the IMMUTABLE first_admitted_batch < batchId
            // so a crashed attempt's own rows are invisible and the
            // replay recomputes the identical branch ([[EmbedIngest]]'s
            // replay anchor). `assigned` is one row per vec_id
            // (nearestCell's argmax window collapses same-batch
            // duplicates), so a pure-insert batch satisfies
            // appendBucketed's distinct-keys contract by construction.
            val idxRaw = Admission.read(s, indexDir)
            // PHYSICAL-schema append gate, decided before the read-time
            // backfill masks a pre-upgrade table
            // ([[Admission.canAppendFirstAdmitted]])
            val idxCanAppend = Admission.canAppendFirstAdmitted(idxRaw)
            val priorFab = idxRaw.map { rawIdx =>
                val raw = Admission.withFirstAdmitted(rawIdx)
                // pin-resolved count ([[UpsertWriter.effectiveBuckets]]):
                // deriving prune targets from a STALE configured count
                // after a maintenance rebucket would filter the wrong
                // bucket directories and silently miss prior rows
                val pruned = stateBuckets
                    .map(UpsertWriter.effectiveBuckets(indexDir, _)) match {
                  case Some(b)
                      if raw.columns.contains(UpsertWriter.BucketCol) =>
                    // deliberate bounded collect — NOT a driver-side
                    // data loop: partition pruning only reaches the
                    // scan as LITERAL filter values, and this list is
                    // the batch's distinct bucket ids (≤ numBuckets
                    // ints, computed on the cached batch), never rows.
                    // A semi-join here would read the whole index.
                    val touched = vecs.select(
                      UpsertWriter.bucketOf(Seq("vec_id"), b).as("__b"))
                      .distinct().collect().map(_.getInt(0)).toSeq
                    raw.filter(
                      col(UpsertWriter.BucketCol).isin(touched: _*))
                  case _ => raw
                }
                pruned
                  .filter(col("first_admitted_batch") < batchId)
                  .select(col("vec_id"),
                    col("first_admitted_batch").as("__fab"))
              }
            val withFab = (priorFab match {
              case None => assigned
                .withColumn("first_admitted_batch", lit(batchId))
              case Some(corp) => assigned
                .join(corp, Seq("vec_id"), "left")
                .withColumn("first_admitted_batch",
                  coalesce(col("__fab"), lit(batchId)))
                .drop("__fab")
            }).persist()
            val audit = try {
              val fcnt = withFab.agg(count(lit(1)),
                count(when(col("first_admitted_batch") === batchId,
                  lit(1)))).head()
              // postings write in the family's shapes
              // ([[Admission.writeState]]): a pure-insert batch (every
              // key first-admitted now) appends, and the append
              // additionally gates on the PHYSICAL schema carrying
              // first_admitted_batch. The k-row centroid table and
              // one-row-per-batch log stay plain.
              Admission.writeState(s, indexDir, withFab, fcnt.getLong(0),
                Seq("vec_id"),
                fcnt.getLong(0) == fcnt.getLong(1) && idxCanAppend,
                batchId, stateBuckets)
              // batch stats for the log, in ONE audit pass over the
            // BATCH-LOCAL assignment (replay-deterministic: assignment
            // is a pure function of the cached batch and the frozen
            // centroids, and post-upsert the table's batch_id rows ARE
            // exactly these — so this equals the index re-scan it
            // replaces, minus the per-batch O(index) read):
            // [[SkewTools.audit]] yields rows indexed (totalRows),
            // cells touched (nKeys), and the hottest cell's share of
            // the batch (maxShare) — the DRIFT signal for the frozen
            // quantizer. A stream whose embedding distribution has
            // wandered off the training batch concentrates into ever
            // fewer cells, pushing cell_max_share from the balanced
            // ~1/k toward 1; the retrain policy reads this from the log
            // instead of discovering degraded recall downstream (the
            // quantizer itself stays frozen — a retrain is a deliberate
            // new table, never a silent re-fit).
              SkewTools.audit(withFab, "cell")
            } finally withFab.unpersist()
            audit
          } else SkewTools.SkewAudit("cell", 0L, 0L, 0L)
          import s.implicits._
          Admission.appendLog(s, logDir, batchId,
            Seq((batchId, nIn, cellAudit.totalRows, cellAudit.nKeys,
                cellAudit.maxShare))
              .toDF("batch_id", "n_in", "n_indexed", "n_cells_touched",
                "cell_max_share"))
        } finally vecs.unpersist()
    ()
  }

  /** Start the ANN-ingest worker draining parquet embedding files
    * (schema: vec_id, embedding array<float>, label) from `inputDir`.
    * AvailableNow drain-and-stop + checkpoint.
    *
    * @param dim embedding width — the centroid fold's zero vector must
    *            match it (the fixture corpus is 64-wide; a mismatched
    *            vector would zip into NULL centroid components) */
  def start(
      spark: SparkSession,
      inputDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1,
      dim: Int = 64,
      stateBuckets: Option[Int] = None): StreamingQuery =
    Admission.start(spark, inputDir, checkpointDir, filesPerTrigger) {
      (batch, batchId) =>
        processBatch(batch, batchId, warehouseDir, dim, stateBuckets)
    }

  /** Per-label fixed-point mean over prepared (label, v) rows — the
    * engine-exact quantizer fit (`ann_ivf_centroids`' formula). The
    * zip_with fold over collected vectors is a per-cell buffer — fine
    * for k small cells; the REGISTERED ann_ivf_centroids shows the
    * shuffle-free (i,j)-partial form used at scale. Quantized to 1e-7
    * like the batch query, so any re-fit replays bit-identically. */
  private def fitCentroids(vecs: DataFrame, dim: Int): DataFrame =
    vecs.groupBy(col("label").as("cell"))
      .agg(collect_list(col("v")).as("vs"))
      .select(col("cell"), transform(
        aggregate(
          col("vs"),
          array_repeat(lit(0.0), dim),
          (acc, x) => zip_with(acc, x, (a, b) => a + round(b * 1e7))),
        x => x / 1e7 / size(col("vs"))).as("centroid"))
      .withColumn("cnorm",
        sqrt(AnnOps.dot(col("centroid"), col("centroid"))))

  /** Nearest-centroid cell for prepared (vec_id, v, norm) rows: k
    * centroid rows broadcast, map-only argmax (cell asc breaks cosine
    * ties — and gives zero-norm vectors a deterministic home). Keeps
    * every input column and adds `cell`; the input must not already
    * carry `cell`/`centroid`/`cnorm`/`score`. */
  private def nearestCell(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cell").asc)
    vecs.crossJoin(broadcast(
        cents.select(col("cell"), col("centroid"), col("cnorm"))))
      .withColumn("score",
        AnnOps.dot(col("v"), col("centroid")) /
          (col("norm") * col("cnorm")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "score", "centroid", "cnorm")
  }

  /** One [[refit]]'s outcome: `preMaxShare`/`postMaxShare` are the
    * hottest cell's share of the whole index before/after, `nMoved`
    * the vectors whose cell changed. */
  final case class RefitReport(
      asOfBatch: Long, nVectors: Long, nMoved: Long,
      preMaxShare: Double, postMaxShare: Double)

  /** Deliberate quantizer refresh — the answer to a drift signal, never
    * an ingest side effect. Re-fits the per-label fixed-point mean over
    * EVERYTHING ingested (the bootstrap's formula, now weighted by the
    * full history), then reassigns every stored vector against the new
    * quantizer. Both writes ride [[UpsertWriter]]'s crash-safe keyed
    * merge: reassigned rows keep their original batch_id (provenance —
    * and the merge's update-wins-tie replaces the old image), centroids
    * are versioned at the index's high-water batch. Centroids land
    * FIRST, same as the bootstrap — a crash between the writes leaves
    * both tables committed and readable, and a re-run reassigns against
    * the already-new quantizer (refit is idempotent: re-fitting an
    * already-refit index moves nothing). The outcome is appended to
    * `ann_refit_log` keyed by the high-water batch, so a refresh is
    * always visible history, never a silent re-fit.
    *
    * SINGLE-WRITER contract: refit is a read-modify-write over the same
    * tables the ingest worker owns, so it must run in the maintenance
    * window BETWEEN AvailableNow drains (the package's operating mode —
    * every drain stops). Run concurrently with a live drain, refit's
    * merged image could be built from a read that predates the drain's
    * latest commit and swap that batch away. The maintenance window
    * ([[graft.sinks.TableLease]]) refuses a refit while a drain window
    * is open on the index or centroids, in any process.
    *
    * @param dim embedding width — must match the width [[start]] ran
    *            with (the re-fit folds into a `dim`-long zero vector;
    *            a mismatch zips stored vectors into NULL components) */
  def refit(
      spark: SparkSession, warehouseDir: String, dim: Int = 64): RefitReport =
    refitWith(spark, warehouseDir, dim, required = true) { (pre, highWater) =>
      // an empty committed index (e.g. truncated) has no high-water
      // batch and nothing to re-fit — refuse with a clear error instead
      // of an NPE on the null max
      require(pre.totalRows > 0L,
        s"refit on an empty index at $warehouseDir/ann_index")
      Some(highWater())
    }.get

  /** The refresh both [[refit]] and [[refitIfDrifted]] run, between
    * drains and inside the maintenance window over the centroids and
    * the index: audit ONE persisted index image, let `decide` pick the
    * high-water batch to refit at (None: no refresh), run
    * [[refitWrites]] and log the outcome. The audit, the high-water
    * read and the refresh all consume that one image, so no scan is
    * repeated and the decision cannot diverge from the state it acts
    * on. Without a committed index and centroids this refuses when
    * `required`, else returns None.
    *
    * The maintenance window ([[graft.sinks.TableLease]]) is checked: a
    * drain bracketed in withDrain is refused here instead of raced —
    * the session-scoped [[requireNoActiveDrain]] cannot see another
    * process's drain; the lease can. */
  private def refitWith(
      spark: SparkSession, warehouseDir: String, dim: Int, required: Boolean)(
      decide: (SkewTools.SkewAudit, () => Long) => Option[Long])
      : Option[RefitReport] = {
    val centroidsDir = s"$warehouseDir/ann_centroids"
    val indexDir = s"$warehouseDir/ann_index"
    requireNoActiveDrain(spark)
    val committed =
      Admission.committed(indexDir) && Admission.committed(centroidsDir)
    require(committed || !required,
      s"refit needs a committed index and centroids under $warehouseDir")
    if (!committed) None
    else graft.sinks.TableLease.withMaintenance(
        Seq(centroidsDir, indexDir), s"refit:pid${
          ProcessHandle.current().pid()}") {
      val idx = spark.read.parquet(indexDir).persist()
      val fired = try {
        val pre = SkewTools.audit(idx, "cell")
        decide(pre, () => idx.agg(max(col("batch_id"))).head().getLong(0))
          .map(asOf => (pre, asOf,
            refitWrites(spark, centroidsDir, indexDir, dim, idx, asOf)))
      } finally {
        // the post audit must NOT see idx: the CacheManager substitutes
        // a cached plan for any semantically equal read of the same
        // path, so a still-persisted pre-refit image would alias the
        // fresh read
        idx.unpersist(blocking = true); ()
      }
      fired.map { case (pre, asOf, nMoved) =>
        logRefit(spark, warehouseDir, pre, asOf, nMoved)
      }
    }
  }

  /** Runtime teeth for the SINGLE-WRITER contract (the doc alone was the
    * round-7 advice nit): a refresh started while ANY streaming query is
    * live in this session could read-modify-write across a drain's
    * in-flight commit and swap that batch away. The package's operating
    * mode is drain-and-stop, so "no active streams" is exactly the
    * maintenance window — cheap to check, loud when violated. (Session-
    * scoped: a drain driven from a different SparkSession over the same
    * warehouse is invisible here; the maintenance window's kernel lock
    * refuses a drain bracketed in `TableLease.withDrain`, in any
    * process.) */
  private def requireNoActiveDrain(spark: SparkSession): Unit = {
    val active = spark.streams.active
    require(active.isEmpty,
      s"refit must run between drains (single-writer contract); " +
        s"active streaming queries: ${active.map(_.name).mkString(", ")}")
  }

  /** The two refresh writes (new centroids, full reassignment) over
    * [[refitWith]]'s persisted index image. Returns the number of
    * vectors whose cell changed. The reassignment is persisted across
    * its two consumers (the moved-count and the index rewrite) — on a
    * real index the broadcast argmax is the dominant refresh cost and
    * must not run twice. */
  private def refitWrites(
      spark: SparkSession, centroidsDir: String, indexDir: String,
      dim: Int, idx: DataFrame, asOf: Long): Long = {
    UpsertWriter.upsert(spark, centroidsDir,
      fitCentroids(idx, dim).withColumn("batch_id", lit(asOf)),
      keys = Seq("cell"), versionCol = "batch_id")
    val reassigned = nearestCell(
      idx.withColumnRenamed("cell", "__old_cell"),
      spark.read.parquet(centroidsDir)).persist()
    try {
      val nMoved = reassigned
        .filter(col("cell") =!= col("__old_cell")).count()
      // a refresh follows the table's own pinned layout: reassignment
      // changes `cell`, never the vec_id key, so every row lands back in
      // its pinned bucket — the rewrite touches all buckets (a refit is
      // O(index) by design) but keeps the layout a later ingest merge
      // prunes against. A plain upsert here would flatten a bucketed
      // index (and the writer now refuses it).
      UpsertWriter.pinnedBuckets(indexDir) match {
        case Some(b) => UpsertWriter.upsertBucketed(spark, indexDir,
          reassigned.drop("__old_cell", UpsertWriter.BucketCol),
          keys = Seq("vec_id"), versionCol = "batch_id", numBuckets = b)
        case None => UpsertWriter.upsert(spark, indexDir,
          reassigned.drop("__old_cell"),
          keys = Seq("vec_id"), versionCol = "batch_id")
      }
      nMoved
    } finally { reassigned.unpersist(blocking = true); () }
  }

  /** Post-audit the rewritten index (fresh read — every pre-image cache
    * is gone by now), append the refresh to `ann_refit_log`, report.
    *
    * The log key is (as_of_batch, refit_seq): a MANUAL [[refit]] repeated
    * at the same high-water batch (a no-op rewrite — refit is idempotent)
    * appends under the next sequence number instead of silently replacing
    * the first refresh's record, keeping the "always visible history"
    * contract literal (round-7 advice nit). [[refitIfDrifted]] never
    * produces seq > 0 — it refuses to re-fire at a logged high-water
    * batch — so a seq > 0 row is itself an audit signal: someone re-ran
    * the maintenance pass by hand on an unchanged index. */
  private def logRefit(
      spark: SparkSession, warehouseDir: String,
      pre: SkewTools.SkewAudit, asOf: Long, nMoved: Long): RefitReport = {
    val post = SkewTools.audit(
      spark.read.parquet(s"$warehouseDir/ann_index"), "cell")
    val seq = refitLog(spark, warehouseDir)
      .filter(col("as_of_batch") === asOf).count()
    import spark.implicits._
    UpsertWriter.upsert(spark, s"$warehouseDir/ann_refit_log",
      Seq((asOf, seq, pre.totalRows, nMoved, pre.maxShare, post.maxShare))
        .toDF("as_of_batch", "refit_seq", "n_vectors", "n_moved",
          "pre_max_share", "post_max_share"),
      keys = Seq("as_of_batch", "refit_seq"), versionCol = "as_of_batch")
    RefitReport(asOf, pre.totalRows, nMoved, pre.maxShare, post.maxShare)
  }

  /** The refresh policy: [[refit]] exactly when the SERVING index is
    * measurably imbalanced — the hottest cell holds more than
    * `threshold` of all postings (balanced ≈ 1/k; a hot cell is the
    * thing that makes a probe scan half the corpus). Reads the measured
    * state, not the per-batch log, so one concentrated batch inside a
    * healthy index doesn't trigger a pointless rewrite — and refuses to
    * re-run at an index state it has already refit (the refit log's
    * high-water mark), so genuinely skewed DATA (where a re-fit moves
    * nothing) costs one recorded no-op, not a rewrite loop. Same
    * single-writer contract as [[refit]]: call it between drains, never
    * beside one. */
  def refitIfDrifted(
      spark: SparkSession, warehouseDir: String,
      threshold: Double = 0.5, dim: Int = 64): Option[RefitReport] =
    refitWith(spark, warehouseDir, dim, required = false) { (a, highWater) =>
      if (a.totalRows == 0L || a.maxShare <= threshold) None
      else {
        val asOf = highWater()
        val alreadyAt = refitLog(spark, warehouseDir)
          .filter(col("as_of_batch") === asOf).take(1).nonEmpty
        if (alreadyAt) None else Some(asOf)
      }
    }

  /** IVF search over the streamed index: rank cells by query↔centroid
    * cosine, probe the top `nprobe` cells, exact cosine top-`k` within
    * their postings. `queries` must be a small (vec_id, v, norm)
    * relation — it broadcasts twice. With `nprobe` ≥ the cell count
    * this is EXACT brute-force search (the spec's equivalence pin);
    * production picks nprobe ≪ cells and reads only those partitions. */
  def search(
      spark: SparkSession, warehouseDir: String,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    // both reads ride the _SUCCESS guard like the other serving views:
    // before the first committed batch (or after a crashed partial
    // write) the index is ABSENT, so search returns an empty result
    // instead of throwing on a missing path or reading an uncommitted
    // image the rest of the package treats as nonexistent
    val cents = Admission.tableOrEmpty(spark, s"$warehouseDir/ann_centroids",
      StructType(Seq(
        StructField("cell", IntegerType),
        StructField("centroid", ArrayType(DoubleType)),
        StructField("cnorm", DoubleType),
        StructField("batch_id", LongType))))
    val idx = index(spark, warehouseDir)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("norm").as("qn")))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col("cell").asc)
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("cscore",
        AnnOps.dot(col("qv"), col("centroid")) / (col("qn") * col("cnorm")))
      .withColumn("__rn", row_number().over(wCell))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    probed.join(idx, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (AnnOps.dot(col("qv"), col("v")) / (col("qn") * col("norm")))
          .as("cos"))
      .withColumn("rank", row_number().over(wTop).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** TAKEDOWN: remove indexed vectors matching `predicate` — a
    * searched row-grain [[UpsertWriter.deleteWhere]] on the postings
    * index under the maintenance lease. ONE table, so no multi-table
    * crash window exists here (unlike the two-table worker takedowns,
    * [[MultiSignalIngest.takedown]]): the frozen quantizer (centroids)
    * is deliberately NOT deleted from — it is fitted CAPACITY, not
    * per-row state, so no predicate over vectors names a centroid row,
    * and a centroid whose cell has lost every posting serves correctly
    * (probes of that cell simply return nothing). The next
    * [[refit]]/[[refitIfDrifted]] re-fits over what remains, exactly
    * as it would after any corpus shift — refit state is derived, the
    * postings are the single source of truth a takedown must reach.
    * Folded tags keep a crashed batch's replay a no-op, so removed
    * vectors are never resurrected by re-delivery. Returns rows
    * removed. */
  def takedown(
      spark: SparkSession,
      warehouseDir: String,
      predicate: org.apache.spark.sql.Column): Long =
    Admission.deleteWhere(spark, s"$warehouseDir/ann_index", predicate)

  /** Serving view: the postings index (cell, vec_id, v, norm).
    * `batch_id` is the LAST batch that wrote the row (bumped by a
    * re-sent key's update); `first_admitted_batch` the batch that first
    * indexed the key (immutable — the append-vs-merge discriminator;
    * backfilled to `batch_id` for pre-upgrade tables). */
  def index(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.stateView(spark, s"$warehouseDir/ann_index", StructType(Seq(
      StructField("cell", IntegerType), StructField("vec_id", LongType),
      StructField("label", IntegerType),
      StructField("v", ArrayType(DoubleType)),
      StructField("norm", DoubleType), StructField("batch_id", LongType),
      StructField("first_admitted_batch", LongType))))

  /** Serving view: the per-batch ingest log. `cell_max_share` is the
    * hottest cell's share of that batch's assignments — the quantizer
    * drift signal (balanced ≈ 1/k, drifted → 1). */
  def ingestLog(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/ann_log", StructType(Seq(
      StructField("batch_id", LongType), StructField("n_in", LongType),
      StructField("n_indexed", LongType),
      StructField("n_cells_touched", LongType),
      StructField("cell_max_share", DoubleType))))

  /** Serving view: one row per [[refit]], keyed by (high-water batch,
    * refit sequence at that batch) — the visible history the frozen
    * quantizer's refresh policy leaves behind. */
  def refitLog(spark: SparkSession, warehouseDir: String): DataFrame =
    Admission.tableOrEmpty(spark, s"$warehouseDir/ann_refit_log", StructType(Seq(
      StructField("as_of_batch", LongType),
      StructField("refit_seq", LongType),
      StructField("n_vectors", LongType), StructField("n_moved", LongType),
      StructField("pre_max_share", DoubleType),
      StructField("post_max_share", DoubleType))))
}
