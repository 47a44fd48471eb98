package graft.streaming

import graft.obs.Obs
import graft.operators.DedupOps
import graft.sinks.UpsertWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Continuous NEAR-dup ingest — the streaming form of
  * `dedup_incremental` (new batch × existing corpus at banded-LSH
  * candidates only), with [[DedupIngest]]'s state discipline: all
  * dedup state lives in TABLES, never in operator memory, so restarts
  * restate instead of duplicating and state compacts like any table.
  *
  * Per micro-batch:
  *
  *  1. WITHIN-BATCH clustering: band signatures (32 hashes, 8×4 bands
  *     — the family's standard J≥0.8 operating point) self-join into
  *     candidate pairs, exact 3-gram Jaccard verifies them, and
  *     min-label propagation ([[DedupOps.survivorsToFixpoint]]) picks
  *     one representative per near-dup cluster (lowest doc_id — a
  *     total order, so a replayed batch picks the same winners).
  *  2. VS-CORPUS check: the winners' band signatures equi-join the
  *     stored signature INDEX table — per-ingest work scales with the
  *     batch, never the corpus — and collisions verify by exact
  *     Jaccard against only the colliding survivors' texts (semi-join
  *     pruned). A winner matching an admitted survivor at ≥ threshold
  *     is dropped; cluster members it represented fall with it (the
  *     representative carries the cluster, the standard
  *     streaming-dedup contract).
  *  3. ADMIT: fresh winners upsert into the survivors table (keyed by
  *     doc_id) and their signatures append to the index (keyed by
  *     (band, sig, doc_id)) — both idempotent under replay. A crashed
  *     attempt's rows are keyed identically, so the retry restates
  *     them; self-collisions in the index check are filtered on
  *     doc_id, so a replayed winner never drops against its own
  *     crashed-attempt signature row.
  *
  * The admission log is keyed by batch_id and written LAST, with the
  * admitted count taken from the replay-deterministic batch-local
  * fresh set (no per-batch corpus scan — post-upsert the table's
  * `batch_id = batchId` rows are exactly that set).
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
      stateBuckets: Option[Int] = None): Unit = {
    val s = batch.sparkSession
    val survivorsDir = s"$warehouseDir/neardup_survivors"
    val indexDir = s"$warehouseDir/neardup_index"
    val logDir = s"$warehouseDir/neardup_log"
    // state-table write: hash-bucketed when stateBuckets is set (the
    // 100 TB form), whole-table otherwise — the family's shared
    // contract ([[MultiSignalIngest]] object doc). The bucketed path
    // picks its shape per batch exactly as Embed/MultiSignal do: a
    // PURE-INSERT batch (every fresh row first-admitted now — the
    // vs-corpus check just proved the keys absent) APPENDS O(batch)
    // delta files ([[UpsertWriter.appendBucketed]] — the form that
    // survives a firehose of fresh keys, where a touched-bucket merge
    // degenerates to O(corpus) once batch keys ≥ buckets); a batch
    // carrying any re-delivered admitted key (a content UPDATE) takes
    // the keyed touched-bucket MERGE for the whole fresh set, because
    // mixing same-batch appends with same-batch bucket rewrites breaks
    // replay (the rewrite folds appended rows into the bucket base; the
    // replayed append would re-add them). The branch condition is
    // replay-deterministic: both counts ride the IMMUTABLE
    // `first_admitted_batch` — set at a key's first admission, never
    // bumped by the keyed upsert ([[EmbedIngest]]'s replay anchor,
    // adopted here to unlock the append path this worker was merge-only
    // without).
    // config seeds the first write; the table's pin is authoritative
    // after that ([[UpsertWriter.effectiveBuckets]] — a maintenance
    // rebucket must land under a live worker config)
    def writeState(dir: String, df: DataFrame, keys: Seq[String],
        pureInsert: Boolean): Unit =
      stateBuckets.map(UpsertWriter.effectiveBuckets(dir, _)) match {
        case Some(b) if pureInsert => UpsertWriter.appendBucketed(
          s, dir, df, keys, batchTag = s"b$batchId", numBuckets = b)
        case Some(b) => UpsertWriter.upsertBucketed(
          s, dir, df, keys, versionCol = "batch_id", numBuckets = b)
        case None => UpsertWriter.upsert(
          s, dir, df, keys, versionCol = "batch_id")
      }
        // NULL text → '' (same reasoning as DedupIngest: NULL must be
        // one content class, not an ever-fresh row); word_shingles('')
        // is empty, so null/short docs are singletons that always admit
        val arrivals = batch
          .withColumn("text", coalesce(col("text"), lit("")))
          .withColumn("__seq", monotonically_increasing_id())
          .persist()
        try {
          // one job answers rows-in AND distinct keys; the keep-latest
          // window is then SKIPPED (no shuffle) when the batch provably
          // has no duplicate keys — both counts are of the delivered
          // batch, so the branch replays deterministically
          val cnt = Obs.phase(s, "in-count")(arrivals
            .agg(count(lit(1)), countDistinct(col("doc_id"))).head())
          val (nIn, nBatch) = (cnt.getLong(0), cnt.getLong(1))
          // keep-latest per doc_id BEFORE any counting: two rows sharing
          // a doc_id in one micro-batch (a same-batch re-delivery) would
          // otherwise both survive clustering — the self-pair is excluded
          // by doc_a < doc_b — and both count as winners while the keyed
          // upsert collapses them to one admitted row, misattributing
          // the collapse as a corpus dupe in the log. The keep rule
          // matches [[UpsertWriter]]'s within-batch tie-break: highest
          // arrival order (__seq) wins, so the admitted TEXT is the one
          // the upsert would have kept anyway. The collapse itself is
          // counted where it belongs, in n_batch_dupes.
          val wDoc = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("__seq").desc)
          val docs = (
            if (nIn == nBatch) arrivals.drop("__seq")
            else arrivals
              .withColumn("__rn", row_number().over(wDoc))
              .filter(col("__rn") === 1)
              .drop("__seq", "__rn"))
            .persist()
          try {
          val sets = docs
            .select(col("doc_id"),
              call_function("word_shingles", col("text"), lit(3)).as("shingles"))
            .persist()
          val sigs = DedupOps.bandSigs(sets, numHashes, bandRows).persist()
          // the committed survivors table, read ONCE per batch: the
          // prior corpus (first_admitted_batch < batchId — rows first
          // admitted by EARLIER batches; a crashed attempt's own
          // admissions carry == batchId and are invisible) and the
          // first_admitted_batch lookup for the admit write both derive
          // from it ([[EmbedIngest]]'s contract verbatim)
          val committedRaw =
            if (!Files.exists(Paths.get(survivorsDir, "_SUCCESS"))) None
            else Some(s.read.parquet(survivorsDir))
          // PHYSICAL-schema append gate, decided before the read-time
          // backfill masks a pre-upgrade table
          // ([[EmbedIngest.canAppendFirstAdmitted]])
          val survCanAppend = EmbedIngest.canAppendFirstAdmitted(committedRaw)
          val committed = committedRaw.map(r =>
            EmbedIngest.withFirstAdmitted(r).persist())
          try {
            val prior = committed.map(
              _.filter(col("first_admitted_batch") < batchId))
            // 1. within-batch clusters → one winner per cluster
            val candIn = sigs.as("x").hint("shuffle_hash")
              .join(sigs.as("y").hint("shuffle_hash"),
                col("x.band") === col("y.band") &&
                  col("x.sig") === col("y.sig") &&
                  col("x.doc_id") < col("y.doc_id"))
              .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
              .distinct()
            // persist the DIRECTED pairs, not the symmetric union: the
            // union's two branches would each re-run the candidate
            // self-join + Jaccard verify (measured ~0.5 s/batch of pure
            // recompute at the gate), while a persisted pairs relation
            // makes the union two cache scans. The fixpoint joins the
            // union once per round — still two cache scans + concat,
            // batch-edge-sized. It runs EAGERLY (per-round
            // localCheckpoints), so the persist releases as soon as it
            // returns — the survivor labels are already checkpointed.
            val pairsP = DedupOps.jaccardPairs(candIn, sets, thresh)
              .select(col("doc_a").as("src"), col("doc_b").as("dst"))
              .persist()
            // the count that materializes the cache doubles as the
            // fixpoint's size gate (skips its probe job)
            val nPairs = Obs.phase(s, "pairs-mat")(pairsP.count())
            val edges = pairsP.unionByName(
              pairsP.select(col("dst").as("src"), col("src").as("dst")))
            val labels = Obs.phase(s, "cluster-fixpt")(try
              DedupOps.survivorsToFixpoint(docs.select(col("doc_id")), edges,
                knownEdgeCount = Some(2L * nPairs))
            finally pairsP.unpersist())
            val winners = docs.join(
              labels.filter(col("is_survivor")).select(col("doc_id")),
              Seq("doc_id"), "left_semi")
              .persist()
            // nWinners folds into the fresh-count job via Observation
            // (every winner row flows through freshBase's anti-join left
            // side exactly once) instead of its own count job
            val winObs = org.apache.spark.sql.Observation()
            try {

              // 2. winners vs the stored corpus, candidates from the
              // index table only; the verify texts come from the PRIOR
              // corpus (first_admitted_batch < batchId), so a crashed
              // attempt's own rows — index and survivors alike — can
              // never veto a replayed winner (they carry == batchId and
              // yield no verify text; the index collision alone drops
              // nothing without a Jaccard-verified pair)
              val dupVsCorpus = prior match {
                case Some(corp)
                    if Files.exists(Paths.get(indexDir, "_SUCCESS")) =>
                  val idx = s.read.parquet(indexDir)
                    .select(col("band"), col("sig"), col("doc_id").as("doc_b"))
                  val candX = sigs
                    .join(winners.select(col("doc_id")), Seq("doc_id"), "left_semi")
                    .join(idx, Seq("band", "sig"))
                    .filter(col("doc_id") =!= col("doc_b"))
                    .select(col("doc_id").as("doc_a"), col("doc_b"))
                    .distinct()
                  // anti-join against the batch ids: a re-arrival REUSING
                  // a survivor's doc_id would otherwise put two shingle
                  // rows for one id into the verify relation (batch text
                  // + stored text), double-joining the intersection
                  // count; the batch version wins the verify
                  val oldSets = corp
                    .join(candX.select(col("doc_b").as("doc_id")).distinct(),
                      Seq("doc_id"), "left_semi")
                    .join(sets.select(col("doc_id")), Seq("doc_id"), "left_anti")
                    .select(col("doc_id"),
                      call_function("word_shingles", col("text"), lit(3))
                        .as("shingles"))
                  // no distinct: the only consumer is a left_anti join,
                  // which ignores right-side duplicates
                  DedupOps.jaccardPairs(
                      candX, sets.unionByName(oldSets), thresh)
                    .select(col("doc_a").as("doc_id"))
                case _ => winners.limit(0).select(col("doc_id"))
              }

              // 3. admit fresh winners: survivors row + index signatures.
              // first_admitted_batch: this batch for keys the table has
              // never seen, the stored row's value for a re-delivered
              // already-admitted key — set once, NEVER bumped (the
              // replay-determinism anchor; [[EmbedIngest]]'s contract)
              val freshBase = winners
                .observe(winObs, count(lit(1)).as("n"))
                .join(dupVsCorpus, Seq("doc_id"), "left_anti")
                .withColumn("batch_id", lit(batchId))
              val fresh = (committed match {
                case None =>
                  freshBase.withColumn("first_admitted_batch", lit(batchId))
                case Some(corp) =>
                  freshBase
                    .join(corp.select(col("doc_id"),
                      col("first_admitted_batch").as("__fab")),
                      Seq("doc_id"), "left")
                    .withColumn("first_admitted_batch",
                      coalesce(col("__fab"), lit(batchId)))
                    .drop("__fab")
              }).persist()
              try {
                // one aggregation answers the fresh-row count AND this
                // batch's first-admissions count — the replay-
                // deterministic append-vs-merge discriminator and the
                // log's attempt-invariant n_admitted (a re-delivered
                // admitted key keeps its stored earlier value through
                // the coalesce above, so it books under n_corpus_dupes,
                // not as a new admission)
                val fcnt = Obs.phase(s, "corpus-check")(fresh.agg(
                  count(lit(1)),
                  count(when(col("first_admitted_batch") === batchId,
                    lit(1)))).head())
                val (nFresh, nAdmitted) = (fcnt.getLong(0), fcnt.getLong(1))
                val nWinners = winObs.get("n").asInstanceOf[Long]
                // release the bare-scan cache BEFORE the writes: the
                // cache manager substitutes cached plan fragments by
                // equality, so a later read of the same path would
                // serve the PRE-upsert image
                committed.foreach(_.unpersist())
                if (nFresh > 0) Obs.phase(s, "admit-upserts") {
                  val pureInsert = nFresh == nAdmitted
                  // survivors additionally gate on the physical schema
                  // carrying first_admitted_batch (pre-upgrade tables
                  // take ONE schema-growing merge, then append)
                  //
                  // The two admit writes run CONCURRENTLY
                  // ([[MultiSignalIngest]] has the replay-safety
                  // argument — different tables, each read guards its
                  // own `_SUCCESS`, and the reverse crash order the
                  // concurrency adds is deterministic-safe because two
                  // distinct winners are by construction in different
                  // clusters, so the exact-Jaccard verify rejects every
                  // replayed candX pair against the crashed attempt's
                  // index rows). Small batches stage ONE delta file per
                  // bucket; the log write below stays last.
                  val idxRows = sigs
                    .join(fresh.select(col("doc_id")), Seq("doc_id"),
                      "left_semi")
                    .withColumn("batch_id", lit(batchId))
                  // row gate sized per TABLE: the index writes
                  // bands-per-doc rows per admission, not one
                  def squeeze(df: DataFrame, rows: Long): DataFrame =
                    if (rows < 100000) df.coalesce(1) else df
                  val bandsPerDoc = (numHashes / bandRows).toLong
                  import scala.concurrent.{Await, Future}
                  import scala.concurrent.ExecutionContext.Implicits.global
                  import scala.concurrent.duration.Duration
                  // a pooled thread keeps the local properties of the
                  // thread that created it: re-open this phase inside
                  val scope = Obs.scope(s)
                  val survF = Future(Obs.within(s, scope)(
                    writeState(survivorsDir, squeeze(fresh, nFresh),
                      Seq("doc_id"), pureInsert && survCanAppend)))
                  // the index keys embed the doc_id, so a pure-insert
                  // batch's index rows are fresh keys too (its row
                  // carries no first_admitted_batch — no schema gate)
                  val idxF = Future(Obs.within(s, scope)(
                    writeState(indexDir,
                      squeeze(idxRows, nFresh * bandsPerDoc),
                      Seq("band", "sig", "doc_id"), pureInsert)))
                  // both awaited to completion before any throw — a
                  // first-failure throw would orphan the other Future
                  // as an unleased writer past the batch's lifetime
                  // ([[MultiSignalIngest]] has the full argument)
                  val survR = scala.util.Try(
                    Await.result(survF, Duration.Inf))
                  val idxR = scala.util.Try(
                    Await.result(idxF, Duration.Inf))
                  survR.get; idxR.get
                }

                // log LAST; both counts derive from the persisted
                // batch-local fresh set (no per-batch corpus scan) and
                // are attempt-invariant: a replay recomputes the
                // identical fresh set (the prior filter rides the
                // immutable first_admitted_batch, so a crashed
                // attempt's own admissions are invisible to it)
                import s.implicits._
                // keyed by batch_id, only ever written by its own batch:
                // the delta append restates on replay by tag, without a
                // read+window+swap merge per batch
                Obs.phase(s, "log-upsert")(UpsertWriter.append(s, logDir,
                  Seq((batchId, nIn, nIn - nWinners, nWinners - nAdmitted,
                    nAdmitted))
                    .toDF("batch_id", "n_in", "n_batch_dupes",
                      "n_corpus_dupes", "n_admitted"),
                  keys = Seq("batch_id"), batchTag = s"b$batchId"))
              } finally fresh.unpersist()
            } finally winners.unpersist()
          } finally {
            committed.foreach(_.unpersist())
            sigs.unpersist(); sets.unpersist()
          }
          } finally docs.unpersist()
        } finally arrivals.unpersist()
    ()
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
      stateBuckets: Option[Int] = None): StreamingQuery = {

    val schema = spark.read.parquet(inputDir).schema

    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, warehouseDir, numHashes, bandRows,
          thresh, stateBuckets)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private def tableOrEmpty(
      spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (!Files.exists(Paths.get(dir, "_SUCCESS")))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.parquet(dir)

  /** Serving view: every admitted (near-dup-unique) document.
    * `batch_id` is the LAST batch that wrote the row (content version);
    * `first_admitted_batch` the batch that first admitted the key
    * (immutable — the replay anchor; backfilled to `batch_id` for
    * pre-upgrade tables). Empty — not an error — before the first
    * admitting batch. */
  /** TAKEDOWN: remove admitted documents matching `predicate` from the
    * corpus — survivors AND the band index, two searched row-grain
    * [[UpsertWriter.deleteWhere]] passes under ONE maintenance window
    * spanning both tables ([[MultiSignalIngest.takedown]]'s contract
    * in full — journal-preserving, replay-safe via folded tags,
    * removed-not-shadow-banned, survivors-first ordering, and the same
    * crash contract: a crash between the deletes leaves an
    * orphaned-index window that can never shadow-ban — the lexical
    * verify joins candidates back to survivors' texts — and is healed
    * by re-running the takedown to completion). Returns (survivor rows
    * removed, index rows removed). */
  def takedown(
      spark: SparkSession,
      warehouseDir: String,
      predicate: org.apache.spark.sql.Column): (Long, Long) = {
    def del(dir: String): Long =
      if (!Files.exists(Paths.get(dir, "_SUCCESS"))) 0L
      else UpsertWriter.deleteWhere(spark, dir, predicate)
    val surv = s"$warehouseDir/neardup_survivors"
    val idx = s"$warehouseDir/neardup_index"
    graft.sinks.TableLease.withMaintenance(Seq(surv, idx),
        s"neardup-takedown:pid${ProcessHandle.current().pid()}") {
      (del(surv), del(idx))
    }
  }

  def survivors(spark: SparkSession, warehouseDir: String): DataFrame =
    EmbedIngest.withFirstAdmitted(
      tableOrEmpty(spark, s"$warehouseDir/neardup_survivors", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("batch_id", LongType),
        StructField("first_admitted_batch", LongType)))))
      .drop(UpsertWriter.BucketCol) // derived layout, not data (no-op unbucketed)

  /** Serving view: the stored band-signature index. */
  def index(spark: SparkSession, warehouseDir: String): DataFrame =
    tableOrEmpty(spark, s"$warehouseDir/neardup_index", StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("sig", StringType), StructField("batch_id", LongType))))
      .drop(UpsertWriter.BucketCol)

  /** Serving view: the per-batch admission log. */
  def ingestLog(spark: SparkSession, warehouseDir: String): DataFrame =
    tableOrEmpty(spark, s"$warehouseDir/neardup_log", StructType(Seq(
      StructField("batch_id", LongType), StructField("n_in", LongType),
      StructField("n_batch_dupes", LongType),
      StructField("n_corpus_dupes", LongType),
      StructField("n_admitted", LongType))))
}
