package graft.streaming

import graft.obs.Obs
import graft.operators.DedupOps
import graft.sinks.UpsertWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

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
  * Everything else follows the family's invariants verbatim:
  * keep-latest per doc_id before counting, winners checked against
  * the corpus through index/cell collisions only (batch-proportional
  * work), keyed idempotent upserts, log written LAST with the
  * admitted count taken from the replay-deterministic batch-local
  * admit set (no per-batch corpus scan).
  *
  * At corpus scale the keyed writes move to the bucketed forms —
  * WIRED here through `stateBuckets`: `Some(b)` routes the survivors
  * and index writes through b-way bucketed tables, `None` keeps the
  * plain whole-table merge (the driver-fixture contract, where the
  * whole state fits one task). The bucketed path picks its shape per
  * batch: a PURE-INSERT batch (the overwhelmingly common case — every
  * admitted key just proved absent) APPENDS delta files
  * ([[graft.sinks.UpsertWriter.appendBucketed]], O(batch) write cost
  * at ANY corpus size — the form that survives a firehose of fresh
  * keys, where even a touched-bucket merge degenerates to O(corpus)
  * once batch keys ≥ buckets); a batch carrying a re-delivered
  * admitted key takes the keyed touched-bucket MERGE
  * ([[graft.sinks.UpsertWriter.upsertBucketed]]), which subsumes
  * earlier deltas bucket by bucket. The admission log stays plain
  * either way — one row per batch, O(batches) total. The layouts are
  * value-identical (the bucketed gate `msb_ingest_bucketed_state` and
  * the replay spec pin it): `__bucket` is derived layout, dropped by
  * every serving view.
  */
object MultiSignalIngest {

  /** One micro-batch of the drain, exactly as [[start]]'s foreachBatch
    * runs it — exposed (package-private) so the crash-replay specs can
    * drive a batch twice with the SAME `batchId`, the contract a
    * foreachBatch body must survive: the checkpoint commits AFTER this
    * returns, so a crash in between re-delivers the whole batch.
    *
    * Replay determinism follows [[EmbedIngest]]'s contract verbatim:
    * the prior corpus (and so the occupancy mask) filters the stored
    * survivors on the IMMUTABLE `first_admitted_batch` — set at a
    * key's first admission, never bumped by the keyed upsert — because
    * `batch_id` is a content version that a cross-batch re-delivery
    * rewrites, and a crash between the upsert and the checkpoint
    * commit would otherwise shrink the replay's corpus count and shift
    * the whole batch's mask. */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      warehouseDir: String,
      numHashes: Int = 32,
      bandRows: Int = 4,
      jaccardThresh: Double = 0.8,
      cosThresh: Double = 0.4,
      stateBuckets: Option[Int] = None): Unit = {
    val s = batch.sparkSession
    val survivorsDir = s"$warehouseDir/ms_survivors"
    val indexDir = s"$warehouseDir/ms_index"
    val logDir = s"$warehouseDir/ms_log"
    // state-table write: bucketed when stateBuckets is set, whole-table
    // otherwise — same keyed keep-latest semantics either way (see
    // object doc). The bucketed path splits by write shape exactly as
    // [[EmbedIngest]] does: a pure-insert batch (no re-delivered
    // admitted key — the admit pipeline proved every key absent, and
    // for the index the keys embed a fresh doc_id) APPENDS O(batch)
    // delta files; a batch carrying any update takes the keyed
    // touched-bucket merge for the whole fresh set, because mixing
    // same-batch appends with same-batch bucket rewrites breaks replay
    // (the rewrite folds appended rows into the bucket base; the
    // replayed append would re-add them). Replay-deterministic branch:
    // both counts ride the immutable first_admitted_batch.
    // the configured count seeds the FIRST write; afterwards the
    // table's pin is authoritative ([[UpsertWriter.effectiveBuckets]]),
    // so a maintenance rebucket lands under a live worker config
    def writeState(dir: String, df: DataFrame, keys: Seq[String],
        pureInsert: Boolean): Unit =
      stateBuckets.map(UpsertWriter.effectiveBuckets(dir, _)) match {
        case Some(b) if pureInsert => UpsertWriter.appendBucketed(
          s, dir, df, keys, batchTag = s"b$batchId", numBuckets = b)
        case Some(b) => UpsertWriter.upsertBucketed(
          s, dir, df, keys, versionCol = "batch_id", numBuckets = b)
        // the plain layout takes the same insert/update split: a pure-
        // insert batch appends O(batch) delta files at the table root
        // instead of paying the whole-table read + window + staged
        // rewrite — same replay contract, merge subsumption, compaction
        case None if pureInsert => UpsertWriter.append(
          s, dir, df, keys, batchTag = s"b$batchId")
        case None => UpsertWriter.upsert(
          s, dir, df, keys, versionCol = "batch_id")
      }
    val arrivals = batch
      .withColumn("text", coalesce(col("text"), lit("")))
      .withColumn("__seq", monotonically_increasing_id())
      .persist()
        try {
          // ONE aggregation job answers all three driver-side counts:
          // rows in, distinct keys (= the keep-latest survivors), and
          // the prior-corpus size from the admission log (sum of
          // n_admitted over batches < batchId — first admissions only,
          // rows never deleted, every prior batch's log row committed
          // before this batch runs). The log side unions in as a second
          // one-row aggregate instead of scheduling its own job: at
          // gate scale per-job overhead dominates, and the log is one
          // row per batch either way.
          val arrAgg = arrivals
            .agg(count(lit(1)).as("a"), countDistinct(col("doc_id")).as("b"))
            .withColumn("c", lit(0L))
          val cnt = Obs.phase(s, "in-count")((
            if (!Files.exists(Paths.get(logDir, "_SUCCESS"))) arrAgg
            else arrAgg.unionByName(s.read.parquet(logDir)
              .filter(col("batch_id") < batchId)
              .agg(coalesce(sum(col("n_admitted")), lit(0L)).as("c"))
              .select(lit(0L).as("a"), lit(0L).as("b"), col("c"))))
            .agg(sum(col("a")), sum(col("b")), sum(col("c"))).head())
          val (nIn, nBatch, nPrior) =
            (cnt.getLong(0), cnt.getLong(1), cnt.getLong(2))
          // keep-latest per doc_id — SKIPPED (no window shuffle) when
          // the batch provably has no duplicate keys (nIn == nBatch,
          // both counts of the delivered batch, so the branch replays
          // deterministically); a same-batch re-delivery pays it
          val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("__seq").desc)
          val deduped =
            if (nIn == nBatch) arrivals.drop("__seq")
            else arrivals
              .withColumn("__rn", row_number().over(wDoc))
              .filter(col("__rn") === 1)
              .drop("__seq", "__rn")
          val docs = DedupOps.embeddingSigged(deduped).persist()
          try {
            val committedRaw =
              if (!Files.exists(Paths.get(survivorsDir, "_SUCCESS"))) None
              else Some(s.read.parquet(survivorsDir))
            // PHYSICAL-schema append gate, decided before the read-time
            // backfill masks a pre-upgrade table
            // ([[EmbedIngest.canAppendFirstAdmitted]])
            val survCanAppend =
              EmbedIngest.canAppendFirstAdmitted(committedRaw)
            val committed = committedRaw.map(r =>
              EmbedIngest.withFirstAdmitted(r).persist())
            try {
              val prior = committed.map(
                _.filter(col("first_admitted_batch") < batchId))
              val mask = DedupOps.cellMaskFor(nPrior + nBatch)

              // lexical machinery over the batch
              val sets = docs
                .select(col("doc_id"),
                  call_function("word_shingles", col("text"), lit(3))
                    .as("shingles"))
                .persist()
              val sigs = DedupOps.bandSigs(sets, numHashes, bandRows).persist()
              val cells = docs
                .withColumn("cell", col("sig").bitwiseAND(lit(mask)))
              try {
                // 1. within-batch clusters over the UNION edge set
                val candL = sigs.as("x").hint("shuffle_hash")
                  .join(sigs.as("y").hint("shuffle_hash"),
                    col("x.band") === col("y.band") &&
                      col("x.sig") === col("y.sig") &&
                      col("x.doc_id") < col("y.doc_id"))
                  .select(col("x.doc_id").as("doc_a"),
                    col("y.doc_id").as("doc_b"))
                  .distinct()
                val lexPairs = DedupOps
                  .jaccardPairs(candL, sets, jaccardThresh)
                  .select(col("doc_a").as("src"), col("doc_b").as("dst"))
                // semantic pairs run the Hamming-1 MULTIPROBE ring
                // ([[EmbedIngest]]'s admit definition — a pair at cell
                // Hamming ≤ 1 matches on exactly ONE probe of the
                // ordered side, so no pair is scored twice)
                val aS = cells.select(col("doc_id").as("va_id"),
                  explode(DedupOps.cellProbes(col("cell"))).as("probe"),
                  col("v").as("va"), col("norm").as("na"))
                val bS = cells.select(col("doc_id").as("vb_id"),
                  col("cell").as("cb"), col("v").as("vb"), col("norm").as("nb"))
                val semPairs = aS
                  .join(bS,
                    col("probe") === col("cb") && col("va_id") < col("vb_id"))
                  .filter(DedupOps.quantCos(
                    col("va"), col("na"), col("vb"), col("nb")) >= cosThresh)
                  .select(col("va_id").as("src"), col("vb_id").as("dst"))
                // persist the DIRECTED pair union; symmetric union = two
                // cache scans (the family's measured fix). The count
                // that materializes the cache doubles as the fixpoint's
                // size gate (knownEdgeCount — the probe job the gate
                // would otherwise schedule is skipped).
                val pairsP = lexPairs.unionByName(semPairs).persist()
                val nPairs = Obs.phase(s, "pairs-mat")(pairsP.count())
                val edges = pairsP.unionByName(
                  pairsP.select(col("dst").as("src"), col("src").as("dst")))
                val labels = Obs.phase(s, "cluster-fixpt")(
                  try
                    DedupOps.survivorsToFixpoint(
                      docs.select(col("doc_id")), edges,
                      knownEdgeCount = Some(2L * nPairs))
                  finally pairsP.unpersist())
                val winners = cells.join(
                  labels.filter(col("is_survivor")).select(col("doc_id")),
                  Seq("doc_id"), "left_semi")
                  .persist()
                // nWinners folds into the fresh-count job below via the
                // Observation API instead of scheduling its own count:
                // the observe node sits above the winners cache on the
                // freshBase path, so every winner row flows through it
                // exactly once when `fresh` materializes
                val winObs = org.apache.spark.sql.Observation()
                try {

                  // 2. winners vs the corpus: EITHER signal drops.
                  // Lexical — via the stored band index, verified by
                  // exact Jaccard against colliding survivors' texts;
                  // semantic — via the survivors' re-masked signatures.
                  // EACH side guards its OWN table's `_SUCCESS`: the two
                  // admit upserts commit at different instants, so a
                  // kill between them leaves survivors committed with
                  // the index not yet born — the replay must read the
                  // index as empty, not crash (caught by the kill/resume
                  // spec on the first run).
                  val none = winners.limit(0).select(col("doc_id"))
                  val lexDrop = prior match {
                    case Some(corp)
                        if Files.exists(Paths.get(indexDir, "_SUCCESS")) =>
                      val idx = s.read.parquet(indexDir)
                        .select(col("band"), col("sig"),
                          col("doc_id").as("doc_b"))
                      val candX = sigs
                        .join(winners.select(col("doc_id")),
                          Seq("doc_id"), "left_semi")
                        .join(idx, Seq("band", "sig"))
                        .filter(col("doc_id") =!= col("doc_b"))
                        .select(col("doc_id").as("doc_a"), col("doc_b"))
                        .distinct()
                      val oldSets = corp
                        .join(candX.select(col("doc_b").as("doc_id")).distinct(),
                          Seq("doc_id"), "left_semi")
                        .join(sets.select(col("doc_id")), Seq("doc_id"), "left_anti")
                        .select(col("doc_id"),
                          call_function("word_shingles", col("text"), lit(3))
                            .as("shingles"))
                      DedupOps
                        .jaccardPairs(candX, sets.unionByName(oldSets),
                          jaccardThresh)
                        .select(col("doc_a").as("doc_id"))
                    case _ => none
                  }
                  val semDrop = prior match {
                    case Some(corp) =>
                      val corpusCells = DedupOps.withVNorm(
                          corp.select(col("doc_id").as("vb_id"),
                            col("embedding"), col("sig")))
                        .select(col("vb_id"), col("v").as("vb"),
                          col("norm").as("nb"),
                          col("sig").bitwiseAND(lit(mask)).as("cb"))
                      winners
                        .select(col("doc_id"), col("v"), col("norm"),
                          explode(DedupOps.cellProbes(col("cell"))).as("probe"))
                        .join(corpusCells,
                          col("probe") === col("cb") &&
                            col("doc_id") =!= col("vb_id"))
                        .filter(DedupOps.quantCos(
                          col("v"), col("norm"), col("vb"), col("nb"))
                          >= cosThresh)
                        .select(col("doc_id"))
                    case None => none
                  }
                  // no distinct: the only consumer is a left_anti join,
                  // whose semantics ignore right-side duplicates — the
                  // distinct was one more shuffle for nothing
                  val dupVsCorpus = lexDrop.unionByName(semDrop)

                  // 3. admit fresh winners: full row + signature into the
                  // survivors table, band rows into the lexical index.
                  // first_admitted_batch: this batch for never-seen keys,
                  // the stored value for a re-delivered admitted key —
                  // set once, NEVER bumped (the replay anchor)
                  val freshBase = winners
                    .observe(winObs, count(lit(1)).as("n"))
                    .drop("v", "norm", "cell")
                    .join(dupVsCorpus, Seq("doc_id"), "left_anti")
                    .withColumn("batch_id", lit(batchId))
                  val fresh = (committed match {
                    case None => freshBase
                      .withColumn("first_admitted_batch", lit(batchId))
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
                    // one aggregation answers the fresh-row count AND the
                    // first-admissions count — and counting from the
                    // persisted batch-local `fresh` replaces the
                    // O(corpus) survivors re-scan the log used to pay
                    // per batch. Attempt-invariant: `fresh` is
                    // replay-deterministic (the prior filter rides the
                    // immutable first_admitted_batch), and post-upsert
                    // the table's `first_admitted_batch = batchId` rows
                    // ARE exactly fresh's — a re-delivered admitted key
                    // keeps its stored (earlier) value through the
                    // coalesce above, so it books under n_corpus_dupes,
                    // not as a new admission
                    val fcnt = Obs.phase(s, "corpus-check")(fresh.agg(
                      count(lit(1)),
                      count(when(col("first_admitted_batch") === batchId,
                        lit(1)))).head())
                    val (nFresh, nAdmitted) = (fcnt.getLong(0), fcnt.getLong(1))
                    val nWinners = winObs.get("n").asInstanceOf[Long]
                    // release the bare-scan cache BEFORE the upsert: the
                    // cache manager substitutes cached plan fragments by
                    // equality, so a later read of the same path would
                    // serve the PRE-upsert image
                    committed.foreach(_.unpersist())
                    if (nFresh > 0) Obs.phase(s, "admit-upserts") {
                      val pureInsert = nFresh == nAdmitted
                      // survivors additionally gate on the physical
                      // schema carrying first_admitted_batch (a
                      // pre-upgrade table takes ONE schema-growing
                      // merge, then appends); the index row carries no
                      // such column — no gate.
                      //
                      // The two admit writes run CONCURRENTLY: they land
                      // on DIFFERENT tables, commit independently, and
                      // at micro-batch sizes each is fixed-overhead-
                      // dominated (job scheduling + small-file moves),
                      // so the pair costs max, not sum. EITHER commit
                      // order is replay-safe — the corpus check already
                      // guards each table's own `_SUCCESS` for the
                      // sequential crash (survivors committed, index
                      // unborn), and the reverse order the concurrency
                      // adds (index carries the crashed batch's rows,
                      // survivors don't) replays identically: the
                      // replayed candX pairs batch winners against the
                      // crashed attempt's index rows, which are the same
                      // batch's fresh keys — two distinct winners are by
                      // construction in different clusters (an edge
                      // would have merged them), so the exact-Jaccard
                      // verify rejects every such pair, and the semantic
                      // side reads only the survivors table, which still
                      // excludes the batch. The log write stays LAST and
                      // sequential (its absence is what keeps a serving
                      // read's occupancy mask narrow, never wide).
                      val idxRows = sigs.join(fresh.select(col("doc_id")),
                        Seq("doc_id"), "left_semi")
                        .withColumn("batch_id", lit(batchId))
                      // a SMALL admit batch stages through one task, so
                      // each touched bucket lands exactly one delta file
                      // — the next batch's corpus check re-reads these,
                      // and footer count was measured as the bucketed
                      // path's residual cost over the plain layout. The
                      // row gate keeps production-size batches at full
                      // write parallelism — sized per TABLE: the index
                      // writes bands-per-doc rows, not one
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
                      val idxF = Future(Obs.within(s, scope)(
                        writeState(indexDir,
                          squeeze(idxRows, nFresh * bandsPerDoc),
                          Seq("band", "sig", "doc_id"), pureInsert)))
                      // await BOTH to completion before propagating any
                      // failure: throwing on the first would orphan the
                      // other Future, which would keep writing its
                      // table AFTER the batch failed, the drain window
                      // closed, and the lease was released — an
                      // unleased concurrent writer racing whatever runs
                      // next. A failed side then fails the batch, which
                      // replays wholesale.
                      val survR = scala.util.Try(
                        Await.result(survF, Duration.Inf))
                      val idxR = scala.util.Try(
                        Await.result(idxF, Duration.Inf))
                      survR.get; idxR.get
                    }
                    Obs.phase(s, "log-upsert") {
                      import s.implicits._
                      // the log row is keyed by batch_id and only ever
                      // written by its own batch — insert-by-
                      // construction, so it rides the delta append (a
                      // replay replaces its own file by tag) instead of
                      // a read+window+swap merge per batch
                      UpsertWriter.append(s, logDir,
                        Seq((batchId, nIn, nIn - nWinners,
                          nWinners - nAdmitted, nAdmitted))
                          .toDF("batch_id", "n_in", "n_batch_dupes",
                            "n_corpus_dupes", "n_admitted"),
                        keys = Seq("batch_id"), batchTag = s"b$batchId")
                    }
                  } finally fresh.unpersist()
                } finally winners.unpersist()
              } finally { sigs.unpersist(); sets.unpersist() }
            } finally committed.foreach(_.unpersist())
          } finally docs.unpersist()
        } finally arrivals.unpersist()
    ()
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
      stateBuckets: Option[Int] = None): StreamingQuery = {

    val schema = spark.read.parquet(inputDir).schema

    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, warehouseDir,
          numHashes, bandRows, jaccardThresh, cosThresh, stateBuckets)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
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
    val mask = DedupOps.cellMaskFor(corpusSize(spark, warehouseDir))
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
      predicate: org.apache.spark.sql.Column): (Long, Long) = {
    def del(dir: String): Long =
      if (!Files.exists(Paths.get(dir, "_SUCCESS"))) 0L
      else UpsertWriter.deleteWhere(spark, dir, predicate)
    val surv = s"$warehouseDir/ms_survivors"
    val idx = s"$warehouseDir/ms_index"
    graft.sinks.TableLease.withMaintenance(Seq(surv, idx),
        s"ms-takedown:pid${ProcessHandle.current().pid()}") {
      val nSurv = del(surv)
      takedownFault()
      (nSurv, del(idx))
    }
  }

  /** Crash-injection hook for the takedown's between-deletes window —
    * test-only, a no-op in production (the spec swaps in a throwing
    * hook to pin the orphaned-index contract documented on
    * [[takedown]]). */
  private[graft] var takedownFault: () => Unit = () => ()

  /** Number of distinct admitted keys, from the admission log (one row
    * per batch): the serving-side corpus-size source for mask sizing. */
  private def corpusSize(spark: SparkSession, warehouseDir: String): Long =
    ingestLog(spark, warehouseDir)
      .agg(coalesce(sum(col("n_admitted")), lit(0L)))
      .head().getLong(0)

  private def tableOrEmpty(
      spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (!Files.exists(Paths.get(dir, "_SUCCESS")))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.parquet(dir)

  /** Serving view: every admitted (multi-signal-unique) document with
    * its stored hyperplane signature. `batch_id` is the LAST batch that
    * wrote the row (content version); `first_admitted_batch` the batch
    * that first admitted the key (immutable — the replay anchor;
    * backfilled to `batch_id` for pre-upgrade tables). */
  def survivors(spark: SparkSession, warehouseDir: String): DataFrame =
    EmbedIngest.withFirstAdmitted(
      tableOrEmpty(spark, s"$warehouseDir/ms_survivors", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("sig", LongType), StructField("batch_id", LongType),
        StructField("first_admitted_batch", LongType)))))
      .drop(UpsertWriter.BucketCol) // derived layout, not data (no-op unbucketed)

  /** Serving view: the lexical band-signature index. */
  def index(spark: SparkSession, warehouseDir: String): DataFrame =
    tableOrEmpty(spark, s"$warehouseDir/ms_index", StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("sig", StringType), StructField("batch_id", LongType))))
      .drop(UpsertWriter.BucketCol)

  /** Serving view: the per-batch admission log. */
  def ingestLog(spark: SparkSession, warehouseDir: String): DataFrame =
    tableOrEmpty(spark, s"$warehouseDir/ms_log", StructType(Seq(
      StructField("batch_id", LongType), StructField("n_in", LongType),
      StructField("n_batch_dupes", LongType),
      StructField("n_corpus_dupes", LongType),
      StructField("n_admitted", LongType))))
}
