package graft.streaming

import graft.Tables
import graft.obs.Obs
import graft.operators.DedupOps
import graft.sinks.{TableLease, UpsertWriter}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.Try

/** The admission kernel of the near-dup worker family
  * ([[NearDupIngest]], [[EmbedIngest]], [[MultiSignalIngest]]): the
  * insert-if-absent micro-batch every one of them runs, with the
  * signal — how two rows are near-duplicates — supplied by the worker
  * as a [[Signal]]. State lives in TABLES, never in operator memory, so
  * a restart restates instead of duplicating and state compacts like
  * any table.
  *
  * Per micro-batch ([[processBatch]]):
  *
  *  1. `in-count`: ONE job answers rows in, distinct keys and the
  *     prior-corpus size (sum of the log's `n_admitted` over earlier
  *     batches — first admissions only, every prior batch's log row
  *     committed before this batch runs).
  *  2. Keep-latest per key, skipped (no window shuffle) when the batch
  *     provably has no duplicate keys. Two rows sharing a key would
  *     otherwise both survive clustering and both count as winners
  *     while the keyed write collapses them, booking the collapse as a
  *     phantom corpus dupe. Highest arrival order (`__seq`) wins,
  *     matching [[UpsertWriter]]'s within-batch tie-break.
  *  3. `pairs-mat` + `cluster-fixpt`: the signal's directed pairs
  *     become ONE persisted symmetric edge list
  *     ([[DedupOps.symmetricEdges]], one pass of the candidate join +
  *     verify), and min-label propagation
  *     ([[DedupOps.survivorsToFixpoint]]) keeps one winner
  *     per cluster — the lowest key, a total order, so a replayed batch
  *     picks the same winners.
  *  4. `corpus-check`: winners the signal matches against the PRIOR
  *     corpus drop (the representative carries its cluster); one
  *     aggregation counts the fresh rows and this batch's first
  *     admissions.
  *  5. `admit-upserts`: the survivors write plus the signal's extra
  *     tables, concurrently ([[writeState]] picks each write's shape).
  *  6. `log-upsert`: the admission log, keyed by batch_id, LAST.
  *
  * REPLAY ANCHOR: the prior corpus filters the stored survivors on the
  * IMMUTABLE `first_admitted_batch` — set at a key's first admission,
  * never bumped by the keyed upsert. `batch_id` alone would not be
  * replay-safe: a later batch re-delivering an admitted key rewrites
  * that row's `batch_id` (last-write-wins), so a crash after the
  * upsert but before the checkpoint commit would make the replay lose
  * the survivor from its prior corpus — shrinking the corpus count (and
  * an occupancy mask sized from it) and admitting winners the first
  * attempt dropped. With `first_admitted_batch` a crashed attempt's own
  * admissions (== batchId) are invisible, the replay recomputes the
  * identical fresh set, a re-delivered key's update books under
  * `n_corpus_dupes`, and `n_admitted` counts rows FIRST admitted by
  * this batch — both attempt-invariant. Exactly-once holds per
  * delivered content: an upstream that re-delivers an admitted key
  * with DIFFERENT content has already rewritten that row, so threshold
  * decisions against it may differ on replay — a content change, not a
  * replay artifact. */
private[streaming] object Admission {

  /** What a worker's signal adds to one batch's admission.
    *
    * @param pairs   within-batch near-dup pairs over the batch's keys,
    *                directed (`src` < `dst`)
    * @param drops   given the persisted winners and the prior corpus,
    *                the key-column relations of winners that match it
    *                (empty when the signal's own state is not committed
    *                yet)
    * @param scratch winner columns that are signal working state, not
    *                admitted data
    * @param extra   tables written beside the survivors per admission
    * @param release unpersists whatever the signal cached */
  final case class Signal(
      pairs: DataFrame,
      drops: (DataFrame, DataFrame) => Seq[DataFrame],
      scratch: Seq[String] = Nil,
      extra: Seq[Extra] = Nil,
      release: () => Unit = () => ()) {

    /** Both signals at once: clusters close over the union of both edge
      * sets, and a winner either signal matches in the corpus drops. */
    def ++(o: Signal): Signal = Signal(
      pairs.unionByName(o.pairs),
      (w, prior) => drops(w, prior) ++ o.drops(w, prior),
      scratch ++ o.scratch, extra ++ o.extra,
      () => { release(); o.release() })
  }

  /** A table written beside the survivors: the batch's `rows` of every
    * admitted key (`rowsPerKey` each), keyed by `keys`. The keys embed
    * the admitted key, so a pure-insert batch's rows are fresh keys too
    * (and they carry no `first_admitted_batch` — no schema gate). */
  final case class Extra(
      dir: String, rows: DataFrame, keys: Seq[String], rowsPerKey: Long)

  /** One micro-batch of a worker's drain, exactly as its foreachBatch
    * runs it. `normalize` runs on the arrivals before anything else,
    * `prepare` on the keep-latest rows before they are cached; `signal`
    * gets those cached rows and the corpus size as of this batch (prior
    * admissions plus the batch's distinct keys). */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      key: String,
      survivorsDir: String,
      logDir: String,
      stateBuckets: Option[Int],
      normalize: DataFrame => DataFrame = identity,
      prepare: DataFrame => DataFrame = identity)(
      signal: (DataFrame, Long) => Signal): Unit = {
    val s = batch.sparkSession
    val arrivals = normalize(batch)
      .withColumn("__seq", monotonically_increasing_id())
      .persist()
    try {
      // the log unions in as a second one-row aggregate rather than its
      // own job; its declared schema spares a schema-inference job
      val arrAgg = arrivals
        .agg(count(lit(1)).as("a"), countDistinct(col(key)).as("b"))
        .withColumn("c", lit(0L))
      val cnt = Obs.phase(s, "in-count")((
        if (!committed(logDir)) arrAgg
        else arrAgg.unionByName(s.read.schema(LogSchema).parquet(logDir)
          .filter(col("batch_id") < batchId)
          .agg(coalesce(sum(col("n_admitted")), lit(0L)).as("c"))
          .select(lit(0L).as("a"), lit(0L).as("b"), col("c"))))
        .agg(sum(col("a")), sum(col("b")), sum(col("c"))).head())
      val (nIn, nBatch, nPrior) =
        (cnt.getLong(0), cnt.getLong(1), cnt.getLong(2))
      val latest =
        if (nIn == nBatch) arrivals.drop("__seq")
        else arrivals
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col(key)).orderBy(col("__seq").desc)))
          .filter(col("__rn") === 1)
          .drop("__seq", "__rn")
      val docs = prepare(latest).persist()
      try {
        // the committed survivors, read ONCE per batch: the prior corpus
        // and the first_admitted_batch lookup both derive from it; the
        // PHYSICAL-schema append gate is decided before the read-time
        // backfill masks a pre-upgrade table
        val raw = read(s, survivorsDir)
        val canAppend = canAppendFirstAdmitted(raw)
        val stored = raw.map(withFirstAdmitted(_).persist())
        try {
          val prior = stored.map(_.filter(col("first_admitted_batch") < batchId))
          val sig = signal(docs, nPrior + nBatch)
          try {
            // the symmetric edge list, persisted once: the count that
            // materializes the cache doubles as the fixpoint's size gate
            // (skips its probe job); the fixpoint checkpoints eagerly, so
            // the cache releases when it returns
            val edges = DedupOps.symmetricEdges(sig.pairs, "src", "dst").persist()
            val nEdges = Obs.phase(s, "pairs-mat")(edges.count())
            val labels = Obs.phase(s, "cluster-fixpt")(
              try DedupOps.survivorsToFixpoint(
                docs.select(col(key).as("doc_id")), edges,
                knownEdgeCount = Some(nEdges))
              finally edges.unpersist())
            val winners = docs.join(
              labels.filter(col("is_survivor")).select(col("doc_id").as(key)),
              Seq(key), "left_semi")
              .persist()
            try {
              // no distinct on the drops: the only consumer is a
              // left_anti join, which ignores right-side duplicates
              val dupVsCorpus = prior.toSeq.flatMap(sig.drops(winners, _))
                .reduceOption(_ unionByName _)
                .getOrElse(winners.limit(0).select(col(key)))
              // nWinners folds into the corpus-check job: every winner
              // row flows through the anti-join's left side exactly once
              val winObs = Observation()
              val freshBase = winners
                .observe(winObs, count(lit(1)).as("n"))
                .drop(sig.scratch: _*)
                .join(dupVsCorpus, Seq(key), "left_anti")
                .withColumn("batch_id", lit(batchId))
              // first_admitted_batch: this batch for never-seen keys, the
              // stored value for a re-delivered admitted key (the anchor)
              val fresh = (stored match {
                case None =>
                  freshBase.withColumn("first_admitted_batch", lit(batchId))
                case Some(corp) => freshBase
                  .join(corp.select(col(key),
                    col("first_admitted_batch").as("__fab")), Seq(key), "left")
                  .withColumn("first_admitted_batch",
                    coalesce(col("__fab"), lit(batchId)))
                  .drop("__fab")
              }).persist()
              try {
                val fcnt = Obs.phase(s, "corpus-check")(fresh.agg(
                  count(lit(1)),
                  count(when(col("first_admitted_batch") === batchId,
                    lit(1)))).head())
                val (nFresh, nAdmitted) = (fcnt.getLong(0), fcnt.getLong(1))
                val nWinners = winObs.get("n").asInstanceOf[Long]
                // release the bare-scan cache BEFORE the writes: the cache
                // manager substitutes cached plan fragments by equality,
                // so a later read of the same path would serve the
                // PRE-upsert image
                stored.foreach(_.unpersist())
                if (nFresh > 0) Obs.phase(s, "admit-upserts")(
                  admit(s, batchId, key, survivorsDir, fresh, nFresh,
                    pureInsert = nFresh == nAdmitted, canAppend,
                    sig.extra, stateBuckets))
                import s.implicits._
                Obs.phase(s, "log-upsert")(appendLog(s, logDir, batchId,
                  Seq((batchId, nIn, nIn - nWinners, nWinners - nAdmitted,
                    nAdmitted)).toDF(LogSchema.fieldNames.toIndexedSeq: _*)))
              } finally fresh.unpersist()
            } finally winners.unpersist()
          } finally sig.release()
        } finally stored.foreach(_.unpersist())
      } finally docs.unpersist()
    } finally arrivals.unpersist()
  }

  /** The admit writes: survivors on this thread, each extra table on a
    * pooled one. They land on DIFFERENT tables and commit independently,
    * and at micro-batch sizes each is fixed-overhead-dominated, so the
    * set costs max, not sum. Either crash order replays identically:
    * each corpus check guards its own table's `_SUCCESS` (survivors
    * committed, extra table unborn), and in the reverse order the
    * replayed candidates meet the crashed attempt's extra rows, which
    * are the same batch's fresh keys — two distinct winners are by
    * construction in different clusters, so the verify rejects every
    * such pair. The survivors write additionally gates the append
    * shape on the table's physical schema ([[canAppendFirstAdmitted]]). */
  private def admit(
      s: SparkSession, batchId: Long, key: String, survivorsDir: String,
      fresh: DataFrame, nFresh: Long, pureInsert: Boolean,
      canAppend: Boolean, extra: Seq[Extra],
      stateBuckets: Option[Int]): Unit = {
    // a pooled thread keeps the local properties of the thread that
    // created it: re-open this phase inside
    val scope = Obs.scope(s)
    val side = extra.map { x =>
      val rows = x.rows
        .join(fresh.select(col(key)), Seq(key), "left_semi")
        .withColumn("batch_id", lit(batchId))
      Future(Obs.within(s, scope)(writeState(s, x.dir, rows,
        nFresh * x.rowsPerKey, x.keys, pureInsert, batchId, stateBuckets)))
    }
    val survR = Try(writeState(s, survivorsDir, fresh, nFresh, Seq(key),
      pureInsert && canAppend, batchId, stateBuckets))
    // every write awaited to completion before any throw: throwing on
    // the first failure would orphan the others as unleased writers
    // racing whatever runs after the failed batch, which then replays
    // wholesale
    val sideR = side.map(f => Try(Await.result(f, Duration.Inf)))
    survR.get
    sideR.foreach(_.get)
  }

  /** Write one batch's `df` (`rows` rows) into the keyed state table at
    * `dir`, bucketed when `stateBuckets` is set (the configured count
    * seeds the first write; afterwards the table's pin rules, so a
    * maintenance rebucket lands under a live worker config —
    * [[UpsertWriter.effectiveBuckets]]). A PURE-INSERT batch (every key
    * first admitted now — the admission just proved the keys absent)
    * APPENDS O(batch) delta files, the form that survives a firehose of
    * fresh keys; any other batch takes the keyed merge for the whole
    * set, because mixing same-batch appends with same-batch rewrites
    * breaks replay (the rewrite folds appended rows into the base, and
    * the replayed append would re-add them). Under 100k rows the write
    * stages through one task, so each touched bucket lands one delta
    * file — fewer footers for every later corpus read. */
  def writeState(
      s: SparkSession, dir: String, df: DataFrame, rows: Long,
      keys: Seq[String], pureInsert: Boolean, batchId: Long,
      stateBuckets: Option[Int]): Unit = {
    val img = if (rows < 100000) df.coalesce(1) else df
    stateBuckets.map(UpsertWriter.effectiveBuckets(dir, _)) match {
      case Some(b) if pureInsert => UpsertWriter.appendBucketed(
        s, dir, img, keys, batchTag = s"b$batchId", numBuckets = b)
      case Some(b) => UpsertWriter.upsertBucketed(
        s, dir, img, keys, versionCol = "batch_id", numBuckets = b)
      case None if pureInsert => UpsertWriter.append(
        s, dir, img, keys, batchTag = s"b$batchId")
      case None => UpsertWriter.upsert(
        s, dir, img, keys, versionCol = "batch_id")
    }
  }

  /** Append a batch's log row. Keyed by batch_id and only ever written
    * by its own batch: the delta append restates on replay by tag,
    * without a read + window + swap merge per batch. */
  def appendLog(s: SparkSession, logDir: String, batchId: Long,
      row: DataFrame): Unit = {
    UpsertWriter.append(s, logDir, row, keys = Seq("batch_id"),
      batchTag = s"b$batchId")
    ()
  }

  /** The admission log: per batch, rows in, rows that lost a
    * within-batch cluster or keep-latest collapse, winners the corpus
    * already held, and first admissions. */
  val LogSchema: StructType = StructType(
    Seq("batch_id", "n_in", "n_batch_dupes", "n_corpus_dupes", "n_admitted")
      .map(StructField(_, LongType)))

  /** Number of distinct admitted keys, from an admission log (one row
    * per batch, first admissions only, never rewound by a takedown):
    * the serving side's corpus size for mask sizing. A log lagging one
    * crashed batch undercounts, which only NARROWS a mask. */
  def corpusSize(log: DataFrame): Long =
    log.agg(coalesce(sum(col("n_admitted")), lit(0L))).head().getLong(0)

  /** Whether the table at `dir` has committed. */
  def committed(dir: String): Boolean =
    Files.exists(Paths.get(dir, "_SUCCESS"))

  /** The committed table at `dir`, if any, read with its footer schema
    * ([[Tables.footerSchema]]: no inference job); a bucketed table's
    * reader still discovers the bucket column from the paths. */
  def read(s: SparkSession, dir: String): Option[DataFrame] =
    if (committed(dir)) Some(s.read.schema(Tables.footerSchema(s, dir)).parquet(dir))
    else None

  /** Read a worker table, or an EMPTY frame of `schema` when no batch
    * has committed it yet: a serving caller must see an empty view, not
    * a path-does-not-exist failure, and a crashed partial write stays
    * invisible until its write commits. */
  def tableOrEmpty(
      spark: SparkSession, dir: String, schema: StructType): DataFrame =
    read(spark, dir).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** Upgrade-compat backfill for tables written BEFORE the
    * `first_admitted_batch` column existed: such a row was never
    * re-delivered across batches under the old code, so its `batch_id`
    * IS its first admission. NULL values are repaired the same way:
    * once a schema-growing merge ADOPTS the column on a pre-upgrade
    * table, the old rows carry it physically as NULL, and a bare
    * pass-through would drop them from every `first_admitted_batch <
    * batchId` prior filter — the stored corpus would stop vetoing
    * near-dups of its own oldest rows. */
  def withFirstAdmitted(df: DataFrame): DataFrame =
    if (df.columns.contains("first_admitted_batch"))
      df.withColumn("first_admitted_batch",
        coalesce(col("first_admitted_batch"), col("batch_id")))
    else df.withColumn("first_admitted_batch", col("batch_id"))

  /** Whether the append shape may write a row carrying
    * `first_admitted_batch` into this table: an append can never grow
    * the physical schema ([[UpsertWriter]] refuses it), so on a
    * PRE-upgrade table the first pure-insert batch would throw on every
    * replay and wedge the stream. Gating on the PHYSICAL schema (`raw`
    * is the plain read, before [[withFirstAdmitted]]) routes exactly
    * that batch through the merge, which adopts the column table-wide;
    * later batches append. An absent table appends freely. */
  def canAppendFirstAdmitted(raw: Option[DataFrame]): Boolean =
    raw.forall(_.columns.contains("first_admitted_batch"))

  /** A serving view of a keyed state table: backfilled
    * `first_admitted_batch`, without the derived bucket column. */
  def stateView(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    withFirstAdmitted(tableOrEmpty(spark, dir, schema))
      .drop(UpsertWriter.BucketCol)

  /** Drain the parquet files under `inputDir` through `body`, one file
    * group per micro-batch: AvailableNow drain-and-stop + checkpoint,
    * re-invoked on a schedule or resumed after a kill. */
  def start(
      spark: SparkSession, inputDir: String, checkpointDir: String,
      filesPerTrigger: Int)(body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(Tables.footerSchema(spark, inputDir))
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => body(batch, batchId) }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Rows of the committed table at `dir` matching `predicate`, removed
    * by a searched [[UpsertWriter.deleteWhere]]; an uncommitted table
    * removes nothing. */
  def deleteWhere(spark: SparkSession, dir: String, predicate: Column): Long =
    if (committed(dir)) UpsertWriter.deleteWhere(spark, dir, predicate) else 0L

  /** TAKEDOWN over a survivors table and its extra table, under ONE
    * maintenance window spanning both ([[TableLease.withMaintenance]] is
    * re-entrant), so a foreign lease on EITHER table refuses the whole
    * takedown before the first row is deleted. Survivors are deleted
    * FIRST: a crash between the deletes (`between` is the test hook for
    * that window) leaves only orphaned extra rows, which can never
    * shadow-ban — every verify joins back to the survivors — and which
    * re-running the takedown removes. Returns rows removed per table. */
  def takedown(
      spark: SparkSession, survivorsDir: String, extraDir: String,
      holder: String, predicate: Column,
      between: () => Unit = () => ()): (Long, Long) =
    TableLease.withMaintenance(Seq(survivorsDir, extraDir),
        s"$holder:pid${ProcessHandle.current().pid()}") {
      val nSurv = deleteWhere(spark, survivorsDir, predicate)
      between()
      (nSurv, deleteWhere(spark, extraDir, predicate))
    }
}
