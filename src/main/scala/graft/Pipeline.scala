package graft

import graft.obs.Obs
import graft.sinks.{AlertSink, UpsertWriter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's daily cron entry point, as ONE orchestrated job — what
  * a user of `tarefa_consolidar_dados.php` + `tarefa_consolidar_mapa.php`
  * actually schedules after switching to this library:
  *
  *   1. consolidate the daily mart (EP1: joins + allocation W1–W4);
  *   2. upsert it into the `relatorio_diario` table keyed by
  *      (id_anuncio, id_anuncio_variacao) — idempotent, so the cron
  *      re-running a day restates instead of duplicating (K1);
  *   3. emit unmapped-SKU alerts through the keyed alert sink (J6/K7 —
  *      the reference's `mail()` side output, as a table);
  *   4. compact the mart when small files accrete past a threshold —
  *      the maintenance the reference's MySQL storage did implicitly.
  *
  * Everything here is the library's own public surface (the same calls a
  * user writes); `PipelineE2ESpec` drives two consecutive "days" and
  * asserts restatement-not-duplication, alert keying, and value
  * correctness against the registered query. Scale posture is inherited:
  * the mart upsert shuffles once on the upsert key, alerts are
  * dim-sized, compaction is explicit and occasional.
  */
object Pipeline {

  /** One daily run. `runVersion` is the orchestrator's monotonically
    * increasing run id (the reference used NOW(); a replayed run passes
    * its original id and the upsert restates idempotently).
    *
    * `workerCheckpoint`: the Structured Streaming checkpoint of a
    * worker that CO-WRITES the mart with batch-tagged appends, if the
    * deployment has one. The daily upsert and the accretion compaction
    * fold any such deltas and record their tags in the replay sidecar;
    * the checkpoint proves which batches can never replay
    * ([[UpsertWriter.replayHorizon]]), so this run's maintenance also
    * PRUNES the sidecar instead of growing it forever. A pure-batch
    * deployment (this pipeline alone writes the mart — the default)
    * never creates deltas, so `None` is exact, not a loophole: the
    * sidecar stays empty.
    *
    * `noReplayers`: the pure-batch deployment's EXPLICIT sidecar
    * bound — the caller's declaration that no streaming writer ever
    * appends tagged batches to this mart, past or future. With it,
    * every run clears the replay sidecar outright
    * ([[UpsertWriter.clearReplayMetadata]]) instead of growing it
    * forever: a mart with no replaying worker has no batch that can
    * ever replay, so every idempotence tag is dead weight — including
    * legacy tags left by a worker that was later detached, which no
    * checkpoint-derived horizon can prune once the checkpoint is
    * gone. The declaration is CHECKED, not trusted blind: live
    * delta files under the mart (a tagged writer's evidence trail)
    * refuse the clear loudly, and passing a `workerCheckpoint`
    * alongside it is a contradiction refused up front. Without
    * either (`None` + `false`), maintenance keeps every folded tag —
    * correct for an unknown deployment, unbounded for a pure-batch
    * one; declare one or the other. */
  def runDaily(
      spark: SparkSession,
      sfDir: String,
      warehouseDir: String,
      runVersion: Long,
      compactOver: Int = 64,
      workerCheckpoint: Option[String] = None,
      noReplayers: Boolean = false): Unit = {
    require(!(noReplayers && workerCheckpoint.nonEmpty),
      "noReplayers declares that NO streaming co-writer ever appends " +
        "to this mart; passing its workerCheckpoint contradicts the " +
        "declaration — drop one of the two")
    Sessions.tune(spark)
    val martPathEarly = s"$warehouseDir/relatorio_diario"
    // evidence check at ENTRY, not at the clear: the mart upsert below
    // FOLDS any live deltas (recording their tags), after which a
    // freshly-contradicted declaration is indistinguishable from a
    // legacy sidecar — so look for the tagged writer's evidence trail
    // before this run consumes it
    if (noReplayers) {
      val live = UpsertWriter.taggedDeltas(martPathEarly)
      if (live.nonEmpty)
        throw new IllegalStateException(
          s"runDaily(noReplayers = true) refused: delta files with " +
            s"batch tags ${live.toSeq.sorted.mkString(", ")} exist " +
            s"under $martPathEarly — a tagged streaming writer has " +
            "appended here and its batches may replay, so the " +
            "no-replayers assertion is false; run with the writer's " +
            "checkpoint instead")
    }

    // Each step runs as an Obs phase. 1. consolidate: the mart is a lazy
    // plan (its footer reads run here), so its jobs run in, and book to,
    // the mart upsert's merge-write that consumes it.
    val mart = Obs.phase(spark, "consolidate")(
      operators.Consolidation.relatorio(spark, sfDir)
        .withColumn("run_version", lit(runVersion)))

    // 2. idempotent mart upsert (K1)
    val martPath = s"$warehouseDir/relatorio_diario"
    Obs.phase(spark, "mart-upsert")(
      UpsertWriter.upsert(spark, martPath, mart,
        keys = Seq("id_anuncio", "id_anuncio_variacao"),
        versionCol = "run_version"))

    // 3. alert side output (J6 → K7)
    Obs.phase(spark, "alert") {
      val unmapped = Tables.part(spark, sfDir)
        .join(
          Tables.lineitem(spark, sfDir).filter(col("l_quantity") >= 48.0),
          col("p_partkey") === col("l_partkey"),
          "left_anti")
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
      AlertSink.emit(spark, s"$warehouseDir/alerts", unmapped, runVersion)
    }

    // 4. occasional maintenance: bin-pack when the mart has accreted
    // too many small files (each upsert emits up to a shuffle's worth)
    Obs.phase(spark, "maintenance") {
      val files = UpsertWriter.dataFiles(java.nio.file.Paths.get(martPath)).size
      // the worker checkpoint (when a streamed co-writer exists) proves
      // the replay horizon, so maintenance BOUNDS the folded-tag sidecar
      // instead of only growing it: the compaction prunes when it fires,
      // and the cheap metadata-only prune runs on the days it doesn't
      val horizon = workerCheckpoint.flatMap(UpsertWriter.replayHorizon)
      if (files > compactOver)
        UpsertWriter.compact(spark, martPath, replayHorizon = horizon)
      else horizon.foreach(UpsertWriter.pruneReplayMetadata(martPath, _))
      // the declared-batch-only deployment's bound: clear the sidecar
      // outright (checked against live deltas — see the scaladoc). After
      // the compaction above, not instead of it: a compact that folded
      // anything has just recorded tags this clear is entitled to drop.
      if (noReplayers) UpsertWriter.clearReplayMetadata(martPath)
    }
  }

  /** The STREAMING counterpart of [[runDaily]] — the reference's queue
    * worker loop (`tarefa_popular_fila_*` → `worker_*`, T4) as one
    * orchestrated entry a user schedules instead of cron: claim task
    * files landing in `queueDir` (rate-limited micro-batches), enrich
    * each batch with the catalog dim (the worker's API-join step, here a
    * broadcast join against the part dim), and ack into the keyed state
    * table at `warehouseDir/queue_state` through the idempotent K1
    * upsert.
    *
    * Exactly-once STATE under kill/restart, end to end: the checkpoint
    * makes a resumed query replay any in-flight batch with the SAME
    * batch_id, and the upsert's last-write-wins by (key, version) turns
    * that replay into a restate — never a duplicate row. The returned
    * query runs with `Trigger.AvailableNow` (drain-and-stop, the cron
    * cadence); a long-lived deployment re-invokes on a schedule or swaps
    * the trigger. `PipelineStreamingSpec` kills a query mid-drain and
    * resumes it on the same checkpoint.
    */
  def runStreaming(
      spark: SparkSession,
      sfDir: String,
      queueDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery = {
    Sessions.tune(spark)
    val dim = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("task_id"), col("p_name"), col("p_brand"))
    streaming.QueueWorker.start(
      spark, queueDir, s"$warehouseDir/queue_state", checkpointDir,
      keys = Seq("task_id"), versionCol = "batch_id",
      process = batch => batch.join(broadcast(dim), Seq("task_id"), "left"),
      filesPerTrigger = filesPerTrigger)
  }

  /** The STREAMING form of the T2 D-3 watermark — continuous event
    * ingest where a day's totals accrue from on-time arrivals and rows
    * older than the data-derived cutoff land in the T6 error channel
    * instead of the mart ([[streaming.WatermarkedIngest]]; the batch
    * twin is the registered `t2_asof_watermark`). Exactly-once under
    * kill/resume by the same checkpoint + idempotent-upsert pair as
    * [[runStreaming]] — `WatermarkedStreamSpec` kills mid-drain and
    * resumes. */
  def runWatermarked(
      spark: SparkSession,
      eventsDir: String,
      warehouseDir: String,
      checkpointDir: String,
      delayDays: Int = 3,
      filesPerTrigger: Int = 1): StreamingQuery = {
    Sessions.tune(spark)
    streaming.WatermarkedIngest.start(
      spark, eventsDir, warehouseDir, checkpointDir, delayDays,
      filesPerTrigger)
  }

  /** Continuous exact-dedup ingest over arriving document files — the
    * K2 insert-if-absent contract streamed ([[streaming.DedupIngest]]):
    * first copy of every content hash admitted to the survivors table,
    * later copies dropped, per-batch admission counts in the log table.
    * Exactly-once under kill/resume by checkpoint + table-resident
    * state + idempotent keyed upserts — `DedupIngestStreamSpec` kills
    * mid-drain and resumes. */
  def runDedupIngest(
      spark: SparkSession,
      docsDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery = {
    Sessions.tune(spark)
    streaming.DedupIngest.start(
      spark, docsDir, warehouseDir, checkpointDir, filesPerTrigger)
  }

  /** Continuous ANN-index maintenance (frozen coarse quantizer,
    * nearest-centroid cell assignment, cell-probed search) — see
    * [[streaming.AnnIngest]]. */
  def runAnnIngest(
      spark: SparkSession,
      vecsDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1,
      stateBuckets: Option[Int] = None): StreamingQuery = {
    Sessions.tune(spark)
    streaming.AnnIngest.start(
      spark, vecsDir, warehouseDir, checkpointDir, filesPerTrigger,
      stateBuckets = stateBuckets)
  }

  /** ONE scheduled ANN-maintenance cycle — the cadence a deployment
    * actually runs (round-7 directive: the drift-triggered refit existed
    * and was gated, but nothing called it outside tests): drain every
    * pending file AvailableNow, then — inside the maintenance window the
    * finished drain IS (the worker's single-writer contract) — check the
    * serving index's measured cell imbalance and refresh the quantizer
    * only if the hottest cell exceeds `driftThreshold` of all postings
    * ([[streaming.AnnIngest.refitIfDrifted]]; a healthy or already-refit
    * index costs one audit scan, never a rewrite). Returns the refit
    * report iff the policy fired, so the orchestrator's run log shows
    * exactly which cycles paid a rewrite. A drain that does not finish
    * within `drainTimeoutMs` is stopped and the cycle fails loudly —
    * maintenance must never run beside a live drain.
    *
    * Every cycle also BOUNDS the worker's replay metadata: the drain's
    * own checkpoint proves which batches committed
    * ([[graft.sinks.UpsertWriter.replayHorizon]]), the rebucket prunes
    * the folded-tags sidecar under that horizon when it fires, and the
    * metadata-only prune ([[graft.sinks.UpsertWriter
    * .pruneReplayMetadata]]) runs when it doesn't — so the sidecar
    * stays O(replayable batches) across an unbounded cycle count
    * (`PipelineStreamingSpec` drives 20+ orchestrated cycles and
    * asserts it). `AnnIngestStreamSpec` drives a drifted and a healthy
    * cycle. */
  def runAnnIngestCycle(
      spark: SparkSession,
      vecsDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1,
      driftThreshold: Double = 0.5,
      drainTimeoutMs: Long = 300000L,
      rebucketTargetBytes: Long = 256L << 20,
      stateBuckets: Option[Int] = None): Option[streaming.AnnIngest.RefitReport] = {
    // CHECKED drain window ([[sinks.TableLease]]): while the drain is
    // live, a maintenance pass (compact/refit — this cycle's own or a
    // concurrently scheduled one, same process or not) is refused
    // instead of racing the drain's replayable batches; the leases
    // release when the drain finishes, which is exactly when the
    // maintenance window opens. The timeout path releases too (the
    // query was stopped), and the cycle still fails loudly.
    graft.sinks.TableLease.withDrain(
        Seq(s"$warehouseDir/ann_index", s"$warehouseDir/ann_centroids"),
        s"ann-drain:pid${ProcessHandle.current().pid()}") {
      val q = runAnnIngest(
        spark, vecsDir, warehouseDir, checkpointDir, filesPerTrigger,
        stateBuckets)
      if (!q.awaitTermination(drainTimeoutMs)) {
        q.stop()
        throw new IllegalStateException(
          s"ANN drain did not finish within ${drainTimeoutMs}ms; " +
            "skipping maintenance (refit must never run beside a live drain)")
      }
    }
    // the finished drain's checkpoint proves the replay horizon: every
    // batch it committed can never replay, so this cycle's maintenance
    // may prune the folded-tags sidecar down to the replayable set —
    // the bound that keeps a long-lived worker's hot-path metadata
    // O(replayable batches) instead of O(batches ever)
    val horizon = graft.sinks.UpsertWriter.replayHorizon(checkpointDir)
    // same maintenance window, second policy: a pinned index whose
    // average bucket outgrew the target is re-bucketed (one directory
    // walk when healthy; loud when it fires — the run log must show
    // which cycles paid a rewrite)
    graft.sinks.UpsertWriter.rebucketIfOvergrown(
        spark, s"$warehouseDir/ann_index", Seq("vec_id"),
        targetBucketBytes = rebucketTargetBytes, replayHorizon = horizon)
      .foreach { case (o, n) =>
        Console.err.println(
          s"[ann-cycle] ann_index rebucketed $o -> $n buckets " +
            "(average bucket outgrew the maintenance target)")
      }
    // metadata-only prune on the cycles where no rewrite fired — one
    // sidecar read, so it runs every cycle unconditionally
    horizon.foreach(
      graft.sinks.UpsertWriter.pruneReplayMetadata(
        s"$warehouseDir/ann_index", _))
    streaming.AnnIngest.refitIfDrifted(spark, warehouseDir, driftThreshold)
  }

  /** Continuous near-dup ingest (banded-LSH + exact-Jaccard verify,
    * batch-scaled work, table-held state) — see
    * [[streaming.NearDupIngest]]. */
  def runNearDupIngest(
      spark: SparkSession,
      docsDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery = {
    Sessions.tune(spark)
    streaming.NearDupIngest.start(
      spark, docsDir, warehouseDir, checkpointDir, filesPerTrigger)
  }

  /** Continuous MULTI-SIGNAL dedup ingest (admit only if neither a
    * lexical nor a semantic near-dup of anything admitted; mixed-edge
    * chains collapse within a batch) — see
    * [[streaming.MultiSignalIngest]]. */
  def runMultiSignalIngest(
      spark: SparkSession,
      inputDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery = {
    Sessions.tune(spark)
    streaming.MultiSignalIngest.start(
      spark, inputDir, warehouseDir, checkpointDir, filesPerTrigger)
  }

  /** Continuous embedding-cosine near-dup ingest (occupancy-scaled
    * hyperplane cells re-masked per batch — maintenance-free index,
    * no quantizer to refit) — see [[streaming.EmbedIngest]]. */
  def runEmbedIngest(
      spark: SparkSession,
      vecsDir: String,
      warehouseDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery = {
    Sessions.tune(spark)
    streaming.EmbedIngest.start(
      spark, vecsDir, warehouseDir, checkpointDir, filesPerTrigger)
  }
}
