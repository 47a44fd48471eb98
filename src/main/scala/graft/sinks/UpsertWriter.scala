package graft.sinks

import graft.Tables
import graft.obs.Obs
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.nio.file.{Files, Paths}

/** Real write-path for the reference's sink operators (SURVEY §2.2):
  *
  *  - K1 `INSERT … ON DUPLICATE KEY UPDATE` → [[upsert]]: keyed
  *    keep-latest merge into a parquet table. When the table is
  *    partitioned, only partitions touched by the updates are rewritten
  *    (the 100 TB behavior: a daily restate rewrites days, not the
  *    table). Unpartitioned tables are rewritten via a staging directory
  *    + rename-aside swap, since parquet can't be read and overwritten
  *    in one job.
  *  - K5 `TRUNCATE TABLE` → [[truncate]]: overwrite with empty.
  *
  * On a lakehouse this is `MERGE INTO` (Delta/Iceberg); plain parquet is
  * the driver-fixture contract here and the merge semantics are the same:
  * last-write-wins per key, ties broken to the update side, and within
  * one update batch to the later row (the reference's row-by-row
  * `ON DUPLICATE KEY UPDATE` applies arrivals in order, so last wins).
  *
  * Crash safety: the committed table is never deleted before its
  * replacement is in place, on EITHER path.
  *
  *  - Unpartitioned: the swap renames live aside (`.__old`), promotes
  *    staging, then drops `.__old`.
  *  - Partitioned (incl. [[upsertBucketed]]): the replacement image of
  *    the TOUCHED partitions is first written and committed to a
  *    sibling staging dir (`.__pstaging`, `_SUCCESS`-marked), then each
  *    leaf partition directory is swapped in by rename (live leaf aside
  *    into a `.__oldparts` mirror, staging leaf promoted). Spark's own
  *    dynamic-partition-overwrite commit is deliberately NOT used for
  *    the merge: its commit deletes a touched partition directory
  *    before promoting the replacement files, so a crash in that window
  *    would permanently lose rows of OTHER keys co-located in the
  *    touched partition that the re-delivered batch does not carry —
  *    replay would merge from the already-damaged table. With the
  *    staging swap, a crash at any instant leaves every leaf either
  *    fully old or fully new (directory rename), and a committed
  *    staging image survives to finish the swap.
  *
  * [[recover]] repairs any half-done state on the next call, so a crash
  * at any point leaves the previously committed (or newly committed)
  * table readable. Renames are same-directory `Files.move` — atomic on
  * POSIX filesystems and HDFS; on an object store this layer maps to a
  * lakehouse table format instead (see above).
  *
  * A write takes the table's schema from its first data file's footer
  * ([[Tables.footerSchema]]: on the driver, no Spark job), read again
  * on every call; nothing is memoized across calls.
  *
  * Each write tags its own steps with [[Obs.phase]], so a caller's
  * [[Obs.Metrics]] split the sink's jobs and wall time without a
  * stopwatch of its own: `merge-write` (the merged image's staged write,
  * existing-table read included) and `swap` (the renames that promote
  * it) in [[upsert]]/[[upsertBucketed]], `append` in [[appendBucketed]]
  * and [[append]], and `compact`, `rebucket` and `delete` around the
  * maintenance ops.
  */
object UpsertWriter {

  /** Diagnostic lease-holder id for this process's maintenance ops. */
  private def maintHolder(op: String): String =
    s"$op:pid${ProcessHandle.current().pid()}"

  /** A table "exists" only when its last write COMMITTED (_SUCCESS
    * marker). A directory left by a crashed partial write is treated as
    * absent and re-initialized rather than merged — the crash-safe
    * contract QueueWorker's idempotent acks rely on. */
  private def exists(path: String): Boolean =
    Files.exists(Paths.get(path, "_SUCCESS"))

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.delete)
    }
  }

  /** Repair a swap that crashed mid-way. A dangling `.__old` WITHOUT a
    * live directory means the crash hit between rename-aside and promote.
    * If staging carries a COMMITTED image (_SUCCESS — swapIn always
    * finishes the staging write before any rename), the crashed swap is
    * simply completed: promote staging, drop `.__old`, nothing lost.
    * Otherwise move the committed state back (the in-flight batch is
    * lost, the caller retries). With a live directory present only the
    * final cleanup was missed: drop the leftover. Uncommitted staging is
    * always discarded — it never held committed state.
    *
    * Package-visible (not private) so the crash-window specs can drive
    * it over engineered intermediate states directly. */
  private[graft] def recover(path: String): Unit = {
    val old = Paths.get(path + ".__old")
    val staging = Paths.get(path + ".__staging")
    val live = Paths.get(path)
    if (Files.exists(old)) {
      if (Files.exists(live)) deleteTree(path + ".__old")
      else if (Files.exists(staging.resolve("_SUCCESS"))) {
        Files.move(staging, live)
        deleteTree(path + ".__old")
      } else Files.move(old, live)
    }
    deleteTree(path + ".__staging")
    // a crashed append's staging is always discarded: the appended batch
    // regenerates it wholesale on replay (delta files are replaced by
    // name, so no partial move can double-append)
    deleteTree(path + ".__astaging")
    quarantineTornAppends(path)
    recoverPartitionSwap(path)
    completeRebucketIntent(path)
  }

  /** Quarantine the delta files of any append whose in-flight marker
    * survived a crash ([[appendBucketed]] writes `<table>.__apending-
    * <tag>` before its first move and deletes it after the last): the
    * marker present means the batch's file moves may be TORN — some
    * delta files live, some not — so the whole tag is deleted and the
    * table returns to its pre-batch state (all-or-nothing visibility;
    * the streaming replay re-appends the batch wholesale, delta names
    * are deterministic). Marker deletion comes LAST so a crash inside
    * the quarantine itself simply re-runs it. */
  private def quarantineTornAppends(path: String): Unit = {
    val table = Paths.get(path)
    val parent = table.toAbsolutePath.getParent
    val prefix = table.getFileName.toString + ".__apending-"
    if (parent == null || !Files.isDirectory(parent)) return
    listed(parent).filter(_.getFileName.toString.startsWith(prefix)).foreach { marker =>
      val tag = marker.getFileName.toString.stripPrefix(prefix)
      dataFiles(table).filter(_.getFileName.toString.startsWith(s"delta-$tag-"))
        .foreach { f => swapFault(); Files.delete(f) }
      swapFault()
      Files.delete(marker)
    }
  }

  /** The entries of the directory `dir`. */
  private def listed(dir: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val list = Files.list(dir)
    try list.iterator().asScala.toList finally list.close()
  }

  /** The regular `.parquet` data files under `dir`, recursively; none
    * when `dir` is absent. An IO error during the walk propagates. */
  private[graft] def dataFiles(
      dir: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(dir)) return Nil
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(p =>
      p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p)).toList
    finally walk.close()
  }

  /** Leaf `col=value` partition directories under `root`, as paths
    * RELATIVE to it: a leaf is a partition-named directory with no
    * partition-named subdirectory (the directory Spark writes one
    * partition's data files into). Empty when `root` holds no partition
    * directories at all. */
  private def leafPartitionDirs(
      root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    def partSubdirs(d: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!Files.isDirectory(d)) Nil
      else listed(d).filter(p =>
        Files.isDirectory(p) && p.getFileName.toString.contains("="))
    def rec(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val subs = partSubdirs(d)
      if (subs.isEmpty) { if (d == root) Nil else Seq(root.relativize(d)) }
      else subs.flatMap(rec)
    }
    rec(root)
  }

  /** TEST-ONLY fault injection: called before every filesystem mutation
    * of the partitioned leaf swap, so the crash-window spec can kill
    * the swap at EVERY interruption point exhaustively (an engineered
    * state or two would under-test the protocol). Production value is
    * a no-op; never set outside tests. */
  private[graft] var swapFault: () => Unit = () => ()

  /** Complete a partitioned leaf swap from a COMMITTED `.__pstaging`
    * image: per leaf, rename the live directory aside into the
    * `.__oldparts` mirror, promote the staging leaf, then drop mirror +
    * staging. Every step is an idempotent directory rename, so the
    * function doubles as its own crash recovery — a re-run after a
    * crash at ANY point resumes exactly where the swap stopped (a leaf
    * already promoted is no longer in staging; a leaf moved aside but
    * not promoted has no live directory and skips the rename-aside). */
  private def completePartitionSwap(path: String): Unit = {
    val pstaging = Paths.get(path + ".__pstaging")
    val oldparts = Paths.get(path + ".__oldparts")
    val root = Paths.get(path)
    leafPartitionDirs(pstaging).foreach { rel =>
      val live = root.resolve(rel)
      val aside = oldparts.resolve(rel)
      if (Files.exists(live)) {
        // aside already present = a previous attempt crashed between
        // rename-aside and promote AND the leaf re-appeared live — not
        // reachable under the protocol, but never let a stale aside
        // block the promote
        if (Files.exists(aside)) deleteTree(aside.toString)
        Files.createDirectories(aside.getParent)
        swapFault()
        Files.move(live, aside)
      }
      Files.createDirectories(live.getParent)
      swapFault()
      Files.move(pstaging.resolve(rel), live)
    }
    swapFault()
    deleteTree(path + ".__oldparts")
    swapFault()
    deleteTree(path + ".__pstaging")
  }

  /** Repair a PARTITIONED leaf swap that crashed mid-way. A committed
    * staging image (`.__pstaging/_SUCCESS`) always wins: the swap is
    * simply completed — the merge that produced it had fully committed,
    * only renames remained. An UNcommitted staging is discarded and any
    * leaves already moved aside (unreachable under the protocol — asides
    * start only after the staging commit — but cheap to honor) are
    * restored where the live leaf is missing. Either way the table ends
    * fully consistent: every leaf is one complete image, no key is lost. */
  private def recoverPartitionSwap(path: String): Unit = {
    val pstaging = Paths.get(path + ".__pstaging")
    val oldparts = Paths.get(path + ".__oldparts")
    if (Files.exists(pstaging.resolve("_SUCCESS"))) {
      // Re-derive the folded-tag record BEFORE completing the swap: a
      // crash in [[upsert]] between the staging commit and its
      // recordFoldedTags call leaves a completable staging whose
      // subsumed delta files were never recorded — completing it bare
      // would fold an uncommitted batch's deltas silently, and the
      // replayed append would re-add every row the swap already merged
      // (the refit-crashes-in-a-drain's-replay-window hazard the
      // sidecar exists to close). The tags are re-derivable here:
      // the deltas this swap subsumes are exactly the delta files
      // still live in the staging image's leaf set. Idempotent when
      // the normal path already recorded (set union); leaves already
      // promoted by a crashed completePartitionSwap carry no delta
      // files (the staging image is ordinary part files), so a
      // mid-swap re-run records the not-yet-swapped subset — already
      // in the sidecar from the normal path's pre-swap record.
      foldDeltas(path, leafPartitionDirs(pstaging).map(_.toString))
      completePartitionSwap(path)
    } else {
      if (Files.exists(oldparts)) {
        val root = Paths.get(path)
        leafPartitionDirs(oldparts).foreach { rel =>
          val live = root.resolve(rel)
          if (!Files.exists(live)) {
            Files.createDirectories(live.getParent)
            Files.move(oldparts.resolve(rel), live)
          }
        }
      }
      deleteTree(path + ".__oldparts")
      deleteTree(path + ".__pstaging")
    }
  }

  /** Write the new table image into staging, then swap it live without a
    * window where committed data is deleted but not yet replaced. */
  private def swapIn(spark: SparkSession, path: String)(
      writeStaging: String => Unit): Unit = {
    val staging = path + ".__staging"
    writeStaging(staging)
    Obs.phase(spark, "swap") {
      val target = Paths.get(path)
      if (Files.exists(target)) {
        swapFault()
        Files.move(target, Paths.get(path + ".__old"))
      }
      swapFault()
      Files.move(Paths.get(staging), target)
      swapFault()
      deleteTree(path + ".__old")
    }
  }

  /** Merge `updates` into the keyed table at `path`.
    *
    * @param keys       merge key columns (the reference PK)
    * @param versionCol highest value wins per key; updates win ties
    *                   (the reference's last-write-wins upsert)
    * @param partitionBy optional partition columns → dynamic overwrite of
    *                    touched partitions only
    */
  def upsert(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String,
      partitionBy: Seq[String] = Nil): Unit = {

    // a table pinned by a bucket marker must only be merged through
    // [[upsertBucketed]] (which calls back here with partitionBy =
    // BucketCol): a plain merge would rewrite it UNpartitioned, leaving
    // flattened root files a later bucketed merge's leaf-directory swap
    // never replaces — every key they hold would silently duplicate
    require(!Files.exists(bucketMarker(path)) ||
        partitionBy == Seq(BucketCol),
      s"table at $path is pinned ${pinnedBuckets(path).getOrElse(0)}-way " +
        "bucketed; merge it through upsertBucketed, not a plain upsert")

    TableLease.requireNoForeignMaintenance(path)
    recover(path)

    // __seq: within-batch arrival order (partition-major), the tertiary
    // tie-break. Two same-key same-version rows in one batch — e.g. one
    // QueueWorker micro-batch sharing a batch_id — resolve to the LATER
    // row, matching the reference's row-by-row ON DUPLICATE KEY UPDATE.
    // Existing rows rank below any update (__seq = -1).
    val seqd = updates
      .withColumn("__upd", lit(1))
      .withColumn("__seq", monotonically_increasing_id())

    // LAYOUT ADOPTION: a partitioned merge over a table whose PHYSICAL
    // layout differs (unpartitioned — e.g. freshly truncated — or
    // partitioned by other columns) cannot ride the touched-leaf swap:
    // the swap only replaces `col=value` directories matching the new
    // scheme, so every pre-existing root/other-scheme data file would
    // survive NEXT TO the rewritten image — silently duplicating each
    // scoped key. Such a merge becomes a FULL rewrite through the
    // whole-directory swap instead (correct, one-off; the next merge
    // prunes normally against the adopted layout).
    val adopting = exists(path) && partitionBy.nonEmpty &&
      partitionColsOf(path) != partitionBy

    def mergedImage(): DataFrame = if (!exists(path)) {
      dedup(seqd, keys, versionCol)
    } else {
      // the table's schema is its first data file's footer, read on the
      // driver (no inference job); a partitioned layout's reader still
      // discovers the partition columns from the paths
      val existing =
        spark.read.schema(Tables.footerSchema(spark, path)).parquet(path)
      // SCHEMA GROWTH disables partition pruning for this one merge: a
      // batch carrying a column the table lacks must rewrite EVERY
      // partition, because parquet has no table-level schema — a plain
      // read samples one file's footer, and an untouched partition's
      // old-schema files would make the new column invisible (or
      // visible nondeterministically, by sampling order). Growing the
      // schema is a rare deliberate event; paying one full rewrite for
      // it keeps every later plain read of the table correct. Updates
      // MISSING columns need no such care (the surviving row reads
      // NULL there; the written schema is unchanged).
      val schemaGrew =
        (updates.columns.toSet -- existing.columns).nonEmpty
      val scoped =
        if (partitionBy.isEmpty || schemaGrew || adopting) existing
        else {
          // only partitions the updates touch participate in the
          // rewrite. NULL-SAFE equality (<=>), not a plain equi-join: a
          // NULL partition value lands in the default-partition
          // directory like any other, but null = null is FALSE in an
          // equi-join, so a batch updating that partition would scope
          // OUT the existing null rows and the leaf swap would then
          // replace the directory without them — silently dropping
          // every prior null-partition key the batch didn't carry
          val touched = broadcast(
            updates.select(partitionBy.map(col): _*).distinct())
          val cond = partitionBy
            .map(c => existing(c) <=> touched(c)).reduce(_ && _)
          existing.join(touched, cond, "left_semi")
        }
      // allowMissingColumns = additive schema evolution: an updates
      // batch may carry columns the table doesn't have yet (existing
      // rows read them as NULL) or omit columns the table has (the
      // update's surviving row reads NULL there — full-row-replace
      // semantics, same as every other upsert here). The written table
      // always carries the union of both schemas.
      dedup(
        scoped.withColumn("__upd", lit(0)).withColumn("__seq", lit(-1L))
          .unionByName(seqd, allowMissingColumns = true),
        keys, versionCol)
    }

    // the image is built inside `merge-write`, so the jobs of its
    // existing-table read book to the write they serve
    def writeMerged(target: String): Unit = Obs.phase(spark, "merge-write") {
      val w = mergedImage().write.mode(SaveMode.Overwrite)
      if (partitionBy.isEmpty) w.parquet(target)
      else w.partitionBy(partitionBy: _*).parquet(target)
    }

    // A merge whose swap SUBSUMES delta files must record their tags as
    // folded, exactly like [[compact]]: the one merge that can legally
    // fold an UNCOMMITTED batch's deltas is a full-table maintenance
    // rewrite ([[graft.streaming.AnnIngest.refit]] — it runs in the
    // maintenance window a crashed drain's batch replays AFTER), and
    // without the record the replayed append would re-add every row the
    // rewrite already merged. Committed batches' tags are recorded too —
    // harmless (they never replay) and cheaper than telling them apart.
    // Recording happens BEFORE the swap: a crash in between leaves the
    // deltas live, so the skipped replay still serves every row.
    if (partitionBy.nonEmpty && !exists(path)) {
      writeMerged(path)
    } else if (partitionBy.nonEmpty && !adopting) {
      // Touched-partitions-only merge through a committed staging image
      // + per-leaf rename swap ([[completePartitionSwap]]). The image
      // holds exactly the touched partitions (the left-semi scope
      // above); writing it to `.__pstaging` materializes the read of
      // the live table BEFORE any rename touches it, and the swap never
      // has a deleted-but-not-replaced window — the crash-atomicity
      // Spark's dynamic-partition-overwrite commit (delete touched
      // partition, then promote files) does not give.
      writeMerged(path + ".__pstaging")
      // fault point for the staging-committed-but-tags-unrecorded
      // window: recoverPartitionSwap re-derives the record before it
      // completes the swap, and the spec kills here to prove it
      swapFault()
      // tags folded by THIS swap = delta files in the touched leaves
      // (the staging image's leaf set). A tag spanning untouched leaves
      // keeps those files — safe either way: a tag that can still
      // replay belongs to an uncommitted batch, and the only legal
      // merge in its replay window is a FULL rewrite (every leaf
      // touched), so a partial fold only ever happens to tags that
      // will never replay.
      foldDeltas(path,
        leafPartitionDirs(Paths.get(path + ".__pstaging")).map(_.toString))
      Obs.phase(spark, "swap")(completePartitionSwap(path))
    } else {
      // unpartitioned, or layout adoption (see above): the merged image
      // is the FULL table, and the whole-directory swap also replaces
      // the old layout's files the touched-leaf swap would leave behind
      foldDeltas(path)
      swapIn(spark, path)(writeMerged)
    }
  }

  /** Name of the derived bucket partition column written by
    * [[upsertBucketed]]. Readers that want the logical row back drop it
    * (it is derivable from the keys). */
  val BucketCol = "__bucket"

  private def bucketMarker(path: String) =
    Paths.get(path + ".__buckets")

  /** Replace the sidecar file `f` with `text` ATOMICALLY: temp sibling
    * + same-directory `ATOMIC_MOVE`. A plain `Files.write` can crash
    * mid-write and leave an empty/partial marker (an unparseable pin
    * wedges every later call); `REPLACE_EXISTING` without
    * `ATOMIC_MOVE` is unlink-then-rename, a window where readers see no
    * file at all. `rename(2)` replaces the target in one step. */
  private def writeAtomically(f: java.nio.file.Path, text: String): Unit = {
    Files.createDirectories(f.toAbsolutePath.getParent)
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    Files.write(tmp, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Pin the bucket count marker (atomically — see [[writeAtomically]]). */
  private def pinBuckets(path: String, numBuckets: Int): Unit =
    writeAtomically(bucketMarker(path), numBuckets.toString)

  private def foldedMarker(path: String) =
    Paths.get(path + ".__folded-tags")

  /** Batch tags whose delta files a [[compact]] has folded into
    * ordinary files — the sidecar that makes a replayed
    * [[appendBucketed]] idempotent ACROSS a compaction: the lease
    * closes the live race, but a batch that crashed before its
    * checkpoint commit replays after nothing was running, and without
    * this record it would re-append rows the fold already merged.
    *
    * Growth bound: one line per DISTINCT tag ever folded, read per
    * append — ~10 bytes/batch. Unbounded by default (a tag is only
    * safe to forget once its batch's checkpoint committed, which this
    * layer cannot see), which on a long-lived streaming table is an
    * ever-growing critical metadata file re-read on the hot append
    * path. The caller-supplied REPLAY HORIZON closes that: [[compact]]
    * and [[rebucket]] take `replayHorizon = Some(h)` — the worker's
    * assertion, derived from its checkpoint ([[replayHorizon]]), that
    * every batch with id < h has committed and can never replay — and
    * drop the `b<id>` tags below it during the already-atomic sidecar
    * rewrite ([[pruneFoldedTags]]). Without a horizon nothing is ever
    * pruned; a state reset that clears history ([[truncate]] / fresh
    * directory) clears the sidecar outright. */
  private[graft] def foldedTags(path: String): Set[String] =
    if (!Files.exists(foldedMarker(path))) Set.empty
    else new String(Files.readAllBytes(foldedMarker(path)),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet

  /** Append-batch tags of the delta files under `dir` (recursively). */
  private def deltaTagsUnder(dir: java.nio.file.Path): Set[String] =
    dataFiles(dir).map(_.getFileName.toString).filter(_.startsWith("delta-"))
      .map(_.stripPrefix("delta-").replaceAll("-\\d+\\.parquet$", "")).toSet

  /** Record tags as folded, atomically (temp + rename), BEFORE the
    * fold's swap: if the fold crashes after this write the delta
    * files still exist and a skipped replay loses nothing — the rows
    * are present either as the original deltas or as the folded image,
    * never twice. */
  private[graft] def recordFoldedTags(path: String, tags: Set[String]): Unit =
    writeFoldedTags(path, foldedTags(path) ++ tags)

  /** Record as folded the tags of the delta files under the `leaves`
    * of the table at `path` (all of it by default): the step every
    * rewrite that subsumes delta files takes before its swap. */
  private def foldDeltas(path: String, leaves: Seq[String] = Seq("")): Unit = {
    val tags = leaves.flatMap(l => deltaTagsUnder(Paths.get(path).resolve(l))).toSet
    if (tags.nonEmpty) recordFoldedTags(path, tags)
  }

  private def writeFoldedTags(path: String, all: Set[String]): Unit =
    writeAtomically(foldedMarker(path), all.toSeq.sorted.mkString("\n"))

  /** Drop sidecar tags whose batches can NEVER replay: a tag of the
    * worker convention `b<id>` with id < `horizon` belongs to a batch
    * the caller asserts has committed its checkpoint (the streaming
    * re-delivery contract replays only batches AFTER the last commit),
    * so the idempotence guard it encodes is dead weight — pruning it
    * bounds the sidecar at O(replayable batches) instead of
    * O(batches ever). Tags in any OTHER format are kept (age unknown —
    * never forget what can't be proven dead). The rewrite is the same
    * atomic temp+rename as every record; pruning to empty deletes the
    * file. NEVER called without an explicit horizon — forgetting a tag
    * that could still replay re-admits the duplicate rows the sidecar
    * exists to prevent, so the burden of proof sits with the caller's
    * checkpoint, not a heuristic here. */
  private[graft] def pruneFoldedTags(path: String, horizon: Long): Unit = {
    val all = foldedTags(path)
    if (all.isEmpty) return
    val batchTag = "b(\\d+)".r
    val kept = all.filter {
      case batchTag(id) => id.toLongOption.forall(_ >= horizon)
      case _ => true
    }
    if (kept == all) ()
    else if (kept.isEmpty) Files.deleteIfExists(foldedMarker(path))
    else writeFoldedTags(path, kept)
  }

  /** METADATA-ONLY maintenance: bound the folded-tags sidecar at
    * `path` under a caller-proven replay horizon, without rewriting
    * any data ([[pruneFoldedTags]] under the maintenance lease — the
    * prune races a live drain's append exactly like a compact's
    * sidecar rewrite would). [[compact]] and [[rebucket]] prune too,
    * but only when their rewrite actually runs, and a healthy
    * long-lived table can go thousands of maintenance cycles without
    * one while its sidecar grows a line per folded batch — this is the
    * cheap op an orchestrated cycle ([[graft.Pipeline
    * .runAnnIngestCycle]]) runs EVERY time: one sidecar read plus at
    * most one atomic rewrite, a no-op when no sidecar exists or
    * nothing is provably dead. */
  def pruneReplayMetadata(path: String, replayHorizon: Long): Unit =
    TableLease.withMaintenance(
        Seq(path), maintHolder("pruneReplayMetadata")) {
      pruneFoldedTags(path, replayHorizon)
    }

  /** Batch tags of LIVE delta files under `path` — the table-local
    * evidence trail a tagged streaming writer leaves. Public so a
    * caller about to declare no-replayers ([[clearReplayMetadata]],
    * [[graft.Pipeline.runDaily]]) can check the evidence BEFORE any
    * folding op consumes it: a keyed merge or compact folds deltas
    * into ordinary files and records their tags, after which the
    * contradiction is indistinguishable from a legacy sidecar. */
  def taggedDeltas(path: String): Set[String] =
    deltaTagsUnder(Paths.get(path))

  /** Clear the ENTIRE folded-tags sidecar under the caller's declared
    * NO-REPLAYERS contract: the caller asserts no streaming writer
    * ever appends tagged batches to this table (so nothing can ever
    * replay and every idempotence tag is dead weight) — the assertion
    * a pure-batch deployment can make that a checkpoint-derived
    * horizon ([[replayHorizon]]) cannot express, because there is no
    * checkpoint. Unlike [[pruneFoldedTags]] this also forgets tags in
    * non-`b<id>` formats: the horizon prune keeps those because their
    * age is unprovable, but "no writer exists" kills them all at once.
    *
    * The declaration is CHECKED against the one table-local evidence
    * trail a tagged writer leaves: live `delta-<tag>-*.parquet` files
    * under the table. Any present → the assertion is false (a tagged
    * append happened and its batch may yet replay) → refuse loudly
    * before touching the sidecar. A worker's checkpoint directory is
    * NOT discoverable from the table path, so a detached-but-
    * resumable worker whose deltas were all folded cannot be detected
    * here — that is exactly why this is an explicit caller contract
    * on [[graft.Pipeline.runDaily]] rather than a heuristic default.
    * Lease-gated like every sidecar rewrite. */
  def clearReplayMetadata(path: String): Unit =
    TableLease.withMaintenance(
        Seq(path), maintHolder("clearReplayMetadata")) {
      val live = deltaTagsUnder(Paths.get(path))
      if (live.nonEmpty)
        throw new IllegalStateException(
          s"clearReplayMetadata($path) refused: delta files with batch " +
            s"tags ${live.toSeq.sorted.mkString(", ")} exist under the " +
            "table — a tagged writer has appended here and its batches " +
            "may replay, so the no-replayers assertion is false. Run " +
            "the writer's own maintenance (compact with its checkpoint-" +
            "derived horizon) instead, and declare no-replayers only " +
            "on tables no streaming writer touches.")
      Files.deleteIfExists(foldedMarker(path))
      ()
    }

  /** The replay horizon a Structured Streaming CHECKPOINT proves: the
    * commit log at `<checkpointDir>/commits` holds one file per
    * committed batch id, and a batch whose commit is recorded is never
    * re-delivered — so every batch id ≤ max(commits) is dead and the
    * horizon (first id that could still replay) is max + 1. None when
    * the checkpoint has no commits yet (nothing is provably dead —
    * prune nothing). This is how a worker's maintenance cycle derives
    * the `replayHorizon` argument to [[compact]]/[[rebucket]] without
    * this layer ever reading the checkpoint on a write path. */
  def replayHorizon(checkpointDir: String): Option[Long] = {
    val commits = Paths.get(checkpointDir, "commits")
    if (!Files.isDirectory(commits)) return None
    val ids = listed(commits).flatMap(_.getFileName.toString.toLongOption)
    if (ids.isEmpty) None else Some(ids.max + 1)
  }

  /** The bucket count pinned at `path` by a previous [[upsertBucketed]],
    * if any — how a maintenance pass (e.g. [[graft.streaming.AnnIngest
    * .refit]]) discovers that a table it is about to rewrite keyed must
    * ride the bucketed merge. The marker, not the directory layout, is
    * authoritative: it survives compaction and truncation. A marker
    * that does not parse as a positive int is surfaced as corruption
    * with the recovery action, not as a bare NumberFormatException. */
  def pinnedBuckets(path: String): Option[Int] =
    if (!Files.exists(bucketMarker(path))) None
    else {
      val raw = new String(
        Files.readAllBytes(bucketMarker(path)),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val parsed = raw.toIntOption.filter(_ > 0)
      require(parsed.isDefined,
        s"corrupt bucket pin at ${bucketMarker(path)} (content: '$raw'); " +
          "restore it to the table's original bucket count (an integer), " +
          "or rewrite the table fresh to re-pin")
      parsed
    }

  /** The bucket count a WRITER should use for the table at `path`: the
    * PINNED count when one exists — the pin is authoritative, because a
    * maintenance pass ([[rebucket]] / [[rebucketIfOvergrown]]) may have
    * changed the physical layout since the writer was configured — and
    * the configured count otherwise (config seeds the first write
    * only). This is the piece that makes the bucket count a managed
    * quantity END TO END: without it, the first post-rebucket
    * micro-batch of a long-lived worker would fail the pin guard on its
    * own stale configuration, so re-bucketing would require a
    * coordinated config rollout instead of being a pure maintenance
    * op. Every streaming worker's bucketed write resolves through
    * this. */
  def effectiveBuckets(path: String, configured: Int): Int =
    pinnedBuckets(path).getOrElse(configured)

  /** Keyed upsert with HASH-BUCKET pruning — the 100 TB form of [[upsert]]
    * for tables whose natural key has no time/partition structure (dedup
    * survivors, band indexes, ANN postings). The merge key hashes to a
    * stable bucket (`xxhash64(keys) % numBuckets` — a fixed published
    * algorithm, so the bucket of a key never moves between sessions or
    * executors), the bucket becomes a partition directory, and the merge
    * rides [[upsert]]'s crash-atomic touched-partition swap: a batch
    * touching k buckets rewrites k·(corpus/numBuckets) rows instead of
    * the corpus.
    * Sized so a bucket ≈ a comfortable task (e.g. 100 TB / 64 Ki buckets
    * ≈ 1.6 GB), per-batch merge work is O(batch + k·bucket) — bounded by
    * the batch, not the table.
    *
    * `numBuckets` is pinned by a marker file on first write and every
    * later call must pass the same value: re-bucketing in place would
    * leave a key's older row stranded in a bucket the pruned merge never
    * scopes — a silent duplicate. Changing bucket counts is a rewrite
    * (read, re-bucket, write fresh), not an upsert.
    *
    * Crash posture: the partitioned [[upsert]] path's staging swap — a
    * crash anywhere leaves every bucket directory either fully old or
    * fully new (never deleted-but-unreplaced, so co-located keys the
    * batch does not carry are never lost), a committed staging image is
    * finished by [[recover]] on the next call, and on top of that the
    * streaming family's replay contract (idempotent keyed merges, batch
    * re-delivered until the checkpoint commits) re-applies the batch. */
  def upsertBucketed(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String,
      numBuckets: Int): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    TableLease.requireNoForeignMaintenance(path)
    recover(path)
    requirePin(path, numBuckets, s"upsertBucketed($numBuckets) would " +
      "strand keys in unscoped buckets", "upsert")
    upsert(spark, path, updates.withColumn(BucketCol, bucketOf(keys, numBuckets)),
      keys, versionCol, partitionBy = Seq(BucketCol))
  }

  /** The bucket of a row: `xxhash64(keys) pmod n`, an int. The one
    * bucket rule every writer, reader and maintenance op derives from. */
  private[graft] def bucketOf(keys: Seq[String], n: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(n.toLong)).cast("int")

  /** A bucketed write of `n` ways needs the table pinned `n` ways, or
    * no table yet, which this call pins now. Adopting bucketing is a
    * REWRITE ([[rebucket]]), not a merge or append: an existing
    * unbucketed table has no bucket directories to write into, and a
    * pin over it would wedge the table (plain writes refused by the
    * pin, bucketed ones failing on the missing column). The pin lands
    * BEFORE the first write: the other way round, a crash between the
    * first committed write and the pin would let the next call pin a
    * DIFFERENT count over existing data, stranding keys in buckets a
    * pruned merge never scopes. The inverse crash merely pins an empty
    * table early. */
  private def requirePin(path: String, n: Int, harm: String, op: String): Unit =
    pinnedBuckets(path) match {
      case Some(pinned) => require(pinned == n, s"table at $path is " +
        s"bucketed $pinned ways; $harm — rewrite the table to re-bucket")
      case None =>
        require(!exists(path), s"table at $path exists unbucketed; adopting " +
          s"bucketing is a rewrite (read, bucket, write fresh), not an $op")
        pinBuckets(path, n)
    }

  /** INSERT-ONLY bucketed append — the batch-bounded write form for rows
    * whose keys are KNOWN ABSENT from the table (a dedup worker's fresh
    * admissions: the vs-corpus check just proved absence). The bucketed
    * MERGE rewrites every touched bucket, which for a firehose of fresh
    * uniformly-hashed keys means every bucket — O(corpus) per batch once
    * batch keys ≥ numBuckets. An append writes O(batch) regardless: each
    * bucket's new rows land as EXTRA files in the existing bucket
    * directory, named deterministically by `batchTag`
    * (`delta-<tag>-<i>.parquet`), so a replayed batch REPLACES its own
    * files instead of duplicating them (stale ones are deleted first).
    * No existing file is read, rewritten, or deleted.
    *
    * Contract: the caller guarantees key-absence (violations surface as
    * duplicate keys — exactly what INSERT without the check would do);
    * the batch is deterministic under replay (the streaming family's
    * re-delivery contract — same batch, same rows, same buckets); and
    * maintenance (compact) runs only in windows where no batch can
    * replay (the package's single-writer contract), since compaction
    * folds delta files into ordinary ones. Keyed merges SUBSUME deltas:
    * [[upsertBucketed]] reads whole buckets (delta files included) and
    * its leaf swap replaces the whole directory, so mixing appends
    * (inserts) with merges (updates) on one table stays consistent.
    *
    * Returns true when the batch was written, false when it was
    * SKIPPED as already-folded (its tag is in the sidecar — a crashed
    * batch a compaction folded, replaying as a no-op). A false on a
    * tag that never legitimately ran means tag REUSE over a table
    * whose history wasn't reset: a fresh checkpoint restarted over an
    * existing warehouse (tags restart at b0) has its appends silently
    * skipped — reset state with [[truncate]] (which clears the
    * sidecar) or a fresh table directory, never by deleting the
    * checkpoint alone. The skip also warns on stderr, so the loss has
    * a signal even when the caller drops the return value. */
  def appendBucketed(
      spark: SparkSession,
      path: String,
      rows: DataFrame,
      keys: Seq[String],
      batchTag: String,
      numBuckets: Int): Boolean = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    Obs.phase(spark, "append")(
      appendInternal(spark, path, rows, keys, batchTag, Some(numBuckets)))
  }

  /** UNBUCKETED insert-only append — [[appendBucketed]]'s contract and
    * crash posture (deterministic `delta-<tag>-<i>.parquet` names,
    * replay replaces, in-flight marker + quarantine, folded-tag no-op)
    * with the delta files landing at the table root. The batch-bounded
    * write form for PLAIN keyed tables the workers maintain at fixture
    * scale: a pure-insert batch appends O(batch) instead of paying the
    * whole-table read + window + staged rewrite of [[upsert]] — the
    * same read/merge/compact interop (a keyed merge's swap replaces the
    * whole directory, deltas included; [[compact]] folds them). Returns
    * false when skipped as already-folded ([[appendBucketed]]'s
    * contract — see its tag-reuse warning). */
  def append(
      spark: SparkSession,
      path: String,
      rows: DataFrame,
      keys: Seq[String],
      batchTag: String): Boolean =
    Obs.phase(spark, "append")(
      appendInternal(spark, path, rows, keys, batchTag, None))

  private def appendInternal(
      spark: SparkSession,
      path: String,
      rows: DataFrame,
      keys: Seq[String],
      batchTag: String,
      numBuckets: Option[Int]): Boolean = {
    require(batchTag.matches("[A-Za-z0-9_-]+"),
      s"batchTag must be filename-safe, got '$batchTag'")
    // an unbucketed append is refused on a bucket-pinned or physically
    // partitioned table (its root-level delta files would sit outside
    // every partition directory, invisible to the pruned merge's leaf
    // swap — permanent duplicates once a merge rewrites the leaves)
    if (numBuckets.isEmpty) {
      require(pinnedBuckets(path).isEmpty,
        s"table at $path is bucket-pinned; append through appendBucketed")
      require(!exists(path) || partitionColsOf(path).isEmpty,
        s"table at $path is partitioned by " +
          s"[${partitionColsOf(path).mkString(", ")}]; root-level delta " +
          "appends would sit outside the partition layout — merge " +
          "through upsert instead")
    }
    TableLease.requireNoForeignMaintenance(path)
    recover(path)
    // a tag a compaction already FOLDED is a crashed batch whose rows
    // are merged into ordinary files: the replayed append is a NO-OP —
    // re-appending would duplicate every row (the one replay hazard the
    // lease cannot see, because nothing is running between the crash
    // and the replay). Tags are each batch's identity and never reused
    // on one table — a skip on a tag that never crashed means someone
    // restarted a FRESH checkpoint (tags back at b0) over a warehouse
    // whose history wasn't reset, and this batch is being silently
    // dropped: warn LOUDLY (the return value carries the same signal)
    // and reset state through truncate()/a fresh directory, never by
    // deleting the checkpoint alone.
    if (foldedTags(path).contains(batchTag)) {
      System.err.println(
        s"[upsert-writer] WARNING: append of batch tag '$batchTag' to " +
          s"$path SKIPPED: the tag is recorded as folded by an earlier " +
          "compaction/rewrite. Legitimate only as a crashed batch's " +
          "replay; if this tag is a NEW batch (checkpoint reset over an " +
          "existing table), its rows are being dropped - reset the table " +
          "with truncate() or a fresh directory before reusing tags.")
      return false
    }
    numBuckets.foreach(nb => requirePin(path, nb,
      s"appendBucketed($nb) would misplace keys", "append"))
    val padded = if (!exists(path)) rows else {
      // an append cannot CHANGE the schema: new-column rows would land
      // as extra files while every other file lacks the column (the
      // footer-sampling invisibility upsert's schema-growth full rewrite
      // exists to prevent), and a TYPE change on a shared column leaves
      // the table unreadable outright (parquet readers refuse mixed
      // physical types for one column). Route any schema change through
      // upsertBucketed — the merge materializes one uniform image.
      val existing = Tables.footerSchema(spark, path)
      val existingTypes =
        existing.fields.map(f => f.name -> f.dataType).toMap
      val extra = rows.columns.toSet -- existingTypes.keySet
      require(extra.isEmpty,
        s"appendBucketed cannot grow the schema of $path (new columns: " +
          s"${extra.mkString(", ")}); use upsertBucketed — growth is a " +
          "full rewrite")
      // nullability-normalized compare: an in-memory batch often carries
      // containsNull/nullable = false where the parquet read reports
      // true — same physical type, not drift
      val retyped = rows.schema.fields
        .filter(f => existingTypes.get(f.name)
          .exists(_ != Tables.nullable(f.dataType)))
        .map(f => s"${f.name}: ${existingTypes(f.name).simpleString} -> " +
          f.dataType.simpleString)
      require(retyped.isEmpty,
        s"appendBucketed cannot change column types of $path " +
          s"(${retyped.mkString(", ")}); mixed parquet types make the " +
          "table unreadable — use upsertBucketed to rewrite uniformly")
      // a batch MISSING columns the table has is padded with typed
      // NULLs, never written narrow: a narrow-schema delta file in a
      // live bucket directory makes every plain (non-mergeSchema) read
      // of the package lose the column whenever footer sampling lands
      // on it — the exact invisibility the schema-growth full rewrite
      // exists to prevent — and a later full-schema append would be
      // spuriously refused as "growing the schema" off the same sample.
      // Padding mirrors upsert's full-row-replace semantics (a merge's
      // surviving row reads NULL in columns the batch omitted).
      val missing = existing.fields.filter(f =>
        f.name != BucketCol && !rows.columns.contains(f.name))
      missing.foldLeft(rows)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    val bucketed = numBuckets.fold(padded)(nb =>
      padded.withColumn(BucketCol, bucketOf(keys, nb)))
    // stage the batch image (partitioned by bucket, committed), then move
    // each staged file into its live bucket directory under the
    // deterministic per-batch name — deleting any same-tag leftovers of a
    // crashed attempt first, so the replayed batch replaces itself. The
    // moves are bracketed by an IN-FLIGHT MARKER (`<table>.__apending-
    // <tag>`, written before the first move, deleted after the last):
    // a crash mid-move leaves some delta files live and some not — a
    // torn batch a concurrent reader must never be left with — and the
    // surviving marker makes the next [[recover]] quarantine the whole
    // tag, restoring the pre-batch table until the replay re-appends it
    // (all-or-nothing visibility). The root `_SUCCESS` commits LAST on
    // the first-ever append — after the marker delete, so a quarantine
    // can never leave a committed-but-fileless table: until then the
    // table "does not exist" to every `_SUCCESS`-guarded reader (and
    // the layout stays uniform — every data file lives under a bucket
    // directory; a root-level bootstrap file would make partition
    // discovery ambiguous).
    val astaging = path + ".__astaging"
    numBuckets match {
      case Some(_) => bucketed.write.mode(SaveMode.Overwrite)
        .partitionBy(BucketCol).parquet(astaging)
      case None => bucketed.write.mode(SaveMode.Overwrite).parquet(astaging)
    }
    val marker = Paths.get(path + ".__apending-" + batchTag)
    swapFault()
    Files.createFile(marker)
    var moved = 0
    // bucketed: staged leaf partition dirs map onto live bucket dirs;
    // unbucketed: the staged root maps onto the table root
    val stagedDirs =
      if (numBuckets.isDefined) leafPartitionDirs(Paths.get(astaging))
      else Seq(Paths.get(""))
    stagedDirs.foreach { rel =>
      val liveLeaf = Paths.get(path).resolve(rel)
      Files.createDirectories(liveLeaf)
      listed(liveLeaf)
        .filter(_.getFileName.toString.startsWith(s"delta-$batchTag-"))
        .foreach { f => swapFault(); Files.delete(f) }
      dataFiles(Paths.get(astaging).resolve(rel)).zipWithIndex.foreach { case (f, i) =>
        swapFault()
        Files.move(f, liveLeaf.resolve(s"delta-$batchTag-$i.parquet"))
        moved += 1
      }
    }
    swapFault()
    deleteTree(astaging)
    swapFault()
    Files.delete(marker)
    if (moved > 0 && !exists(path)) {
      swapFault()
      Files.createFile(Paths.get(path, "_SUCCESS"))
    }
    true
  }

  private def dedup(unioned: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("__upd").desc, col("__seq").desc)
    unioned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__upd", "__seq")
  }

  /** K5: truncate = overwrite the table with an empty slice of itself.
    * mergeSchema on the read for the same reason as [[compact]]: the
    * empty replacement must keep the UNION schema, not one sampled
    * file's. REFUSED on a bucket-pinned table: the empty image is
    * necessarily unpartitioned (an empty partitioned write leaves no
    * readable file), so `__bucket` would survive only as a DATA column
    * — NULL for every later row the mixed layout serves — and the next
    * bucket-pruned merge's scope join would silently drop keys. Empty a
    * bucketed table by deleting the directory and its `.__buckets` pin,
    * then recreate. */
  def truncate(spark: SparkSession, path: String): Unit =
      TableLease.withMaintenance(Seq(path), maintHolder("truncate")) {
    // a truncate resets the table's content history: folded-tag records
    // must not survive it, or a post-truncate ingest reusing a tag
    // (e.g. a fresh checkpoint restarting at batch 0) would have its
    // appends silently skipped as "already folded"
    Files.deleteIfExists(foldedMarker(path))
    recover(path)
    require(pinnedBuckets(path).isEmpty,
      s"truncate on the bucket-pinned table at $path would poison later " +
        "bucket-pruned merges; delete the table directory and its " +
        ".__buckets pin instead")
    val empty = spark.read.option("mergeSchema", "true").parquet(path).limit(0)
    swapIn(spark, path) { staging =>
      empty.write.mode(SaveMode.Overwrite).parquet(staging)
    }
  }

  /** Partition columns of the PHYSICAL layout at `path`, outermost
    * first, read off the `col=value` directory chain. Empty for an
    * unpartitioned table. */
  private def partitionColsOf(path: String): Seq[String] = {
    @annotation.tailrec
    def walk(dir: java.nio.file.Path, acc: List[String]): List[String] =
      listed(dir).find(p =>
          Files.isDirectory(p) && p.getFileName.toString.contains("=")) match {
        case Some(d) =>
          walk(d, acc :+ d.getFileName.toString.takeWhile(_ != '='))
        case None => acc
      }
    walk(Paths.get(path), Nil)
  }

  /** Bin-pack the table's data files to ~`targetBytes` each — the
    * maintenance pass every keyed upsert table needs at scale: each
    * merge emits `shuffle.partitions` files, and the accreted small
    * files tax every subsequent scan (per-file open cost, starved
    * splits, bloated listings). Values are untouched; the rewrite rides
    * the same crash-safe swap as [[upsert]].
    *
    * A partitioned or bucketed layout is PRESERVED: the rewrite
    * re-partitions on the physical partition columns and writes them
    * back as directories. Flattening them (the naive rewrite) is not a
    * cosmetic loss — a later touched-partition merge's leaf swap would
    * replace only the partition directories it touches and leave the
    * flattened root files in place, silently duplicating every key they
    * hold. Rows co-locate per partition value, so a partition compacts
    * to one file; a single partition larger than `targetBytes` stays
    * one file (per-partition bin-packing would be a per-directory pass
    * — at that size the partition scheme itself is due a rethink). */
  def compact(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L << 20,
      replayHorizon: Option[Long] = None): Unit =
      Obs.phase(spark, "compact")(
      TableLease.withMaintenance(Seq(path), maintHolder("compact")) {
    recover(path)
    require(exists(path), s"no committed table at $path")
    val bytes = dataFiles(Paths.get(path)).map(Files.size).sum
    // record folded append tags BEFORE the rewrite (see [[foldedTags]]):
    // a replayed append whose deltas this fold subsumes must become a
    // no-op, not a duplicate
    foldDeltas(path)
    // with a caller-proven horizon, the same maintenance pass bounds
    // the sidecar: tags of batches that committed their checkpoint are
    // dead guards ([[pruneFoldedTags]]). Ordering vs the swap is
    // crash-indifferent — a pruned tag's batch never replays either way
    replayHorizon.foreach(pruneFoldedTags(path, _))
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val partCols = partitionColsOf(path)
    // mergeSchema: a table whose partitions carry mixed schemas (written
    // before upsert's schema-growth full-rewrite existed, or by an
    // external writer) must not have columns silently dropped because
    // the plain read sampled an old file's footer — compaction rewrites
    // everything, so a lossy read here would destroy the column
    val full = spark.read.option("mergeSchema", "true").parquet(path)
    val df =
      if (partCols.isEmpty) full.repartition(parts)
      else full.repartition(parts, partCols.map(col): _*)
    swapIn(spark, path) { staging =>
      if (partCols.isEmpty)
        df.write.mode(SaveMode.Overwrite).parquet(staging)
      else
        df.write.mode(SaveMode.Overwrite)
          .partitionBy(partCols: _*).parquet(staging)
    }
  })

  private def rebucketIntent(path: String) =
    Paths.get(path + ".__rebucket-intent")

  /** In-image layout-epoch marker: written INTO the staged rebucket
    * image (underscore prefix — invisible to Spark reads), so after the
    * whole-directory swap its presence in the LIVE directory proves the
    * swap promoted the new layout. The one bit of truth that lets
    * [[completeRebucketIntent]] decide, after a crash anywhere between
    * the swap and the pin update, whether the pin must move. */
  private def bucketEpochFile(n: Int) = s"_GRAFT_BUCKETS_$n"

  private def writeRebucketIntent(path: String, n: Int): Unit = {
    swapFault()
    writeAtomically(rebucketIntent(path), n.toString)
  }

  /** Finish (or discard) a [[rebucket]] whose crash window split the
    * directory swap from the pin update. With the intent marker
    * present: the live image carrying the matching epoch file means the
    * swap PROMOTED the new layout — re-pin to the new count (without
    * this, a restarted writer passing the OLD count would satisfy the
    * stale pin and merge against buckets the data no longer lives in —
    * silent duplicates); no epoch file means the swap never promoted
    * and the existing pin is already right. Idempotent at every
    * interruption point: the pin write is atomic, the epoch file is
    * deleted before the intent, and a re-run of any suffix repeats
    * no-ops. Runs inside [[recover]], so every writer heals the window
    * before touching the table. */
  private def completeRebucketIntent(path: String): Unit = {
    val intent = rebucketIntent(path)
    if (!Files.exists(intent)) return
    val n =
      try new String(Files.readAllBytes(intent),
        java.nio.charset.StandardCharsets.UTF_8).trim.toIntOption
      catch { case _: Exception => None }
    n.filter(_ > 0).foreach { nb =>
      val epoch = Paths.get(path).resolve(bucketEpochFile(nb))
      if (Files.exists(epoch)) {
        swapFault()
        pinBuckets(path, nb)
        swapFault()
        // deleteIfExists: two writers healing the same crashed rebucket
        // race this delete — the loser's heal must complete
        // idempotently, not throw
        Files.deleteIfExists(epoch)
      }
    }
    swapFault()
    Files.deleteIfExists(intent)
  }

  /** Change the pinned bucket count of a keyed table in place — the
    * lifecycle op the pin's immutability otherwise leaves to
    * delete-and-reload: on a genuinely growing corpus the per-bucket
    * volume grows without bound ([[compact]] folds each bucket to ONE
    * file), so every touched-bucket merge and every compaction trends
    * O(corpus/numBuckets) — at 100 TB over 64 buckets, ~1.6 TB
    * unsplittable rewrite units. Doubling the bucket count restores the
    * merge/compaction grain without resetting the table's history.
    *
    * One FULL crash-atomic rewrite (read, re-hash on `keys`, staged
    * write, whole-directory swap) under the MAINTENANCE lease: it
    * refuses while a drain window is open, and every writer refuses
    * while it runs. Folded-tag records CARRY FORWARD and every live
    * delta file's tag is recorded as folded before the swap (the
    * rewrite merges them), so a crashed batch replaying after the
    * rebucket is a no-op — the same replay contract as across
    * [[compact]].
    *
    * The directory swap and the sibling pin cannot commit in one
    * rename; the window between them is closed by an INTENT marker plus
    * an in-image epoch file (see [[completeRebucketIntent]]), repaired
    * by [[recover]] on every later write — a crash at ANY point leaves
    * the pin matching the live layout, never rows stranded in buckets a
    * pruned merge won't scope.
    *
    * Also the one sanctioned path for ADOPTING bucketing on an existing
    * unpartitioned table (the rewrite [[upsertBucketed]]/
    * [[appendBucketed]] refuse to perform inline). `keys` must be the
    * table's merge keys: when a pin exists, the stored bucket is
    * re-derived from them and the staging job FAILS on the first
    * mismatch — before anything swaps — because wrong keys would
    * scatter every row into buckets no future merge scopes.
    *
    * No-op when the table is already pinned `newBuckets`. Refused on
    * tables partitioned by anything other than the bucket column (a
    * time-partitioned table's grain is its partition scheme, not a
    * hash). */
  def rebucket(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      newBuckets: Int,
      targetBytes: Long = 128L << 20,
      replayHorizon: Option[Long] = None): Unit =
      Obs.phase(spark, "rebucket")(
      TableLease.withMaintenance(Seq(path), maintHolder("rebucket")) {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    require(keys.nonEmpty && !keys.contains(BucketCol),
      s"rebucket needs the table's merge keys, got [${keys.mkString(", ")}]")
    recover(path)
    require(exists(path), s"no committed table at $path")
    // sidecar bound, same contract as [[compact]]'s horizon prune
    replayHorizon.foreach(pruneFoldedTags(path, _))
    val pinned = pinnedBuckets(path)
    if (!pinned.contains(newBuckets)) {
      val physParts = partitionColsOf(path)
      require(physParts.isEmpty || physParts == Seq(BucketCol),
        s"rebucket on $path refused: the table is partitioned by " +
          s"[${physParts.mkString(", ")}]; only bucket-pinned or " +
          "unpartitioned layouts re-bucket")
      val files = dataFiles(Paths.get(path))
      if (files.isEmpty) {
        // empty committed table: no rows to move — re-pin atomically
        pinBuckets(path, newBuckets)
      } else {
        val bytes = files.map(Files.size).sum
        val full = spark.read.option("mergeSchema", "true").parquet(path)
        val missing = keys.filterNot(full.columns.contains)
        require(missing.isEmpty,
          s"rebucket keys [${missing.mkString(", ")}] not in the table's " +
            s"columns [${full.columns.mkString(", ")}]")
        foldDeltas(path)
        val newB = bucketOf(keys, newBuckets)
        val rebucketed = pinned match {
          case Some(oldN) =>
            // wrong-keys guard: rows whose stored bucket disagrees with
            // the re-derived hash fail the STAGING job (nothing swapped)
            full.withColumn(BucketCol,
              when(col(BucketCol) === bucketOf(keys, oldN), newB).otherwise(raise_error(
                concat(
                  lit(s"rebucket($path): stored $BucketCol does not match " +
                    s"xxhash64(${keys.mkString(", ")}) % $oldN at key ("),
                  concat_ws(",", keys.map(c => col(c).cast("string")): _*),
                  lit(") — wrong merge keys passed?")))))
          case None => full.withColumn(BucketCol, newB)
        }
        // one file per bucket (the [[compact]] grain); a bucket larger
        // than targetBytes splits into deterministic key-hashed slices
        val filesPerBucket = math.max(1L,
          math.ceil(bytes.toDouble / newBuckets / targetBytes).toLong)
        val df =
          if (filesPerBucket == 1L)
            rebucketed.repartition(newBuckets, col(BucketCol))
          else rebucketed.repartition(
            (newBuckets * filesPerBucket).toInt, col(BucketCol),
            pmod(xxhash64(keys.map(col) :+ lit("__rebucket-slice"): _*),
              lit(filesPerBucket)))
        writeRebucketIntent(path, newBuckets)
        swapIn(spark, path) { staging =>
          df.write.mode(SaveMode.Overwrite)
            .partitionBy(BucketCol).parquet(staging)
          // epoch INSIDE the committed image, so promotion carries it
          swapFault()
          Files.createFile(Paths.get(staging, bucketEpochFile(newBuckets)))
        }
        completeRebucketIntent(path)
      }
    }
  })

  /** Maintenance POLICY over [[rebucket]] — the piece that makes the
    * bucket count a managed quantity instead of an operator judgment
    * call: when the pinned table's average bucket has outgrown
    * `targetBucketBytes`, double the bucket count (repeatedly, to the
    * smallest power-of-two multiple that brings the average back under
    * target, capped at `maxBuckets`) and perform the rewrite. On a
    * healthy table the check is one directory walk — no Spark job, no
    * lease, no rewrite. Returns `Some(oldN -> newN)` iff a rebucket
    * ran, so an orchestrator's run log shows exactly which cycles paid
    * one (the [[graft.streaming.AnnIngest.refitIfDrifted]] reporting
    * convention). Unpinned tables are never touched — adopting
    * bucketing is a capacity decision, not a policy's.
    *
    * Sizing rationale: [[compact]] folds each bucket to one file and a
    * touched-bucket merge rewrites whole buckets, so the average bucket
    * size IS the maintenance/merge grain; 256 MB keeps both inside a
    * comfortable task while not exploding file counts. */
  def rebucketIfOvergrown(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      targetBucketBytes: Long = 256L << 20,
      maxBuckets: Int = 1 << 20,
      replayHorizon: Option[Long] = None): Option[(Int, Int)] =
    pinnedBuckets(path) match {
      case Some(pinned) if exists(path) =>
        // the sizing walk is deliberately LOCK-FREE (a healthy-table
        // check must not take the maintenance lease), so a concurrent
        // writer may remove files or whole leaf directories mid-walk —
        // count a vanished file as 0 bytes, or the whole table as 0 when
        // the walk itself fails, rather than throw; the next cycle
        // re-measures. Both the per-file size and the traversal can race
        // (Files.walk surfaces a vanished directory as
        // UncheckedIOException from the iterator).
        val bytes =
          try dataFiles(Paths.get(path)).map(p =>
            try Files.size(p) catch { case _: java.io.IOException => 0L }).sum
          catch {
            case _: java.io.IOException | _: java.io.UncheckedIOException =>
              0L
          }
        var m = pinned
        // the cap bounds the RESULT, not the loop entry: doubling past
        // maxBuckets would exceed the documented ceiling whenever the
        // cap is not pinned x 2^k
        while (bytes / m > targetBucketBytes && m * 2 <= maxBuckets) m *= 2
        if (m == pinned) None
        else {
          rebucket(spark, path, keys, m, targetBucketBytes, replayHorizon)
          Some(pinned -> m)
        }
      case _ => None
    }

  /** Searched DELETE — the row-grain removal op a 100 TB training-data
    * pipeline cannot live without (takedowns, right-to-be-forgotten,
    * contaminated-source purges), where [[retainFrom]]'s partition
    * grain is too coarse and truncate-and-reload is a corpus rewrite.
    * Removes every row where `predicate` is TRUE (NULL keeps the row —
    * SQL DELETE semantics); returns the number of rows removed.
    *
    * A partitioned/bucketed table rewrites ONLY the leaves that hold
    * matching rows, through the same committed `.__pstaging` image +
    * per-leaf rename swap as [[upsert]] (never a deleted-but-unreplaced
    * window; co-located keys the predicate does not match are carried
    * into the replacement image). A leaf whose every row matches has no
    * staged replacement — its directory is dropped AFTER the swap, the
    * [[retainFrom]] idempotent-removal form. An unpartitioned table is
    * one staged whole-directory swap. Touched leaves' delta-file tags
    * are recorded as folded BEFORE anything swaps ([[compact]]'s
    * ordering): the rewrite folds those deltas, so a crashed batch's
    * replay stays a no-op instead of resurrecting rows next to the
    * deletion. Runs under the MAINTENANCE lease — a predicate deleting
    * rows a concurrent drain is mid-merge on would race exactly like a
    * compaction.
    *
    * Crash posture: each step is idempotent (committed staging is
    * finished by [[recover]]; emptied-leaf drops re-run); a crash
    * between the swap and the emptied-leaf drops leaves those leaves'
    * rows present — re-running the same deleteWhere completes the
    * removal, and no co-located row is ever lost or duplicated.
    * Deleting EVERY row of a partitioned table is refused (the empty
    * directory tree is unreadable): empty a table deliberately with
    * [[truncate]] (plain) or a directory+pin reset (bucketed). */
  def deleteWhere(
      spark: SparkSession,
      path: String,
      predicate: Column): Long =
      Obs.phase(spark, "delete")(
      TableLease.withMaintenance(Seq(path), maintHolder("deleteWhere")) {
    recover(path)
    require(exists(path), s"no committed table at $path")
    // partition columns declared STRING: the touched-leaf bookkeeping
    // below maps partition VALUES back to directory NAMES, and type
    // inference breaks the round-trip — 'dia=01' reads as int 1 and
    // would re-stage as a NEW 'dia=1' leaf next to the old one
    // (duplication), a timestamp value re-renders with a fractional
    // suffix its directory never had (missed emptied-leaf drop = failed
    // takedown). A declared partition type takes each value from its
    // directory name without inference (SPARK-26188), so value ->
    // escapePathName(value) IS the writer's own encoding; typed
    // predicates still work through Spark's implicit casts. The data
    // columns are the merged schema of every file (see [[compact]]).
    val partCols = partitionColsOf(path)
    val merged = spark.read.option("mergeSchema", "true").parquet(path).schema
    val full = spark.read.schema(StructType(
        merged.filterNot(f => partCols.contains(f.name)) ++
          partCols.map(StructField(_, StringType))))
      .parquet(path)
    // SQL DELETE semantics: remove where TRUE, keep FALSE and NULL
    val hit = coalesce(predicate, lit(false))
    if (partCols.isEmpty) {
      val nDel = full.filter(hit).count()
      if (nDel > 0) {
        foldDeltas(path)
        val remaining = full.filter(!hit)
        swapIn(spark, path) { staging =>
          remaining.write.mode(SaveMode.Overwrite).parquet(staging)
        }
      }
      nDel
    } else {
      // ONE grouped aggregation answers both driver-side questions —
      // which leaves hold matching rows AND how many rows match — so
      // the table is scanned once for the bookkeeping, not once per
      // question. The collect is partition-count bounded (one row per
      // touched leaf, same bound as [[rebucket]]'s probe arithmetic —
      // never row-sized); groupBy keeps NULL partition values as their
      // own group, matching the null-safe scope join below.
      val perLeaf = full.filter(hit)
        .groupBy(partCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).collect()
      if (perLeaf.isEmpty) 0L
      else {
        val partSchema = full.select(partCols.map(col): _*).schema
        val touchedRows: Array[org.apache.spark.sql.Row] =
          perLeaf.map(r =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1)))
        val nDel = perLeaf.map(r => r.getLong(r.length - 1)).sum
        val touchedB = broadcast(
          spark.createDataFrame(
            java.util.Arrays.asList(touchedRows: _*), partSchema))
        val scopeCond = partCols.map(c => full(c) <=> touchedB(c))
          .reduce(_ && _)
        val scoped = full.join(touchedB, scopeCond, "left_semi")
        val remaining = scoped.filter(!hit)
        // refuse the unreadable end state up front: every live leaf
        // touched AND nothing survives anywhere
        val liveLeaves = leafPartitionDirs(Paths.get(path)).size
        require(touchedRows.length < liveLeaves ||
            remaining.limit(1).count() > 0,
          s"deleteWhere would remove every row of every partition of " +
            s"$path, leaving an unreadable table; use truncate() (plain) " +
            "or delete the directory and its pin (bucketed) instead")
        // fold touched leaves' delta tags BEFORE the swap (see above)
        val relTouched = touchedRows.map(r =>
          partCols.zipWithIndex.map { case (c, i) =>
            val v = r.get(i)
            // same directory-name encoding Spark's writer uses: nulls
            // land in the default partition, special characters escape
            s"$c=${if (v == null) "__HIVE_DEFAULT_PARTITION__"
              else org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.escapePathName(v.toString)}"
          }.mkString("/"))
        foldDeltas(path, relTouched.toSeq)
        // staged image of the touched leaves' SURVIVING rows, swapped
        // in per leaf; leaves with no survivors stage nothing
        remaining.write.mode(SaveMode.Overwrite)
          .partitionBy(partCols: _*).parquet(path + ".__pstaging")
        val staged = leafPartitionDirs(Paths.get(path + ".__pstaging"))
          .map(_.toString).toSet
        swapFault()
        completePartitionSwap(path)
        // emptied leaves: dropped last, idempotent re-run on a crash
        relTouched.filterNot(staged.contains).foreach { rel =>
          swapFault()
          deleteTree(Paths.get(path).resolve(rel).toString)
        }
        nDel
      }
    }
  })

  /** Retention (TTL) for a partitioned table: drop whole partition
    * directories of `partitionCol` whose value sorts strictly below
    * `cutoff` — at 100 TB a fact table is only sustainable with a
    * rolling horizon, and partition-grain deletion is the only form
    * that never rewrites surviving data. ISO dates compare correctly as
    * strings, matching the directory encoding (`dia=2025-01-02`) — and
    * because the comparison is lexicographic, the cutoff is VALIDATED
    * against the ISO `yyyy-MM-dd` pattern up front: an unpadded value
    * like `2025-1-2` would silently keep/drop the wrong partitions.
    * Partition values that don't themselves match the pattern are left
    * untouched (never deleted on a malformed compare). Dropping every
    * partition is refused — an empty directory tree is a table
    * `spark.read.parquet` can no longer read; use [[truncate]] to empty
    * a table deliberately. Directory removal is idempotent, so a crashed
    * retention pass is simply re-run; no swap needed — untouched
    * partitions are never written. Returns the number of partitions
    * dropped. */
  def retainFrom(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      cutoff: String): Int =
      TableLease.withMaintenance(Seq(path), maintHolder("retainFrom")) {
    val iso = "\\d{4}-\\d{2}-\\d{2}".r
    require(iso.matches(cutoff),
      s"retainFrom cutoff must be an ISO yyyy-MM-dd date, got '$cutoff'")
    recover(path)
    require(exists(path), s"no committed table at $path")
    val partDirs = listed(Paths.get(path)).filter(d => Files.isDirectory(d) &&
      d.getFileName.toString.startsWith(s"$partitionCol="))
    val dropped = partDirs.filter { dir =>
      val value = dir.getFileName.toString.stripPrefix(s"$partitionCol=")
      iso.matches(value) && value < cutoff
    }
    require(dropped.size < partDirs.size || dropped.isEmpty,
      s"retainFrom($cutoff) would drop all ${partDirs.size} partitions of " +
        s"$path, leaving an unreadable table; use truncate() to empty it")
    dropped.foreach(d => deleteTree(d.toString))
    dropped.size
  }
}
