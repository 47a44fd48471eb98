package graft.tools

import graft.{Fixtures, Tables}
import graft.obs.Obs
import graft.operators.RelationalOps
import graft.sinks.UpsertWriter
import graft.sinks.UpsertWriter.BucketCol
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The table sink at corpus scale (the `ScaleUp` ×10 and ×100 images).
  * `write-scaling` lands `nBatches` insert-only lineitem batches through
  * `upsert` (plain), `upsertBucketed` (merge) and `appendBucketed`
  * (append). `compaction`, `rebucket` and `takedown` run their op over
  * the `k1b_upsert_bucketed` table plus one append batch, then replay
  * that batch and one pruned keep-latest merge. `interleave` compacts the
  * append sequence mid-way under a replay horizon derived from a
  * worker-style checkpoint. Times are [[UpsertWriter]]'s own [[Obs]]
  * phases. Prints one line per step and one `[sink-phase]` line per phase
  * path; exits non-zero on any violated check.
  * Usage: `runMain graft.tools.SinkDriver [sfDir] [nBatches=24]`. */
object SinkDriver {
  private val Buckets = 64
  private val FreshTag = "sink-append"

  /** `checks` hold at any scale, `atScale` once a batch outweighs a write's fixed cost. */
  final case class Report(checks: Seq[(String, Boolean)],
      atScale: Seq[(String, Boolean)], figures: Seq[(String, Any)]) {
    def ok: Boolean = (checks ++ atScale).forall(_._2)
  }

  final class Run(val spark: SparkSession, val metrics: Obs.Metrics,
      val sfDir: String, val nBatches: Int) {
    /** Runs `body` as phase `name`; returns the wall ms Obs booked to this run of it. */
    def timed(name: String)(body: => Any): Long = {
      def wall = metrics.totals.get(Option(Obs.scope(spark)).fold(name)(p => s"$p/$name"))
        .fold(0L)(_.wallNs)
      val before = wall
      Obs.phase(spark, name)(body)
      (wall - before) / 1000000L
    }
  }

  val steps: Seq[(String, Run => Report)] = Seq("write-scaling" -> writeScaling,
    "compaction" -> compaction, "rebucket" -> rebucket,
    "takedown" -> takedown, "interleave" -> interleave)

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(LocalTool.cpus)
    val r = new Run(spark, Obs.install(spark), args.headOption.getOrElse(LocalTool.sfDir),
      args.lift(1).map(_.toInt).getOrElse(24))
    val reports = steps.map { case (name, step) => name -> Obs.phase(spark, name)(step(r)) }
    spark.stop() // drains the listener bus: the job counts are complete
    for ((name, rep) <- reports) {
      println(s"[sink] $name ok=${rep.ok} " +
        (rep.figures ++ rep.checks ++ rep.atScale).map {
          case (k, xs: Seq[_]) => s"$k=${xs.mkString(",")}"
          case (k, d: Double) => "%s=%.2f".formatLocal(java.util.Locale.ROOT, k, d)
          case (k, v) => s"$k=$v"
        }.mkString(" "))
      for (p <- r.metrics.totals.keys.filter(_.startsWith(name)).toSeq.sorted)
        println(s"[sink-phase] $p ${r.metrics.under(p).show}")
    }
    if (!reports.forall(_._2.ok)) sys.exit(1)
  }

  /** Row count and order-free content checksum over every column. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def listed(dir: Path): List[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Data files per bucket dir. */
  private def bucketFiles(wh: String): Map[String, List[Path]] =
    listed(Paths.get(wh)).map(_.getFileName.toString).filter(_.startsWith(s"$BucketCol="))
      .map(b => b -> listed(Paths.get(wh, b)).filter(_.toString.endsWith(".parquet"))).toMap

  /** (size, fileKey) per file of a bucket dir. A rewrite allocates new
    * inodes, so the fileKey changes even when name, size and bytes repeat. */
  private def identity(wh: String, bucket: String): Map[String, (Long, String)] =
    if (!Files.isDirectory(Paths.get(wh, bucket))) Map.empty
    else listed(Paths.get(wh, bucket)).map { f =>
      val a = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
      f.getFileName.toString -> ((a.size(), String.valueOf(a.fileKey())))
    }.toMap

  /** The `k1b_upsert_bucketed` table at a fresh `wh` plus one append of
    * fresh keys outside the orders key space; returns `wh` and the batch. */
  private def ordersTable(r: Run, prefix: String): (String, DataFrame) = {
    val wh = Fixtures.tempDirDeletedAtExit(prefix).resolve("t").toString
    val src = RelationalOps.k1bState(r.spark, r.sfDir, wh, Buckets)
    val fresh = src.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_custkey", col("o_custkey") + 10000000L).dropDuplicates("o_custkey")
    UpsertWriter.appendBucketed(r.spark, wh, fresh, Seq("o_custkey"), FreshTag, Buckets)
    (wh, fresh)
  }

  /** The post-op checks of an orders table: the fresh batch's replay is
    * skipped with the row count kept, and a pruned keep-latest merge of
    * the smallest key applies without rewriting another bucket. */
  private def afterOp(r: Run, wh: String, fresh: DataFrame, op: String) = {
    val n = UpsertWriter.effectiveBuckets(wh, Buckets)
    val table = r.spark.read.parquet(wh)
    val rows = table.count()
    val replaySkipped = !UpsertWriter.appendBucketed(r.spark, wh, fresh,
      Seq("o_custkey"), FreshTag, n) && r.spark.read.parquet(wh).count() == rows
    val current = table.orderBy("o_custkey").head()
    val other = bucketFiles(wh).keys.filter(_ != s"$BucketCol=${current.getAs[Int](BucketCol)}").min
    val before = identity(wh, other)
    UpsertWriter.upsertBucketed(r.spark, wh, r.spark.createDataFrame(
      java.util.List.of(current), table.schema).drop(BucketCol)
      .withColumn("o_orderkey", lit(-1L)).withColumn("__ver", lit(Long.MaxValue)),
      Seq("o_custkey"), "__ver", n)
    val after = r.spark.read.parquet(wh)
    Seq("folded_tag_replay_skipped" -> replaySkipped, s"post_${op}_merge_prunes" ->
      (identity(wh, other) == before && after.count() == rows &&
        after.filter(col("o_custkey") === current.getAs[Long]("o_custkey")).head().getAs[Long]("o_orderkey") == -1L))
  }

  /** Unique lineitem keys with a payload, tagged into `nBatches` equal
    * batches; persisted, the caller unpersists. */
  private def lineitemRows(r: Run): DataFrame = Tables.lineitem(r.spark, r.sfDir)
    .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id"), concat_ws("|",
      col("l_extendedprice"), col("l_discount"), col("l_tax"), col("l_quantity")).as("v"))
    .dropDuplicates("id")
    .withColumn("__b", pmod(col("id"), lit(r.nBatches.toLong)).cast("int")).persist()

  private def batch(rows: DataFrame, i: Int): DataFrame =
    rows.filter(col("__b") === i).drop("__b").withColumn("ver", lit(i.toLong))

  private def writeScaling(r: Run): Report = {
    val rows = lineitemRows(r)
    val total = rows.count() // fills the cache before the first timed batch
    val runs = Seq("plain", "merge", "append").map { mode =>
      val wh = Fixtures.tempDirDeletedAtExit(s"graft-sink-$mode").resolve("t").toString
      val ms = (0 until r.nBatches).map(i => r.timed(mode)(mode match {
        case "plain" => UpsertWriter.upsert(r.spark, wh, batch(rows, i), Seq("id"), "ver")
        case "merge" =>
          UpsertWriter.upsertBucketed(r.spark, wh, batch(rows, i), Seq("id"), "ver", Buckets)
        case _ => UpsertWriter.appendBucketed(r.spark, wh, batch(rows, i), Seq("id"), s"b$i", Buckets)
      }))
      (mode, checksum(r.spark.read.parquet(wh).select("id", "v")), ms)
    }
    rows.unpersist()
    Report(Seq("key_sets_identical" -> (runs.map(_._2).distinct.map(_._1) == Seq(total))), Nil,
      Seq("rows" -> total, "n_batches" -> r.nBatches) ++ runs.flatMap { case (mode, _, ms) =>
        Seq(s"${mode}_per_batch_ms" -> ms,
          s"${mode}_last3_over_first3" -> ms.takeRight(3).sum.toDouble / math.max(1L, ms.take(3).sum))
      })
  }

  private def compaction(r: Run): Report = {
    val (wh, fresh) = ordersTable(r, "graft-sink-compact")
    def files() = bucketFiles(wh).map { case (b, fs) => b -> fs.size }
    val (filesBefore, before) = (files(), checksum(r.spark.read.parquet(wh)))
    UpsertWriter.compact(r.spark, wh)
    val (filesAfter, after) = (files(), checksum(r.spark.read.parquet(wh)))
    Report(Seq("content_checksum_stable" -> (before == after),
      "layout_preserved" -> (filesAfter.keySet == filesBefore.keySet &&
        UpsertWriter.pinnedBuckets(wh).contains(Buckets)),
      "one_file_per_bucket" -> (filesAfter.values.forall(_ == 1) &&
        filesBefore.values.sum > filesAfter.values.sum)) ++ afterOp(r, wh, fresh, "compaction"),
      Nil, Seq("rows" -> before._1, "buckets" -> filesAfter.size, "files_before" ->
        filesBefore.values.sum, "files_after" -> filesAfter.values.sum))
  }

  private def rebucket(r: Run): Report = {
    val (wh, fresh) = ordersTable(r, "graft-sink-rebucket")
    // the bucket column is layout, rewritten by design
    def logical() = checksum(r.spark.read.parquet(wh).drop(BucketCol))
    def grain() = bucketFiles(wh).values.map(_.map(Files.size).sum)
    val (before, grainBefore) = (logical(), grain())
    UpsertWriter.rebucket(r.spark, wh, Seq("o_custkey"), 2 * Buckets)
    val (after, grainAfter) = (logical(), grain())
    val misplaced = r.spark.read.parquet(wh)
      .filter(col(BucketCol) =!= UpsertWriter.bucketOf(Seq("o_custkey"), 2 * Buckets)).count()
    Report(Seq("content_checksum_stable" -> (before == after),
      "pin_moved" -> UpsertWriter.pinnedBuckets(wh).contains(2 * Buckets),
      "no_misplaced_rows" -> (misplaced == 0)) ++ afterOp(r, wh, fresh, "rebucket"),
      Seq("grain_halved" -> (grainAfter.size > grainBefore.size && grainAfter.max < grainBefore.max)),
      Seq("rows" -> before._1, "buckets_before" -> grainBefore.size, "buckets_after" ->
        grainAfter.size, "max_bucket_bytes_before" -> grainBefore.max,
        "max_bucket_bytes_after" -> grainAfter.max))
  }

  private def takedown(r: Run): Report = {
    val (wh, fresh) = ordersTable(r, "graft-sink-takedown")
    def logical(p: Column) = checksum(r.spark.read.parquet(wh).drop(BucketCol).filter(p))
    // victims: the keys ≡ 3 (mod 10) of one bucket holding a delta of
    // the fresh batch, so the takedown rewrites exactly that leaf and
    // folds the batch
    val withDelta = bucketFiles(wh).collect { case (b, fs)
      if fs.exists(_.getFileName.toString.startsWith(s"delta-$FreshTag")) => b.split('=')(1).toInt }
    val candidate = col("o_custkey") % 10 === 3
    val victimBucket = r.spark.read.parquet(wh).filter(candidate && col(BucketCol).isin(withDelta.toSeq: _*))
      .orderBy("o_custkey").head().getAs[Int](BucketCol)
    val isVictim = candidate && UpsertWriter.bucketOf(Seq("o_custkey"), Buckets) === victimBucket
    val (victims, remain) = (logical(isVictim)._1, logical(!isVictim))
    val others = (0 until Buckets).filter(_ != victimBucket).map(b => s"$BucketCol=$b")
    val idsBefore = others.map(identity(wh, _))
    val removed = UpsertWriter.deleteWhere(r.spark, wh, isVictim)
    val rewritten = others.zip(idsBefore).count { case (b, ids) => identity(wh, b) != ids }
    Report(Seq("exact_victims" -> (victims > 0 && removed == victims && logical(lit(true)) == remain),
      "untouched_buckets_not_rewritten" -> (rewritten == 0)) ++ afterOp(r, wh, fresh, "takedown"),
      Nil, Seq("rows" -> (remain._1 + victims), "victim_bucket" -> victimBucket, "victims" ->
        removed, "untouched_buckets_rewritten" -> rewritten))
  }

  private def interleave(r: Run): Report = {
    val rows = lineitemRows(r)
    val source = checksum(rows.select("id", "v"))
    val dir = Fixtures.tempDirDeletedAtExit("graft-sink-interleave")
    val wh = dir.resolve("t").toString
    // a worker-style checkpoint: one commits/<id> file per committed batch
    val commits = Files.createDirectories(dir.resolve("ckpt").resolve("commits"))
    def commit(ids: Range) =
      ids.foreach(i => Files.write(commits.resolve(i.toString), Array.emptyByteArray))
    def horizon() = UpsertWriter.replayHorizon(commits.getParent.toString)
    def append(i: Int) = UpsertWriter.appendBucketed(r.spark, wh, batch(rows, i), Seq("id"), s"b$i", Buckets)
    // batches up to foldAt land, all but foldAt commit: foldAt can replay,
    // so the compact's checkpoint-derived horizon (= foldAt) keeps its guard
    val foldAt = r.nBatches / 2
    val preFold = (0 to foldAt).map(i => r.timed("batch")(append(i)))
    commit(0 until foldAt)
    val midHorizon = horizon()
    UpsertWriter.compact(r.spark, wh, replayHorizon = midHorizon)
    val sidecar = UpsertWriter.foldedTags(wh)
    val n = r.spark.read.parquet(wh).count()
    val replaySkipped = !append(foldAt) && r.spark.read.parquet(wh).count() == n
    val postFold = (foldAt + 1 until r.nBatches).map(i => r.timed("batch")(append(i)))
    commit(foldAt until r.nBatches)
    // all committed: the metadata-only prune of a scheduled cycle empties the sidecar
    val finalHorizon = horizon()
    finalHorizon.foreach(UpsertWriter.pruneReplayMetadata(wh, _))
    val result = checksum(r.spark.read.parquet(wh).select("id", "v"))
    rows.unpersist()
    def avg(ms: Seq[Long]) = ms.sum.toDouble / math.max(1, ms.size)
    // batch 0 bootstraps the table: it is left out of the pre-fold mean
    val postOverPre = avg(postFold) / math.max(1.0, avg(preFold.slice(1, foldAt)))
    Report(Seq("folded_tag_replay_skipped" -> replaySkipped,
      "horizon_from_checkpoint_commits" -> (midHorizon.contains(foldAt.toLong) &&
        finalHorizon.contains(r.nBatches.toLong)),
      "replayable_guard_kept_by_mid_prune" -> sidecar.contains(s"b$foldAt"),
      "sidecar_empty_after_final_prune" -> (sidecar.nonEmpty && UpsertWriter.foldedTags(wh).isEmpty),
      "final_checksum_matches_source" -> (result == source)),
      Seq("post_fold_appends_flat" -> (postOverPre < 2.0)),
      Seq("rows" -> source._1, "fold_after_batch" -> foldAt, "per_batch_ms" ->
        (preFold ++ postFold), "post_fold_over_pre_fold_avg" -> postOverPre))
  }
}
