package graft

import graft.sinks.UpsertWriter
import graft.streaming.{AnnIngest, EmbedIngest, NearDupIngest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** Pre-upgrade tables (written before `first_admitted_batch` existed)
  * vs the workers' APPEND write shape. The append path writes the
  * column, and [[UpsertWriter]] refuses schema growth on appends — so
  * without the physical-schema gate, the first all-new-keys batch over
  * a pre-upgrade warehouse throws DETERMINISTICALLY on every replay
  * and the stream wedges permanently (only a merge performs the
  * schema-growing rewrite, and a pure-insert batch never took one).
  * These specs drive exactly that batch on the bucketed and plain
  * layouts and pin: (1) it completes, adopting the column table-wide;
  * (2) the backfill repairs the adopted rows' physical NULLs, so the
  * old corpus keeps vetoing near-dups of its own rows; (3) later
  * pure-insert batches ride the append path again (delta files). */
class PreUpgradeAppendSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.delete)
    }

  /** Rewrite the table at `dir` WITHOUT `first_admitted_batch`,
    * preserving its physical layout (bucket directories + pin survive)
    * — the exact on-disk state the pre-upgrade code left behind. */
  private def stripFab(dir: String): Unit = {
    val bucketed = UpsertWriter.pinnedBuckets(dir).isDefined
    val df = spark.read.parquet(dir).drop("first_admitted_batch")
    val out = dir + ".__preupgrade"
    if (bucketed)
      df.write.partitionBy(UpsertWriter.BucketCol).parquet(out)
    else df.write.parquet(out)
    deleteTree(Paths.get(dir))
    Files.move(Paths.get(out), Paths.get(dir))
    assert(!spark.read.parquet(dir).columns.contains("first_admitted_batch"),
      "premise: the pre-upgrade table must physically lack the column")
  }

  private def deltaTags(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("delta-") && n.endsWith(".parquet"))
      .map(_.stripPrefix("delta-").replaceAll("-\\d+\\.parquet$", ""))
      .toSet
    finally walk.close()
  }

  test("neardup bucketed: first all-new batch over a pre-upgrade table merges once (adopting the column), then appends again") {
    val base = tempDir("graft-preupgrade-nd")
    val wh = base.resolve("wh").toString
    val b = Some(4)
    def doc(i: Long) = (i, s"unique document number $i with entirely distinct words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")
    // batch 0 with the CURRENT code, then strip the column physically
    NearDupIngest.processBatch(
      (0L to 3L).map(doc).toDF("doc_id", "text"), 0L, wh, stateBuckets = b)
    val survDir = s"$wh/neardup_survivors"
    stripFab(survDir)
    spark.catalog.clearCache()

    // the wedge batch: all-new keys -> pure insert -> pre-fix this threw
    // "cannot grow the schema" from appendBucketed, on every replay
    NearDupIngest.processBatch(
      (10L to 13L).map(doc).toDF("doc_id", "text"), 1L, wh, stateBuckets = b)
    assert(spark.read.parquet(survDir).columns
      .contains("first_admitted_batch"),
      "the fallback merge must adopt the column table-wide")
    // adopted old rows: physically NULL, backfilled to batch_id at read
    val fabs = NearDupIngest.survivors(spark, wh)
      .select($"doc_id", $"first_admitted_batch")
      .as[(Long, Long)].collect().toMap
    assert((0L to 3L).forall(fabs(_) == 0L),
      s"pre-upgrade rows must backfill first_admitted_batch=batch_id: $fabs")
    assert((10L to 13L).forall(fabs(_) == 1L))

    // the repaired backfill keeps the OLD corpus vetoing its near-dups:
    // doc 2's exact text re-arrives under a new id and must NOT admit
    NearDupIngest.processBatch(
      Seq((20L, doc(2L)._2), doc(30L)).toDF("doc_id", "text"),
      2L, wh, stateBuckets = b)
    val ids = NearDupIngest.survivors(spark, wh)
      .select($"doc_id").as[Long].collect().toSet
    assert(!ids.contains(20L),
      "a near-dup of a pre-upgrade row was admitted: the adopted rows' " +
        "NULL first_admitted_batch dropped them from the prior corpus")
    assert(ids.contains(30L))

    // post-adoption pure-insert batches ride the append path again
    NearDupIngest.processBatch(
      (40L to 42L).map(doc).toDF("doc_id", "text"), 3L, wh, stateBuckets = b)
    assert(deltaTags(survDir).contains("b3"),
      s"post-adoption batch must append delta files, saw ${deltaTags(survDir)}")
  }

  test("embed plain layout: the same wedge batch merges once, backfill repairs NULLs, appends resume") {
    val base = tempDir("graft-preupgrade-em")
    val wh = base.resolve("wh").toString
    def vec(i: Int, j: Int = -1, eps: Float = 0f): Seq[Float] =
      Seq.tabulate(64)(d => if (d == i) 1f else if (d == j) eps else 0f)
    EmbedIngest.processBatch(
      Seq((1L, vec(0)), (2L, vec(1))).toDF("vec_id", "embedding"), 0L, wh)
    val survDir = s"$wh/embed_survivors"
    stripFab(survDir)
    spark.catalog.clearCache()

    // all-new keys, plain layout: pre-fix this threw from append()
    EmbedIngest.processBatch(
      Seq((10L, vec(2)), (11L, vec(3))).toDF("vec_id", "embedding"), 1L, wh)
    val fabs = EmbedIngest.survivors(spark, wh)
      .select($"vec_id", $"first_admitted_batch")
      .as[(Long, Long)].collect().toMap
    assert(fabs == Map(1L -> 0L, 2L -> 0L, 10L -> 1L, 11L -> 1L), s"$fabs")

    // old corpus still vetoes: a near-dup of pre-upgrade vec 1 drops
    EmbedIngest.processBatch(
      Seq((20L, vec(0, 1, 0.1f)), (21L, vec(4)))
        .toDF("vec_id", "embedding"), 2L, wh)
    val ids = EmbedIngest.survivors(spark, wh)
      .select($"vec_id").as[Long].collect().toSet
    assert(!ids.contains(20L) && ids.contains(21L), s"$ids")

    // pure-insert appends resume on the adopted table
    EmbedIngest.processBatch(
      Seq((30L, vec(5))).toDF("vec_id", "embedding"), 3L, wh)
    assert(deltaTags(survDir).contains("b3"),
      s"post-adoption batch must append, saw ${deltaTags(survDir)}")
  }

  test("neardup plain layout: the wedge batch merges once, then all-new batches append") {
    val base = tempDir("graft-preupgrade-ndp")
    val wh = base.resolve("wh").toString
    def doc(i: Long) = (i, s"unique document number $i with entirely distinct words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")
    NearDupIngest.processBatch(
      (0L to 3L).map(doc).toDF("doc_id", "text"), 0L, wh)
    val survDir = s"$wh/neardup_survivors"
    stripFab(survDir)
    spark.catalog.clearCache()

    // all-new keys over the pre-upgrade table: the schema gate routes
    // this batch through the merge, which folds no delta in
    NearDupIngest.processBatch(
      (10L to 13L).map(doc).toDF("doc_id", "text"), 1L, wh)
    assert(UpsertWriter.taggedDeltas(survDir).isEmpty,
      s"the adoption batch must merge, saw ${UpsertWriter.taggedDeltas(survDir)}")
    val fabs = NearDupIngest.survivors(spark, wh)
      .select($"doc_id", $"first_admitted_batch")
      .as[(Long, Long)].collect().toMap
    assert(fabs == ((0L to 3L).map(_ -> 0L) ++ (10L to 13L).map(_ -> 1L)).toMap,
      s"$fabs")

    // old corpus still vetoes: doc 2's text under a new id drops
    NearDupIngest.processBatch(
      Seq((20L, doc(2L)._2), doc(30L)).toDF("doc_id", "text"), 2L, wh)
    val ids = NearDupIngest.survivors(spark, wh)
      .select($"doc_id").as[Long].collect().toSet
    assert(!ids.contains(20L) && ids.contains(30L), s"$ids")

    // the next all-new batch appends on the plain layout
    NearDupIngest.processBatch(
      (40L to 42L).map(doc).toDF("doc_id", "text"), 3L, wh)
    assert(UpsertWriter.taggedDeltas(survDir).nonEmpty,
      "a pure-insert batch on the adopted plain table must append delta files")
    assert(NearDupIngest.survivors(spark, wh).count() == 12L)
  }

  test("ann bucketed: pre-upgrade postings index adopts the column through one merge, then appends") {
    val base = tempDir("graft-preupgrade-ann")
    val wh = base.resolve("wh").toString
    val b = Some(4)
    def vec(i: Int): Seq[Float] = Seq.tabulate(64)(d => if (d == i % 64) 1f else 0f)
    AnnIngest.processBatch(
      Seq((1L, vec(0), 0), (2L, vec(1), 1)).toDF("vec_id", "embedding", "label"),
      0L, wh, stateBuckets = b)
    val idxDir = s"$wh/ann_index"
    stripFab(idxDir)
    spark.catalog.clearCache()

    AnnIngest.processBatch(
      Seq((10L, vec(2), 0), (11L, vec(3), 1)).toDF("vec_id", "embedding", "label"),
      1L, wh, stateBuckets = b)
    assert(spark.read.parquet(idxDir).columns
      .contains("first_admitted_batch"))
    val fabs = AnnIngest.index(spark, wh)
      .select($"vec_id", $"first_admitted_batch")
      .as[(Long, Long)].collect().toMap
    assert(fabs == Map(1L -> 0L, 2L -> 0L, 10L -> 1L, 11L -> 1L), s"$fabs")

    AnnIngest.processBatch(
      Seq((20L, vec(4), 0)).toDF("vec_id", "embedding", "label"),
      2L, wh, stateBuckets = b)
    assert(deltaTags(idxDir).contains("b2"),
      s"post-adoption batch must append, saw ${deltaTags(idxDir)}")
  }
}
