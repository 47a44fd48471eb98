package graft

import graft.sinks.UpsertWriter
import graft.streaming.{AnnIngest, DedupIngest, EmbedIngest, NearDupIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The 100 TB write form across the WHOLE worker family: every worker
  * takes `stateBuckets`, and `Some(b)` must be pure LAYOUT — the final
  * warehouse state (survivors, index, log) is value-identical to the
  * plain whole-table-merge run, the bucket pin exists, and maintenance
  * passes follow the pinned layout instead of flattening it. The
  * multi-signal worker's twin lives in ReplayDeterminismSpec (with the
  * crash window); this suite covers the other four.
  */
class BucketedWorkersSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(i: Int, n: Int = 16): Seq[Float] =
    Seq.tabulate(n)(d => if (d == i % n) 1f else 0.01f * ((i + d) % 7))

  private def docsDF(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, if (i % 5 == 0) "the shared near dup text body repeated"
      else s"unique text ${i} " + (1 to 8).map(k => s"w${i}x$k").mkString(" ")))
      .toDF("doc_id", "text")

  private def collectSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("NearDupIngest: bucketed state tables equal the plain run's, pin present") {
    val ids = (0L until 40L)
    def drive(buckets: Option[Int]): String = {
      val wh = tempDir("graft-bw-nd").resolve("wh").toString
      NearDupIngest.processBatch(
        docsDF(ids.filter(_ % 2 == 0)), 0L, wh, stateBuckets = buckets)
      NearDupIngest.processBatch(
        docsDF(ids.filter(_ % 2 == 1)), 1L, wh, stateBuckets = buckets)
      wh
    }
    val (plain, bucketed) = (drive(None), drive(Some(4)))
    assert(Files.exists(Paths.get(s"$bucketed/neardup_survivors.__buckets")),
      "premise: the bucketed run pinned its layout")
    for (view <- Seq(
        NearDupIngest.survivors(spark, _: String),
        NearDupIngest.index(spark, _: String),
        NearDupIngest.ingestLog(spark, _: String)))
      assert(collectSet(view(bucketed)) == collectSet(view(plain)),
        "bucketed and plain layouts diverged in value")
  }

  test("EmbedIngest: bucketed survivors equal the plain run's") {
    val mk = (p: Int) => (0 until 30).filter(_ % 2 == p)
      .map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    def drive(buckets: Option[Int]): String = {
      val wh = tempDir("graft-bw-em").resolve("wh").toString
      EmbedIngest.processBatch(mk(0), 0L, wh, stateBuckets = buckets)
      EmbedIngest.processBatch(mk(1), 1L, wh, stateBuckets = buckets)
      wh
    }
    val (plain, bucketed) = (drive(None), drive(Some(4)))
    assert(collectSet(EmbedIngest.survivors(spark, bucketed)) ==
      collectSet(EmbedIngest.survivors(spark, plain)))
    assert(collectSet(EmbedIngest.ingestLog(spark, bucketed)) ==
      collectSet(EmbedIngest.ingestLog(spark, plain)))
  }

  test("DedupIngest: bucketed drain through the real harness equals the plain run's") {
    def drive(buckets: Option[Int]): String = {
      val base = tempDir("graft-bw-dd")
      val flat = base.resolve("in").toString
      new java.io.File(flat).mkdirs()
      StreamFiles.landOne(base, flat, "b0", docsDF((0L until 40L).filter(_ % 2 == 0)))
      StreamFiles.landOne(base, flat, "b1", docsDF((0L until 40L).filter(_ % 2 == 1)))
      val wh = base.resolve("wh").toString
      val q = DedupIngest.start(spark, flat, wh,
        base.resolve("ckpt").toString, stateBuckets = buckets)
      assert(q.awaitTermination(120000), "drain did not finish")
      wh
    }
    val (plain, bucketed) = (drive(None), drive(Some(4)))
    assert(Files.exists(Paths.get(s"$bucketed/dedup_survivors.__buckets")))
    assert(collectSet(DedupIngest.survivors(spark, bucketed)) ==
      collectSet(DedupIngest.survivors(spark, plain)))
    assert(collectSet(DedupIngest.ingestLog(spark, bucketed)) ==
      collectSet(DedupIngest.ingestLog(spark, plain)))
  }

  test("DedupIngest BUCKETED: kill mid-drain, resume — exactly-once holds over the bucketed layout") {
    // the harshest harness condition for the bucketed write path: a
    // kill can land INSIDE a touched-bucket merge (staging write, leaf
    // swap, or between the survivors and log upserts); resume must
    // recover the swap and restate, never duplicate or lose a key —
    // the plain-layout twin lives in DedupIngestStreamSpec
    val base = tempDir("graft-bw-ddkill")
    val flat = base.resolve("docs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()
    StreamFiles.landOne(base, flat, "f0",
      Seq((12L, "alpha"), (11L, "alpha"), (20L, "beta")).toDF("doc_id", "text"))
    StreamFiles.landOne(base, flat, "f1",
      Seq((1L, "alpha"), (30L, "gamma")).toDF("doc_id", "text"))
    StreamFiles.landOne(base, flat, "f2",
      Seq((40L, "alpha"), (41L, "beta"), (42L, "gamma")).toDF("doc_id", "text"))

    val survivorsDir = s"$wh/dedup_survivors"
    def admitted(): Long =
      if (!Files.exists(Paths.get(survivorsDir, "_SUCCESS"))) 0L
      else DedupIngest.survivors(spark, wh).count()
    val q1 = DedupIngest.start(spark, flat, wh, ckpt, stateBuckets = Some(4))
    val deadline = System.currentTimeMillis() + 120000
    while (admitted() < 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q1.stop(); q1.awaitTermination(60000)
    val afterKill = admitted()
    assert(afterKill >= 1, "run 1 never admitted a row")

    val q2 = DedupIngest.start(spark, flat, wh, ckpt, stateBuckets = Some(4))
    assert(q2.awaitTermination(120000), "resume did not drain")

    assert(Files.exists(Paths.get(s"$survivorsDir.__buckets")),
      "premise: the drain wrote a bucketed layout")
    val got = DedupIngest.survivors(spark, wh)
      .select(col("text"), col("doc_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("alpha" -> 11L, "beta" -> 20L, "gamma" -> 30L),
      s"survivors diverged over the bucketed layout: $got")
    val log = DedupIngest.ingestLog(spark, wh).orderBy(col("batch_id"))
      .select(col("n_in"), col("n_batch_dupes"), col("n_seen_before"),
        col("n_admitted"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // two legitimate splits, exactly as the plain-layout twin
    // (DedupIngestStreamSpec) documents: offsets already planned for f1
    // when the kill lands → the resume replays the 1-file batches; kill
    // before f1's offsets → the resumed AvailableNow drain plans the
    // remaining TWO files as one batch (5 in, alpha+beta seen-before,
    // gamma admits). Both are exactly-once; the bucketed layout must
    // not change either.
    assert(log.toSeq == Seq((3L, 1L, 0L, 2L), (2L, 0L, 1L, 1L),
      (3L, 0L, 3L, 0L))
        || log.toSeq == Seq((3L, 1L, 0L, 2L), (5L, 2L, 2L, 1L)),
      s"admission log diverged over the bucketed layout: ${log.toSeq}")
  }

  test("rebucket mid-stream: workers continue at the new bucket count, value-identical to the plain run") {
    // the lifecycle op under a live pipeline: batch 0 lands 4-way
    // bucketed state, a maintenance window REBUCKETS the tables to
    // 8-way (the growing-corpus move — per-bucket volume halves),
    // batch 1 continues at the new count. The final warehouse must be
    // value-identical to the plain whole-table run's — rebucket is pure
    // LAYOUT, invisible to worker semantics.
    val ids = (0L until 40L)
    def ndDrive(): String = {
      val wh = tempDir("graft-rb-nd").resolve("wh").toString
      NearDupIngest.processBatch(docsDF(ids.filter(_ % 2 == 0)), 0L, wh)
      NearDupIngest.processBatch(docsDF(ids.filter(_ % 2 == 1)), 1L, wh)
      wh
    }
    val plain = ndDrive()
    val wh = tempDir("graft-rb-nd").resolve("wh").toString
    NearDupIngest.processBatch(
      docsDF(ids.filter(_ % 2 == 0)), 0L, wh, stateBuckets = Some(4))
    UpsertWriter.rebucket(spark, s"$wh/neardup_survivors",
      keys = Seq("doc_id"), newBuckets = 8)
    UpsertWriter.rebucket(spark, s"$wh/neardup_index",
      keys = Seq("band", "sig", "doc_id"), newBuckets = 8)
    NearDupIngest.processBatch(
      docsDF(ids.filter(_ % 2 == 1)), 1L, wh, stateBuckets = Some(8))
    assert(UpsertWriter.pinnedBuckets(s"$wh/neardup_survivors").contains(8) &&
      UpsertWriter.pinnedBuckets(s"$wh/neardup_index").contains(8),
      "premise: the rebucket re-pinned both state tables")
    for (view <- Seq(
        NearDupIngest.survivors(spark, _: String),
        NearDupIngest.index(spark, _: String),
        NearDupIngest.ingestLog(spark, _: String)))
      assert(collectSet(view(wh)) == collectSet(view(plain)),
        "a mid-stream rebucket changed worker semantics")

    // same through the MULTI-SIGNAL worker (two state tables + log)
    val mk = (p: Int) => (0 until 30).filter(_ % 2 == p)
      .map(i => (i.toLong, s"text ${i} " +
        (1 to 6).map(k => s"w${i}x$k").mkString(" "), vec(i)))
      .toDF("doc_id", "text", "embedding")
    def msDrive(): String = {
      val wh = tempDir("graft-rb-ms").resolve("wh").toString
      graft.streaming.MultiSignalIngest.processBatch(mk(0), 0L, wh)
      graft.streaming.MultiSignalIngest.processBatch(mk(1), 1L, wh)
      wh
    }
    val msPlain = msDrive()
    val msWh = tempDir("graft-rb-ms").resolve("wh").toString
    graft.streaming.MultiSignalIngest.processBatch(
      mk(0), 0L, msWh, stateBuckets = Some(4))
    UpsertWriter.rebucket(spark, s"$msWh/ms_survivors",
      keys = Seq("doc_id"), newBuckets = 8)
    UpsertWriter.rebucket(spark, s"$msWh/ms_index",
      keys = Seq("band", "sig", "doc_id"), newBuckets = 8)
    graft.streaming.MultiSignalIngest.processBatch(
      mk(1), 1L, msWh, stateBuckets = Some(8))
    for (view <- Seq(
        graft.streaming.MultiSignalIngest.survivors(spark, _: String),
        graft.streaming.MultiSignalIngest.index(spark, _: String),
        graft.streaming.MultiSignalIngest.ingestLog(spark, _: String)))
      assert(collectSet(view(msWh)) == collectSet(view(msPlain)),
        "a mid-stream rebucket changed multi-signal semantics")
  }

  test("serving paths read a bucketed warehouse identically to a plain one") {
    // the query-side endpoints (EmbedIngest.nearDuplicates,
    // MultiSignalIngest.wouldAdmit, AnnIngest.search) consume the
    // serving views; a bucketed layout must be invisible to them
    val mkVecs = (p: Int) => (0 until 30).filter(_ % 2 == p)
      .map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    def emDrive(buckets: Option[Int]): String = {
      val wh = tempDir("graft-bw-serve-em")
        .resolve("wh").toString
      EmbedIngest.processBatch(mkVecs(0), 0L, wh, stateBuckets = buckets)
      EmbedIngest.processBatch(mkVecs(1), 1L, wh, stateBuckets = buckets)
      wh
    }
    val (emPlain, emBucketed) = (emDrive(None), emDrive(Some(4)))
    val queries = Seq((1000L, vec(3)), (1001L, vec(7)))
      .toDF("query_id", "embedding")
    assert(
      collectSet(EmbedIngest.nearDuplicates(spark, emBucketed, queries)) ==
        collectSet(EmbedIngest.nearDuplicates(spark, emPlain, queries)),
      "nearDuplicates diverged across layouts")

    def msDrive(buckets: Option[Int]): String = {
      val wh = tempDir("graft-bw-serve-ms")
        .resolve("wh").toString
      val mk = (p: Int) => (0 until 30).filter(_ % 2 == p)
        .map(i => (i.toLong, s"text ${i} " +
          (1 to 6).map(k => s"w${i}x$k").mkString(" "), vec(i)))
        .toDF("doc_id", "text", "embedding")
      graft.streaming.MultiSignalIngest.processBatch(
        mk(0), 0L, wh, stateBuckets = buckets)
      graft.streaming.MultiSignalIngest.processBatch(
        mk(1), 1L, wh, stateBuckets = buckets)
      wh
    }
    val (msPlain, msBucketed) = (msDrive(None), msDrive(Some(4)))
    val cands = Seq(
      (2000L, "text 4 " + (1 to 6).map(k => s"w4x$k").mkString(" "), vec(4)),
      (2001L, "completely different words entirely", vec(11)))
      .toDF("query_id", "text", "embedding")
    assert(
      collectSet(graft.streaming.MultiSignalIngest
        .wouldAdmit(spark, msBucketed, cands)) ==
        collectSet(graft.streaming.MultiSignalIngest
          .wouldAdmit(spark, msPlain, cands)),
      "wouldAdmit diverged across layouts")

    val mkAnn = (p: Int) => (0 until 24).filter(_ % 2 == p)
      .map(i => (i.toLong, vec(i), i % 4)).toDF("vec_id", "embedding", "label")
    def annDrive(buckets: Option[Int]): String = {
      val wh = tempDir("graft-bw-serve-ann")
        .resolve("wh").toString
      AnnIngest.processBatch(mkAnn(0), 0L, wh, stateBuckets = buckets)
      AnnIngest.processBatch(mkAnn(1), 1L, wh, stateBuckets = buckets)
      wh
    }
    val (annPlain, annBucketed) = (annDrive(None), annDrive(Some(4)))
    val annQ = graft.operators.AnnOps.withNorm(
      Seq((3000L, vec(5), 0)).toDF("vec_id", "embedding", "label"))
    assert(
      collectSet(AnnIngest.search(spark, annBucketed, annQ, k = 3, nprobe = 4)) ==
        collectSet(AnnIngest.search(spark, annPlain, annQ, k = 3, nprobe = 4)),
      "ANN search diverged across layouts")
  }

  test("AnnIngest: bucketed postings equal the plain run's; refit follows the pinned layout") {
    val mk = (p: Int) => (0 until 24).filter(_ % 2 == p)
      .map(i => (i.toLong, vec(i), i % 4)).toDF("vec_id", "embedding", "label")
    def drive(buckets: Option[Int]): String = {
      val wh = tempDir("graft-bw-ann").resolve("wh").toString
      AnnIngest.processBatch(mk(0), 0L, wh, stateBuckets = buckets)
      AnnIngest.processBatch(mk(1), 1L, wh, stateBuckets = buckets)
      wh
    }
    val (plain, bucketed) = (drive(None), drive(Some(4)))
    assert(collectSet(AnnIngest.index(spark, bucketed)) ==
      collectSet(AnnIngest.index(spark, plain)))
    // the maintenance pass must ride the pinned layout, not flatten it:
    // refit on BOTH, results still equal, bucket dirs still present
    AnnIngest.refit(spark, plain, dim = 16)
    AnnIngest.refit(spark, bucketed, dim = 16)
    assert(collectSet(AnnIngest.index(spark, bucketed)) ==
      collectSet(AnnIngest.index(spark, plain)),
      "refit diverged across layouts")
    val bucketDirs = new java.io.File(s"$bucketed/ann_index").listFiles()
      .count(f => f.isDirectory &&
        f.getName.startsWith(s"${UpsertWriter.BucketCol}="))
    assert(bucketDirs > 0, "refit flattened the bucketed postings layout")
    // and a plain upsert on the pinned table is refused loudly
    val e = intercept[IllegalArgumentException] {
      UpsertWriter.upsert(spark, s"$bucketed/ann_index",
        Seq((99L, 0L)).toDF("vec_id", "batch_id"),
        keys = Seq("vec_id"), versionCol = "batch_id")
    }
    assert(e.getMessage.contains("pinned"))
  }
}
