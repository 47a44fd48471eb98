package graft

import graft.streaming.{AnnIngest, DedupIngest, EmbedIngest, NearDupIngest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Right-to-be-forgotten across the WHOLE worker family: every ingest
  * worker exposes `takedown(spark, warehouseDir, predicate)` — a
  * searched row-grain delete of its state tables under the maintenance
  * lease — with one shared contract, pinned per worker here:
  *
  *  - the matching rows leave the corpus (survivors AND any signature
  *    index);
  *  - the admission log is a JOURNAL and stays (mask sizing is
  *    monotone capacity);
  *  - a later duplicate of a removed document/vector is ADMITTED —
  *    removed means gone, not shadow-banned.
  *
  * The multi-signal worker's takedown additionally runs mid-drain
  * under the DuckDB oracle (`msb_ingest_takedown_rebucket`) and
  * through a real checkpoint ([[MultiSignalIngestStreamSpec]]); these
  * cases pin the same semantics on the single-signal workers. */
class WorkerTakedownSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def wh(): String =
    tempDir("graft-takedown").resolve("wh").toString

  /** 30 distinct words from one vocabulary; one-word variants sit at
    * 3-gram Jaccard ≈ 0.93 ≥ 0.8 (the near-dup constructions the
    * stream specs share). */
  private def text(prefix: String, lastWord: String = ""): String = {
    val ws = (1 to 29).map(i => s"$prefix$i") :+
      (if (lastWord.isEmpty) s"${prefix}30" else lastWord)
    ws.mkString(" ")
  }
  private def vec(i: Int, j: Int = -1, eps: Float = 0f): Seq[Float] =
    Seq.tabulate(64)(d => if (d == i) 1f else if (d == j) eps else 0f)

  test("DedupIngest: a removed doc's exact copy is re-admitted") {
    val base = tempDir("graft-dedup-takedown")
    val flat = base.resolve("in").toString
    val w = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()
    StreamFiles.landOne(base, flat, "f0",
      Seq((11L, text("a")), (20L, text("b"))).toDF("doc_id", "text"))
    val q1 = DedupIngest.start(spark, flat, w, ckpt)
    assert(q1.awaitTermination(120000))
    assert(DedupIngest.survivors(spark, w).count() == 2)

    assert(DedupIngest.takedown(spark, w, col("doc_id") === 11L) == 1L)
    assert(DedupIngest.survivors(spark, w)
      .select($"doc_id").as[Long].collect().toSet == Set(20L))

    // the EXACT same content re-lands: without the takedown it is an
    // exact dup and drops; removed means it must re-admit
    StreamFiles.landOne(base, flat, "f1",
      Seq((50L, text("a")), (51L, text("b"))).toDF("doc_id", "text"))
    val q2 = DedupIngest.start(spark, flat, w, ckpt)
    assert(q2.awaitTermination(120000))
    val got = DedupIngest.survivors(spark, w)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == Set(20L, 50L),
      s"$got — 50 (copy of removed 11) must re-admit; 51 (copy of " +
        "surviving 20) must drop")
  }

  test("NearDupIngest: survivors AND band index purge; a removed doc's near-copy re-admits") {
    val w = wh()
    NearDupIngest.processBatch(
      Seq((11L, text("a")), (20L, text("b"))).toDF("doc_id", "text"),
      0L, w)
    val (nSurv, nIdx) = NearDupIngest.takedown(spark, w, $"doc_id" === 11L)
    assert(nSurv == 1L && nIdx > 0L, s"removed ($nSurv, $nIdx)")
    assert(NearDupIngest.index(spark, w)
      .filter($"doc_id" === 11L).count() == 0, "index rows survived")

    NearDupIngest.processBatch(
      Seq((50L, text("a", "qq")), (51L, text("b", "rr")))
        .toDF("doc_id", "text"), 1L, w)
    val got = NearDupIngest.survivors(spark, w)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == Set(20L, 50L),
      s"$got — 50 (near-dup of removed 11) must re-admit; 51 (near-dup " +
        "of surviving 20) must drop")
  }

  test("EmbedIngest: a removed vector's paraphrase re-admits; the journal stays") {
    val w = wh()
    EmbedIngest.processBatch(
      Seq((11L, vec(0)), (20L, vec(3))).toDF("vec_id", "embedding"), 0L, w)
    assert(EmbedIngest.takedown(spark, w, $"vec_id" === 11L) == 1L)

    EmbedIngest.processBatch(
      Seq((50L, vec(0, 6, 0.1f)), (51L, vec(3, 7, 0.1f)))
        .toDF("vec_id", "embedding"), 1L, w)
    val got = EmbedIngest.survivors(spark, w)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(20L, 50L),
      s"$got — 50 (cosine-dup of removed 11) must re-admit; 51 " +
        "(cosine-dup of surviving 20) must drop")
    // journal untouched: cumulative admissions still count batch 0's two
    val logged = EmbedIngest.ingestLog(spark, w)
      .agg(sum($"n_admitted")).head().getLong(0)
    assert(logged == 3L, s"journal rewritten by takedown: $logged")
  }

  test("AnnIngest: index rows purge; the frozen quantizer stays and refit re-fits over the remainder") {
    val w = wh()
    val rows = for (l <- 0 until 4; i <- 0 until 4)
      yield ((l * 4 + i).toLong, vec(l), l)
    AnnIngest.processBatch(
      rows.toDF("vec_id", "embedding", "label"), 0L, w)
    assert(AnnIngest.index(spark, w).count() == 16)

    assert(AnnIngest.takedown(spark, w, $"vec_id" < 4L) == 4L)
    val idx = AnnIngest.index(spark, w)
    assert(idx.count() == 12 && idx.filter($"vec_id" < 4L).count() == 0)

    // later ingest still assigns against the frozen quantizer…
    AnnIngest.processBatch(
      Seq((100L, vec(1), 1)).toDF("vec_id", "embedding", "label"), 1L, w)
    assert(AnnIngest.index(spark, w).count() == 13)
    // …and a refit over the remainder keeps every surviving row, never
    // resurrects the removed ones
    AnnIngest.refit(spark, w)
    val after = AnnIngest.index(spark, w)
    assert(after.count() == 13 && after.filter($"vec_id" < 4L).count() == 0,
      "refit resurrected or lost rows across a takedown")
  }

  test("MultiSignal takedown crash between the two deletes: the orphaned index cannot shadow-ban, and a re-run heals exactly") {
    // The two-table takedown's documented crash contract
    // (MultiSignalIngest.takedown): deletes are survivors-FIRST under
    // one maintenance window; a crash between them leaves index rows
    // whose documents are gone. Pin all three legs: (a) the window is
    // real — survivors clean, index dangling, both leases released;
    // (b) IN the window a near-dup of the removed doc still ADMITS
    // (verification is survivor-anchored, so a dangling index row has
    // no text to verify against — never a shadow ban, never a
    // resurrection); (c) re-running the SAME takedown completes the
    // removal and is a no-op on the already-clean survivors.
    import graft.streaming.MultiSignalIngest
    val w = wh()
    MultiSignalIngest.processBatch(
      Seq((11L, text("a"), vec(0)), (20L, text("b"), vec(3)))
        .toDF("doc_id", "text", "embedding"), 0L, w)

    MultiSignalIngest.takedownFault =
      () => throw new RuntimeException("injected crash between deletes")
    try intercept[RuntimeException] {
      MultiSignalIngest.takedown(spark, w, $"doc_id" === 11L)
    } finally MultiSignalIngest.takedownFault = () => ()

    // (a) the orphaned-index window, with the maintenance window closed
    // (a real crash frees the windows when its process exits; the
    // in-process injection releases through the bracket's finally)
    assert(MultiSignalIngest.survivors(spark, w)
      .filter($"doc_id" === 11L).count() == 0, "survivors delete ran first")
    val dangling = MultiSignalIngest.index(spark, w)
      .filter($"doc_id" === 11L).count()
    assert(dangling > 0, "crash case degenerated: no orphaned index rows")
    // both windows reopen: no maintenance lease leaked across the crash
    graft.sinks.TableLease.withDrain(
      Seq(s"$w/ms_survivors", s"$w/ms_index"), "after-crash") { () }

    // (b) a lexical near-copy of removed 11 admits DESPITE the dangling
    // index rows; a near-copy of surviving 20 still drops
    MultiSignalIngest.processBatch(
      Seq((50L, text("a", "qq"), vec(5)), (51L, text("b", "rr"), vec(6)))
        .toDF("doc_id", "text", "embedding"), 1L, w)
    val got = MultiSignalIngest.survivors(spark, w)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == Set(20L, 50L),
      s"$got — the orphaned index shadow-banned 50 (or admitted 51)")

    // (c) re-run to completion: deletes the leftovers, touches nothing
    // else — the exact state a never-crashed takedown leaves
    val (nS2, nI2) = MultiSignalIngest.takedown(spark, w, $"doc_id" === 11L)
    assert(nS2 == 0L && nI2 == dangling,
      s"re-run removed ($nS2, $nI2), expected (0, $dangling)")
    assert(MultiSignalIngest.index(spark, w)
      .filter($"doc_id" === 11L).count() == 0, "index leftovers survived")
    assert(MultiSignalIngest.survivors(spark, w)
      .select($"doc_id").as[Long].collect().toSet == Set(20L, 50L),
      "the healing re-run disturbed unrelated state")
  }
}
