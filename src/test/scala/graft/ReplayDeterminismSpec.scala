package graft

import graft.operators.DedupOps
import graft.streaming.{EmbedIngest, MultiSignalIngest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Replay determinism under CROSS-BATCH KEY RE-USE — the exactly-once
  * contract the kill/resume specs advertise, driven at the one crash
  * point they cannot reach from outside: between the survivors upsert
  * and the checkpoint commit. `processBatch` is the foreachBatch body;
  * a crash in that window re-invokes it with the SAME batch id, so the
  * scenario is: run the batch once (state fully written), then run it
  * again, and demand the warehouse is bit-identical to a never-crashed
  * run.
  *
  * The load-bearing fixture: batch 1 RE-DELIVERS a key batch 0 already
  * admitted. The keyed upsert bumps that row's `batch_id` (content is
  * last-write-wins), so a `batch_id < batchId` prior-filter would lose
  * the survivor on replay — shrinking the corpus count by one. The
  * fixture pins that count at the 2^1·CellOcc occupancy boundary
  * (30 prior + 35 arrivals = 65 → 2-bit mask; a lost survivor reads
  * 64 → 1-bit mask), where the batch's candidate generation changes:
  * it carries a near-dup pair engineered to sit at cell HAMMING-2
  * under the 2-bit mask (no edge even through the worker's Hamming-1
  * probe ring → both admit) that the 1-bit mask pulls to Hamming-1
  * (probe collision → edge → one winner). The 2-bit boundary is the
  * lowest that can matter: with multiprobe every 1-bit-mask cell is
  * within one flip of every other, so the 0/1-bit boundary is
  * candidate-invariant. The immutable `first_admitted_batch` column
  * is what keeps the replay's corpus count — and so the mask, the
  * candidates, and the log — identical. */
class ReplayDeterminismSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Unit vector along axis `i` (axes 0..61 — the orthogonal corpus). */
  private def vec(i: Int): Seq[Float] =
    Seq.tabulate(64)(d => if (d == i) 1f else 0f)

  /** Unit vector at angle `deg` in the (62, 63) plane — orthogonal to
    * every [[vec]], so only the engineered pair is ever cosine-close. */
  private def planeVec(deg: Int): Seq[Float] = {
    val r = math.toRadians(deg)
    Seq.tabulate(64)(d =>
      if (d == 62) math.cos(r).toFloat
      else if (d == 63) math.sin(r).toFloat else 0f)
  }

  /** A cosine-near-dup pair (≤ 60° apart → cos ≥ 0.5) whose hyperplane
    * signatures differ in BOTH low bits, found by deterministic search
    * over the plane grid — Hamming-2 under a 2-bit mask (no probe-ring
    * edge), Hamming-1 under a 1-bit mask (probe-ring edge). The
    * hyperplanes are fixed, so the search result is stable. */
  private lazy val splitPair: (Seq[Float], Seq[Float]) = {
    val degs = (0 until 360 by 2).toList
    val sigs = DedupOps.embeddingSigged(
        degs.map(d => (d.toLong, planeVec(d))).toDF("vec_id", "embedding"))
      .select(col("vec_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hit = (for {
      d1 <- degs; d2 <- degs if d1 < d2
      gap = math.min(d2 - d1, 360 - (d2 - d1)) if gap <= 60
      if ((sigs(d1.toLong) ^ sigs(d2.toLong)) & 3L) == 3L
    } yield (d1, d2)).headOption
      .getOrElse(fail("no plane pair differs in both low signature bits"))
    (planeVec(hit._1), planeVec(hit._2))
  }

  // the boundary the fixture pins: one lost prior survivor flips the
  // mask from 2 bits to 1
  test("fixture sits on the 2-bit occupancy-mask boundary") {
    assert(DedupOps.cellMaskFor(65) == 3L && DedupOps.cellMaskFor(64) == 1L)
  }

  test("EmbedIngest: crash between upsert and checkpoint with a re-delivered admitted key — replay restates identical state") {
    val (y1, y2) = splitPair
    val b0 = (0 until 30).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    // re-delivers admitted key 0, the engineered Hamming-2 pair, and 32
    // orthogonal fillers pushing the corpus count to the 65 boundary
    val b1 = (Seq((0L, vec(0)), (101L, y1), (102L, y2)) ++
      (0 until 32).map(k => ((200 + k).toLong, vec(30 + k))))
      .toDF("vec_id", "embedding")

    def state(wh: String) = (
      EmbedIngest.survivors(spark, wh)
        .select(col("vec_id"), col("batch_id"), col("first_admitted_batch"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      EmbedIngest.ingestLog(spark, wh).orderBy(col("batch_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq)

    val whClean = tempDir("graft-replay-em-clean").toString
    EmbedIngest.processBatch(b0, 0, whClean)
    EmbedIngest.processBatch(b1, 1, whClean)

    val whCrash = tempDir("graft-replay-em-crash").toString
    EmbedIngest.processBatch(b0, 0, whCrash)
    EmbedIngest.processBatch(b1, 1, whCrash) // attempt: state written in full…
    EmbedIngest.processBatch(b1, 1, whCrash) // …checkpoint never committed: replay

    assert(state(whCrash) == state(whClean),
      s"replay diverged from the never-crashed run:\n${state(whCrash)}\nvs\n${state(whClean)}")

    val (surv, log) = state(whClean)
    // the 2-bit mask admits the Hamming-2 pair as TWO survivors — the
    // outcome a mask collapse to 1 bit would change
    assert(surv.map(_._1).intersect(Set(101L, 102L)) == Set(101L, 102L),
      s"split pair not admitted separately under the 2-bit mask: $surv")
    // the re-delivered key updated (batch_id bumped) but its admission
    // batch is immutable
    assert(surv.contains((0L, 1L, 0L)),
      s"re-delivered key lost its immutable first_admitted_batch: $surv")
    // b1: 35 in, 0 batch dupes, the re-delivery books as the one
    // corpus dupe (an update, not a new admission), 34 first admissions
    assert(log == Seq((0L, 30L, 0L, 0L, 30L), (1L, 35L, 0L, 1L, 34L)),
      s"admission log diverged: $log")
  }

  /** The multi-signal crash-replay scenario, parameterized by the
    * state-table layout: plain whole-table merges or hash-bucketed
    * ([[graft.sinks.UpsertWriter.upsertBucketed]]) — the same fixture,
    * crash point, and assertions must hold for both, and the bucketed
    * run's final state must equal the plain run's (layout is not
    * semantics). Returns the clean run's state for cross-layout
    * comparison. */
  private def msReplayScenario(
      tag: String, stateBuckets: Option[Int]): (Set[(Long, Long, Long)],
      Set[(Long, Int, String, Long)], Seq[(Long, Long, Long, Long, Long)]) = {
    val (y1, y2) = splitPair
    def tx(i: Long): String =
      (1 to 10).map(k => s"w${i}x$k").mkString(" ") // disjoint vocabularies
    val b0 = (0 until 30).map(i => (i.toLong, tx(i), vec(i)))
      .toDF("doc_id", "text", "embedding")
    val b1 = (Seq((0L, tx(0), vec(0)), (101L, tx(101), y1),
      (102L, tx(102), y2)) ++
      (0 until 32).map(k => ((200 + k).toLong, tx(200 + k), vec(30 + k))))
      .toDF("doc_id", "text", "embedding")

    def state(wh: String) = (
      MultiSignalIngest.survivors(spark, wh)
        .select(col("doc_id"), col("batch_id"), col("first_admitted_batch"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      MultiSignalIngest.index(spark, wh)
        .select(col("doc_id"), col("band"), col("sig"), col("batch_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getLong(3))).toSet,
      MultiSignalIngest.ingestLog(spark, wh).orderBy(col("batch_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq)

    val whClean = tempDir(s"graft-replay-$tag-clean").toString
    MultiSignalIngest.processBatch(b0, 0, whClean, stateBuckets = stateBuckets)
    MultiSignalIngest.processBatch(b1, 1, whClean, stateBuckets = stateBuckets)

    val whCrash = tempDir(s"graft-replay-$tag-crash").toString
    MultiSignalIngest.processBatch(b0, 0, whCrash, stateBuckets = stateBuckets)
    // attempt: every state table fully merged (incl. the touched-bucket
    // merges when bucketed)…
    MultiSignalIngest.processBatch(b1, 1, whCrash, stateBuckets = stateBuckets)
    // …checkpoint never committed: the harness re-delivers the batch
    MultiSignalIngest.processBatch(b1, 1, whCrash, stateBuckets = stateBuckets)

    assert(state(whCrash) == state(whClean),
      s"[$tag] replay diverged from the never-crashed run")
    stateBuckets.foreach { _ =>
      assert(Files.exists(java.nio.file.Paths.get(
        s"$whClean/ms_survivors.__buckets")),
        "premise: the bucketed run must actually pin a bucketed layout")
    }

    val st @ (surv, _, log) = state(whClean)
    assert(surv.map(_._1).intersect(Set(101L, 102L)) == Set(101L, 102L),
      s"[$tag] split pair not admitted separately under the 2-bit mask: $surv")
    assert(surv.contains((0L, 1L, 0L)),
      s"[$tag] re-delivered key lost its immutable first_admitted_batch: $surv")
    assert(log == Seq((0L, 30L, 0L, 0L, 30L), (1L, 35L, 0L, 1L, 34L)),
      s"[$tag] admission log diverged: $log")
    st
  }

  test("NearDupIngest BUCKETED: crash replay over the append/merge split restates identical state; fresh batches ride the append path") {
    import graft.streaming.NearDupIngest
    def tx(i: Long): String =
      (1 to 10).map(k => s"w${i}x$k").mkString(" ") // disjoint vocabularies
    // b0: six distinct docs — a PURE-INSERT batch (the append path)
    val b0 = (0L until 6L).map(i => (i, tx(i))).toDF("doc_id", "text")
    // b1: re-delivers admitted key 0 (unchanged content → an update, the
    // merge path), a corpus near-dup of doc 5, an in-batch identical
    // pair (106/107), and one fresh unique doc
    val b1 = Seq((0L, tx(0)), (105L, tx(5)), (106L, tx(106)),
      (107L, tx(106)), (108L, tx(108))).toDF("doc_id", "text")

    def state(wh: String) = (
      NearDupIngest.survivors(spark, wh)
        .select(col("doc_id"), col("batch_id"), col("first_admitted_batch"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      NearDupIngest.index(spark, wh)
        .select(col("doc_id"), col("band"), col("sig"), col("batch_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getLong(3))).toSet,
      NearDupIngest.ingestLog(spark, wh).orderBy(col("batch_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq)

    def drive(tag: String, crash: Boolean): String = {
      val wh = tempDir(s"graft-replay-nd-$tag").toString
      NearDupIngest.processBatch(b0, 0, wh, stateBuckets = Some(4))
      if (crash) // append-batch replay: delta files replaced by name
        NearDupIngest.processBatch(b0, 0, wh, stateBuckets = Some(4))
      NearDupIngest.processBatch(b1, 1, wh, stateBuckets = Some(4))
      if (crash) // merge-batch replay after full state was written
        NearDupIngest.processBatch(b1, 1, wh, stateBuckets = Some(4))
      wh
    }
    val whClean = drive("clean", crash = false)
    // the pure-insert batch must actually ride appendBucketed: its
    // delta files live under the bucket dirs until a merge subsumes them
    val deltaB0 = java.nio.file.Files
      .walk(java.nio.file.Paths.get(s"$whClean/neardup_survivors"))
      .filter(p => p.getFileName.toString.startsWith("delta-b0-"))
      .count()
    assert(deltaB0 > 0,
      "pure-insert batch 0 did not land as appendBucketed delta files")
    val whCrash = drive("crash", crash = true)
    assert(state(whCrash) == state(whClean),
      s"replay diverged:\n${state(whCrash)}\nvs\n${state(whClean)}")

    val (surv, _, log) = state(whClean)
    assert(surv.map(_._1) ==
      Set(0L, 1L, 2L, 3L, 4L, 5L, 106L, 108L),
      s"survivor set wrong: $surv")
    assert(surv.contains((0L, 1L, 0L)),
      s"re-delivered key lost its immutable first_admitted_batch: $surv")
    // b1: 5 in, 1 batch dupe (107 collapsed into 106), corpus dupes = 2
    // (105 dropped vs doc 5; key 0's re-delivery is an update, not a
    // new admission), 2 first admissions (106, 108)
    assert(log == Seq((0L, 6L, 0L, 0L, 6L), (1L, 5L, 1L, 2L, 2L)),
      s"admission log diverged: $log")
  }

  test("MultiSignalIngest: crash between upsert and checkpoint with a re-delivered admitted key — replay restates identical state") {
    plainMsState = Some(msReplayScenario("ms", None))
  }

  test("MultiSignalIngest BUCKETED state tables: the same crash replay restates identical state, and the layouts agree") {
    val bucketed = msReplayScenario("msb", Some(8))
    // layout must not change semantics: compare against the plain run
    // (re-derived here if scalatest ever reorders the two tests)
    val plain = plainMsState.getOrElse(msReplayScenario("ms2", None))
    assert(bucketed == plain,
      "bucketed and plain state-table layouts diverged in VALUE")
  }

  @volatile private var plainMsState: Option[(Set[(Long, Long, Long)],
    Set[(Long, Int, String, Long)], Seq[(Long, Long, Long, Long, Long)])] = None
}
