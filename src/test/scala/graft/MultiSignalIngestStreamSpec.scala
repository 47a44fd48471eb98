package graft

import graft.streaming.MultiSignalIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pipeline.runMultiSignalIngest end to end: one worker, both signals.
  * The load-bearing scenario is the MIXED CHAIN — a lexical edge and a
  * semantic edge sharing a middle document collapse three docs into
  * one cluster within a batch, which neither single-signal worker can
  * do — plus corpus drops through EITHER signal (a new text whose
  * vector paraphrases a stored doc drops; a new vector whose text
  * copies a stored doc drops), kill/resume restating, and the
  * admission log. */
class MultiSignalIngestStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 30 distinct words from one vocabulary (NearDupIngestStreamSpec's
    * construction): variants replacing the last word sit at 3-gram
    * Jaccard ≈ 0.93 ≥ 0.8; distinct vocabularies share zero shingles. */
  private def text(prefix: String, lastWord: String = ""): String = {
    val ws = (1 to 29).map(i => s"$prefix$i") :+
      (if (lastWord.isEmpty) s"${prefix}30" else lastWord)
    ws.mkString(" ")
  }

  /** Unit vector along `i` with an `eps` leak onto `j`
    * (EmbedIngestStreamSpec's construction): ε-leaked copies sit at
    * cos ≈ 0.995 ≥ 0.4; distinct axes at cos ≈ ε ≪ 0.4. At ≤ 32 total
    * vectors the occupancy mask is 0 bits — one cell, exhaustive
    * candidates. */
  private def vec(i: Int, j: Int = -1, eps: Float = 0f): Seq[Float] =
    Seq.tabulate(64)(d => if (d == i) 1f else if (d == j) eps else 0f)

  private def addFile(flat: String, base: java.nio.file.Path, name: String,
      rows: Seq[(Long, String, Seq[Float])]): Unit =
    StreamFiles.landOne(base, flat, name,
      rows.toDF("doc_id", "text", "embedding"))

  test("mixed chain collapses in-batch; corpus drops through either signal; kill/resume restates") {
    // One kill-and-resume attempt over a FRESH tmp tree; returns
    // (base, survivors-after-kill). The kill races the drain by
    // design: the poll fires as soon as batch 0's admissions commit,
    // but on a warm JVM batch 1 can finish inside one poll interval
    // and the kill lands after the full drain — a lost race, not a
    // defect. The caller retries the whole scenario on fresh dirs (all
    // final-state assertions hold either way; only the MID-drain
    // restate claim needs a won race). Seen once in a full-suite run
    // where this spec executed last and everything was JIT-hot.
    def attempt(): (java.nio.file.Path, Long) = {
      val base = tempDir("graft-ms-stream")
      val flat = base.resolve("in").toString
      val wh = base.resolve("wh").toString
      val ckpt = base.resolve("ckpt").toString
      new java.io.File(flat).mkdirs()

      // f0 — the MIXED CHAIN: 11 and 12 are lexical near-dups (texts
      // one word apart; vectors orthogonal), 12 and 13 are semantic
      // near-dups (ε-leaked vectors; texts from disjoint vocabularies).
      // The union closure makes {11, 12, 13} ONE cluster → winner 11.
      // Doc 20 is unrelated on both signals → admits.
      addFile(flat, base, "f0", Seq(
        (12L, text("a", "zz"), vec(1)),
        (11L, text("a"), vec(0)),
        (13L, text("c"), vec(1, 2, 0.1f)),
        (20L, text("b"), vec(3))))
      // f1 — corpus drops through EITHER signal: doc 1's text copies
      // the ADMITTED 11 (vector brand new → lexical drop), doc 30's
      // vector paraphrases 11's (text brand new → semantic drop), doc
      // 40 is new on both → admits.
      addFile(flat, base, "f1", Seq(
        (1L, text("a", "yy"), vec(5)),
        (30L, text("d"), vec(0, 6, 0.1f)),
        (40L, text("e"), vec(7))))

      // pre-commit: an empty warehouse admits everything (mask width 0,
      // no index on disk — both probe paths must answer empty, not throw)
      val cold = MultiSignalIngest.wouldAdmit(spark, wh,
        Seq((9L, text("a"), vec(0))).toDF("query_id", "text", "embedding"))
        .collect()
      assert(cold.length == 1 && cold.head.getBoolean(1),
        "an un-committed warehouse must admit every candidate")

      // run 1: kill as soon as at least one batch admitted rows
      val q1 = Pipeline.runMultiSignalIngest(spark, flat, wh, ckpt)
      val survivorsDir = s"$wh/ms_survivors"
      val deadline = System.currentTimeMillis() + 120000
      def admitted(): Long =
        if (!Files.exists(java.nio.file.Paths.get(survivorsDir, "_SUCCESS"))) 0L
        else spark.read.parquet(survivorsDir).count()
      // poll the commit MARKER, not a Spark count: each count is itself
      // a job, and under ambient box load one poll iteration can outlast
      // batch 1's entire commit — the kill then lands after the full
      // drain in every attempt (observed in a loaded full-suite run with
      // the worker code untouched). Batch 0 admits ≥ 1 row by fixture
      // design, so marker-exists ⇒ admitted() ≥ 1.
      while (!Files.exists(java.nio.file.Paths.get(survivorsDir, "_SUCCESS"))
          && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      q1.stop()
      q1.awaitTermination(60000)
      val afterKill = admitted()
      assert(afterKill >= 1, "run 1 never admitted a row")

      // run 2: resume on the SAME checkpoint, drain to completion
      val q2 = Pipeline.runMultiSignalIngest(spark, flat, wh, ckpt)
      q2.awaitTermination(120000)
      (base, afterKill)
    }
    var (base, afterKill) = attempt()
    var tries = 1
    while (afterKill >= 3 && tries < 3) {
      val r = attempt(); base = r._1; afterKill = r._2; tries += 1
    }
    val flat = base.resolve("in").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString

    val got = MultiSignalIngest.survivors(spark, wh)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(11L, 20L, 40L),
      s"survivors diverged (mixed chain split, or a signal missed): $got")

    // the lexical index holds exactly the survivors' band rows
    val idxDocs = MultiSignalIngest.index(spark, wh)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(idxDocs == got, s"lexical index out of sync: $idxDocs")

    // log: f0 = 4 in / 2 batch-dupes (12, 13 fell with the chain) /
    // 2 admitted; f1 = 3 in / 2 corpus-dupes (one per signal) / 1
    val log = MultiSignalIngest.ingestLog(spark, wh)
      .orderBy(col("batch_id"))
      .select(col("n_in"), col("n_batch_dupes"), col("n_corpus_dupes"),
        col("n_admitted"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(log.toSeq == Seq((4L, 2L, 0L, 2L), (3L, 0L, 2L, 1L)),
      s"admission log diverged: ${log.toSeq}")

    assert(afterKill < 3,
      s"kill landed after the full drain ($afterKill survivors) in all " +
        s"$tries attempts — the mid-drain restate path was never exercised")

    // a drained checkpoint re-run is a no-op
    val q3 = Pipeline.runMultiSignalIngest(spark, flat, wh, ckpt)
    q3.awaitTermination(120000)
    assert(MultiSignalIngest.survivors(spark, wh).count() == 3L,
      "a drained checkpoint re-run must admit nothing")

    // serving pre-check over the drained corpus {11, 20, 40}: a lexical
    // copy of 11 is rejected with 11 as the lexical match, a paraphrase
    // vector of 11 is rejected semantically, a doc new on both signals
    // admits — and a query_id that COLLIDES with a survivor id (20)
    // must not cross-contaminate the shingle lookup
    val pre = MultiSignalIngest.wouldAdmit(spark, wh,
      Seq(
        (100L, text("a", "xx"), vec(8)),        // lexical dup of 11
        (200L, text("f"), vec(0, 9, 0.1f)),     // semantic dup of 11
        (20L, text("g"), vec(10)))              // new, id collides with survivor 20
        .toDF("query_id", "text", "embedding"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(pre(100L) == ((false, 11L, -1L)),
      s"lexical pre-check diverged: ${pre(100L)}")
    assert(pre(200L) == ((false, -1L, 11L)),
      s"semantic pre-check diverged: ${pre(200L)}")
    assert(pre(20L) == ((true, -1L, -1L)),
      s"id-colliding new candidate must still admit: ${pre(20L)}")

    // the serving mask is sized from the LOG's running admission count
    // (no corpus scan per call) — pin that the log-derived corpus size
    // equals the survivors row count, i.e. the serving mask is exactly
    // the mask the worker's next batch would derive
    val fromLog = MultiSignalIngest.ingestLog(spark, wh)
      .agg(sum(col("n_admitted"))).head().getLong(0)
    val fromTable = MultiSignalIngest.survivors(spark, wh).count()
    assert(fromLog == fromTable,
      s"log-derived corpus size $fromLog != survivors count $fromTable — " +
        "the serving mask would diverge from the worker's")
  }

  test("lifecycle through a REAL checkpoint: horizon-pruned compact, takedown, rebucket under stale config") {
    val base = tempDir("graft-ms-lifecycle")
    val flat = base.resolve("in").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()
    val survivorsDir = s"$wh/ms_survivors"
    val indexDir = s"$wh/ms_index"
    import graft.sinks.UpsertWriter

    // batch 0: two unrelated docs, bucketed state (4-way)
    addFile(flat, base, "f0", Seq(
      (11L, text("a"), vec(0)),
      (20L, text("b"), vec(3))))
    val q1 = MultiSignalIngest.start(spark, flat, wh, ckpt,
      stateBuckets = Some(4))
    assert(q1.awaitTermination(120000), "drain 1 did not finish")
    assert(MultiSignalIngest.survivors(spark, wh).count() == 2)

    // the checkpoint's commit log proves batch 0 dead → horizon 1, and
    // a compact carrying it prunes the sidecar the drain's delta
    // appends created — the maintenance cycle a production worker runs
    val horizon = UpsertWriter.replayHorizon(ckpt)
    assert(horizon.contains(1L),
      s"commit log should prove batch 0 committed, got $horizon")
    assert(UpsertWriter.foldedTags(survivorsDir).isEmpty) // nothing folded yet
    UpsertWriter.compact(spark, survivorsDir, replayHorizon = horizon)
    UpsertWriter.compact(spark, indexDir, replayHorizon = horizon)
    assert(UpsertWriter.foldedTags(survivorsDir).isEmpty &&
      UpsertWriter.foldedTags(indexDir).isEmpty,
      "the horizon-pruned compact must leave an empty sidecar " +
        "(b0 committed, its folded-tag guard is dead weight)")

    // TAKEDOWN doc 11, then rebucket 4 → 8 — the pin moves while the
    // worker's configured count below stays 4 (stale on purpose)
    val (nSurv, nIdx) = MultiSignalIngest.takedown(
      spark, wh, col("doc_id") === 11L)
    assert(nSurv == 1L && nIdx > 0L, s"takedown removed ($nSurv, $nIdx)")
    UpsertWriter.rebucket(spark, survivorsDir, keys = Seq("doc_id"),
      newBuckets = 8, replayHorizon = horizon)
    assert(UpsertWriter.pinnedBuckets(survivorsDir).contains(8))

    // batch 1: a lexical copy of the REMOVED 11 must ADMIT (deleted,
    // not shadow-banned); a copy of the still-present 20 must drop
    addFile(flat, base, "f1", Seq(
      (50L, text("a", "qq"), vec(5)),
      (51L, text("b", "rr"), vec(6))))
    val q2 = MultiSignalIngest.start(spark, flat, wh, ckpt,
      stateBuckets = Some(4)) // stale config: the pin (8) must rule
    assert(q2.awaitTermination(120000), "drain 2 did not finish")

    val got = MultiSignalIngest.survivors(spark, wh)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(20L, 50L),
      s"post-takedown admission diverged: $got (50 must admit against " +
        "the reduced corpus; 51 must drop against surviving 20)")
    assert(UpsertWriter.pinnedBuckets(survivorsDir).contains(8),
      "the stale-configured drain must follow the pin, not re-pin 4")
    // every surviving row physically lives in its 8-way bucket
    val misplaced = spark.read.parquet(survivorsDir)
      .filter(col(UpsertWriter.BucketCol) =!=
        pmod(xxhash64(col("doc_id")), lit(8L)).cast("int")).count()
    assert(misplaced == 0, s"$misplaced rows outside their 8-way bucket")
  }
}
