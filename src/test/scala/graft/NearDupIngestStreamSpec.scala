package graft

import graft.streaming.NearDupIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pipeline.runNearDupIngest end to end: continuous NEAR-dup ingest
  * (banded LSH + exact-Jaccard verify), KILLED mid-drain and resumed —
  * one survivor per near-dup cluster, first arrival wins across
  * batches, the signature index drives the corpus check, and the
  * admission log restates instead of duplicating. */
class NearDupIngestStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 30 distinct words from one vocabulary — near-dup variants replace
    * the LAST word, giving 3-gram shingle Jaccard 27/29 ≈ 0.93 ≥ 0.8;
    * distinct vocabularies share zero shingles (J = 0). */
  private def text(prefix: String, lastWord: String = ""): String = {
    val ws = (1 to 29).map(i => s"$prefix$i") :+
      (if (lastWord.isEmpty) s"${prefix}30" else lastWord)
    ws.mkString(" ")
  }

  private def addDocFile(flat: String, base: java.nio.file.Path,
      name: String, rows: Seq[(Long, String)]): Unit =
    StreamFiles.landOne(base, flat, name, rows.toDF("doc_id", "text"))

  test("kill mid-drain, resume: one survivor per near-dup cluster, index-driven corpus check, log consistent") {
    val base = tempDir("graft-neardup-stream")
    val flat = base.resolve("docs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()

    // f0: docs 11/12 are NEAR-dups of each other (one-word edit —
    // within-batch cluster, lowest id 11 wins), doc 20 unrelated.
    // f1: doc 1 is a near-dup of the ADMITTED 11 (arrives later, so it
    // drops despite 1 < 11 — first arrival wins, not lowest id);
    // doc 30 unrelated.
    // f2: doc 40 = exact copy of 11's text and doc 41 = near-dup of 30
    // (both drop via the index), doc 42 brand new (admits).
    addDocFile(flat, base, "f0",
      Seq((12L, text("a", "zz")), (11L, text("a")), (20L, text("b"))))
    addDocFile(flat, base, "f1", Seq((1L, text("a", "yy")), (30L, text("c"))))
    addDocFile(flat, base, "f2",
      Seq((40L, text("a")), (41L, text("c", "xx")), (42L, text("d"))))

    // run 1: kill as soon as at least one batch admitted rows
    val q1 = Pipeline.runNearDupIngest(spark, flat, wh, ckpt)
    val survivorsDir = s"$wh/neardup_survivors"
    val deadline = System.currentTimeMillis() + 120000
    def admitted(): Long =
      if (!Files.exists(java.nio.file.Paths.get(survivorsDir, "_SUCCESS"))) 0L
      else spark.read.parquet(survivorsDir).count()
    while (admitted() < 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q1.stop()
    q1.awaitTermination(60000)
    val afterKill = admitted()
    assert(afterKill >= 1, "run 1 never admitted a row")

    // run 2: resume on the SAME checkpoint, drain to completion
    val q2 = Pipeline.runNearDupIngest(spark, flat, wh, ckpt)
    q2.awaitTermination(120000)

    // one survivor per content cluster: 11 (beat 12 in-batch; 1 and 40
    // dropped by the index), 20, 30 (41 dropped by the index), 42
    val got = NearDupIngest.survivors(spark, wh)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(11L, 20L, 30L, 42L),
      s"survivors diverged (cluster split, or wrong winner): $got")

    // the index holds signatures for the survivors only
    val idxDocs = NearDupIngest.index(spark, wh)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(idxDocs == got,
      s"index out of sync with survivors: $idxDocs vs $got")

    // log: f0 = 3 in / 1 batch-dupe / 2 admitted; f1 = 1 corpus-dupe +
    // 1 admitted; f2 = 2 corpus-dupes + 1 admitted. Batch 0 is always
    // exactly f0 (its offsets commit before the kill can land); if the
    // kill hit before f1's offsets were planned, the resumed
    // AvailableNow drain takes the remaining TWO files as one batch —
    // there docs 1 and 40 near-dup each OTHER in-batch (cluster winner
    // 1, which then drops vs the stored 11) and 41 clusters with the
    // co-arriving 30: 5 in, 2 batch dupes {40, 41}, 1 corpus dupe {1},
    // 2 admitted {30, 42} — faithful to that batching.
    val log = NearDupIngest.ingestLog(spark, wh)
      .orderBy(col("batch_id"))
      .select(col("n_in"), col("n_batch_dupes"), col("n_corpus_dupes"),
        col("n_admitted"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(log.toSeq == Seq((3L, 1L, 0L, 2L), (2L, 0L, 1L, 1L), (3L, 0L, 2L, 1L))
        || log.toSeq == Seq((3L, 1L, 0L, 2L), (5L, 2L, 1L, 2L)),
      s"admission log diverged (a replay double-logged, or a split is wrong): ${log.toSeq}")

    // genuinely resumed: the kill landed before the full drain
    assert(afterKill < 4,
      s"kill landed after the full drain ($afterKill survivors) — test proved nothing")

    // a third run over the drained checkpoint is a no-op end to end
    val q3 = Pipeline.runNearDupIngest(spark, flat, wh, ckpt)
    q3.awaitTermination(120000)
    assert(admitted() == 4L, "a drained checkpoint re-run must admit nothing")
  }

  test("same-batch doc_id reuse: keep-latest collapse counted as a batch dupe, not a corpus dupe") {
    val base = tempDir("graft-neardup-iddup")
    val flat = base.resolve("docs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()

    // ONE batch carrying doc_id 5 twice with UNRELATED texts (zero
    // shared shingles — no near-dup edge, so the only collapse is the
    // id dedup) plus an unrelated doc 7. The later arrival's text must
    // win (UpsertWriter's tie rule) and the collapse must land in
    // n_batch_dupes — before this fix both rows counted as winners and
    // the log booked the keyed-upsert collapse as a phantom corpus dupe.
    addDocFile(flat, base, "f0",
      Seq((5L, text("a")), (5L, text("b")), (7L, text("c"))))
    val q = Pipeline.runNearDupIngest(spark, flat, wh, ckpt)
    q.awaitTermination(120000)

    val surv = NearDupIngest.survivors(spark, wh)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(surv.keySet == Set(5L, 7L), s"survivors: ${surv.keySet}")
    assert(surv(5L) == text("b"),
      "doc_id reuse in one batch must keep the LATER row's text")

    val log = NearDupIngest.ingestLog(spark, wh)
      .select(col("n_in"), col("n_batch_dupes"), col("n_corpus_dupes"),
        col("n_admitted"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(log.toSeq == Seq((3L, 1L, 0L, 2L)),
      s"id-collapse misattributed in the log: ${log.toSeq}")
  }
}
