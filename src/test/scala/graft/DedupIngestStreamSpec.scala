package graft

import graft.streaming.DedupIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pipeline.runDedupIngest end to end: continuous exact-dedup ingest,
  * KILLED mid-drain and resumed — every content hash admitted exactly
  * once, first arrival wins across batches, lowest doc_id wins within
  * a batch, and the admission log restates instead of duplicating. */
class DedupIngestStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def addDocFile(flat: String, base: java.nio.file.Path,
      name: String, rows: Seq[(Long, String)]): Unit =
    StreamFiles.landOne(base, flat, name, rows.toDF("doc_id", "text"))

  test("kill mid-drain, resume: every hash admitted once, first arrival wins, log consistent") {
    // the kill is a RACE by construction (stop as soon as the first
    // admission is visible, before the drain finishes) — on a warm JVM
    // the remaining micro-batches can commit inside one poll interval,
    // landing the kill after the full drain. A lost race proves
    // nothing, so the run-1 attempt RETRIES on fresh directories until
    // the kill genuinely lands mid-drain (bounded; fails loudly if the
    // box never loses).
    var attempt = 0
    var state: Option[(String, String, String)] = None // flat, wh, ckpt
    var afterKill = 3L
    while (afterKill >= 3 && attempt < 8) {
      attempt += 1
      val base = tempDir("graft-dedup-stream")
      val flat = base.resolve("docs").toString
      val wh = base.resolve("wh").toString
      val ckpt = base.resolve("ckpt").toString
      new java.io.File(flat).mkdirs()

      // f0: "alpha" twice within one file (doc 11 must win over 12),
      // plus "beta". f1: "alpha" AGAIN from a later file (doc 1 < 11,
      // but f0 arrived first — first ARRIVAL wins, not lowest id),
      // plus "gamma". f2: all three again — fully duplicate file, zero
      // admissions. Written in order so modification-time pickup is
      // f0, f1, f2.
      addDocFile(flat, base, "f0",
        Seq((12L, "alpha"), (11L, "alpha"), (20L, "beta")))
      addDocFile(flat, base, "f1", Seq((1L, "alpha"), (30L, "gamma")))
      addDocFile(flat, base, "f2",
        Seq((40L, "alpha"), (41L, "beta"), (42L, "gamma")))

      // run 1: kill as soon as at least one batch admitted rows
      val q1 = Pipeline.runDedupIngest(spark, flat, wh, ckpt)
      val survivorsDir = s"$wh/dedup_survivors"
      val deadline = System.currentTimeMillis() + 120000
      def admitted(): Long =
        if (!Files.exists(java.nio.file.Paths.get(survivorsDir, "_SUCCESS"))) 0L
        else spark.read.parquet(survivorsDir).count()
      while (admitted() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      q1.stop()
      q1.awaitTermination(60000)
      afterKill = admitted()
      assert(afterKill >= 1, "run 1 never admitted a row")
      state = Some((flat, wh, ckpt))
    }
    val (flat, wh, ckpt) = state.get
    def admitted(): Long =
      spark.read.parquet(s"$wh/dedup_survivors").count()

    // run 2: resume on the SAME checkpoint, drain to completion
    val q2 = Pipeline.runDedupIngest(spark, flat, wh, ckpt)
    q2.awaitTermination(120000)

    // exactly three survivors — one per distinct text, correct winners
    val got = DedupIngest.survivors(spark, wh)
      .select(col("text"), col("doc_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("alpha" -> 11L, "beta" -> 20L, "gamma" -> 30L),
      s"survivors diverged (duplicate admitted, or wrong winner): $got")

    // the log sums to the arrivals and the splits are exact per batch.
    // Batch 0 is always exactly f0 (its offsets commit before the kill
    // can land — the admitted() poll needs its write). The REST depends
    // on where the kill hit: offsets already planned for f1 → the
    // resume replays the 1-file batches (the 3-row split); kill before
    // f1's offsets → the resumed AvailableNow drain plans the remaining
    // TWO files as one batch (the 2-row form; an in-batch "alpha"
    // re-arrival books as a batch dupe there instead of seen-before —
    // faithful to that batching: 5 in, winners {1:alpha, 30:gamma,
    // 41:beta}, alpha+beta seen, gamma admits).
    val log = DedupIngest.ingestLog(spark, wh)
      .orderBy(col("batch_id"))
      .select(col("n_in"), col("n_batch_dupes"), col("n_seen_before"),
        col("n_admitted"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(log.toSeq == Seq((3L, 1L, 0L, 2L), (2L, 0L, 1L, 1L), (3L, 0L, 3L, 0L))
        || log.toSeq == Seq((3L, 1L, 0L, 2L), (5L, 2L, 2L, 1L)),
      s"admission log diverged (a replay double-logged, or a split is wrong): ${log.toSeq}")

    // genuinely resumed: the kill landed before the full drain
    assert(afterKill < 3,
      s"kill landed after the full drain ($afterKill survivors) — test proved nothing")

    // a third run over the drained checkpoint is a no-op end to end
    val q3 = Pipeline.runDedupIngest(spark, flat, wh, ckpt)
    q3.awaitTermination(120000)
    assert(admitted() == 3L, "a drained checkpoint re-run must admit nothing")
  }

  test("a small multi-file batch lands one survivors delta file and logs exact counts") {
    val base = tempDir("graft-dedup-onefile")
    val flat = base.resolve("docs").toString
    val wh = base.resolve("wh").toString
    new java.io.File(flat).mkdirs()
    // one batch of three files: doc 3 repeats doc 1's text (a
    // within-batch duplicate), docs 4 and 5 are NULL and '' text (one
    // content class), and enough distinct texts to fill every shuffle
    // partition
    val rows: Seq[(Long, String)] =
      Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"), (4L, null), (5L, "")) ++
        (10L until 22L).map(i => (i, s"text $i"))
    addDocFile(flat, base, "f0", rows.take(6))
    addDocFile(flat, base, "f1", rows.slice(6, 12))
    addDocFile(flat, base, "f2", rows.drop(12))
    val q = DedupIngest.start(spark, flat, wh, base.resolve("ckpt").toString,
      filesPerTrigger = 3)
    assert(q.awaitTermination(120000), "drain did not finish")

    val survivorsDir = new java.io.File(s"$wh/dedup_survivors")
    val deltas = survivorsDir.list().filter(n =>
      n.startsWith("delta-b0-") && n.endsWith(".parquet"))
    assert(deltas.length == 1,
      s"a ${rows.size}-row batch landed ${deltas.length} survivors files: ${deltas.toSeq}")
    assert(survivorsDir.list().count(n => n.startsWith("delta-") &&
      n.endsWith(".parquet")) == 1, "the drain ran more than one batch")

    val got = DedupIngest.survivors(spark, wh).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(got == Set(1L, 2L, 4L) ++ (10L until 22L),
      s"wrong winners: ${got.toSeq.sorted}")
    val log = DedupIngest.ingestLog(spark, wh)
      .select(col("batch_id"), col("n_in"), col("n_batch_dupes"),
        col("n_seen_before"), col("n_admitted"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(log == Seq((0L, rows.size.toLong, 2L, 0L, got.size.toLong)),
      s"log row diverged from the rows landed: $log")
  }
}
