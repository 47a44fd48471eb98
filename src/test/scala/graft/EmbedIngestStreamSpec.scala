package graft

import graft.streaming.EmbedIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pipeline.runEmbedIngest end to end: continuous embedding-cosine
  * near-dup ingest, KILLED mid-drain and resumed — one survivor per
  * cosine cluster, first arrival wins across batches, stored survivors
  * re-mask their full signatures for the corpus check, and the
  * admission log restates instead of duplicating. Mirrors
  * [[NearDupIngestStreamSpec]]'s scenario with geometry in place of
  * shingles; the MASK-WIDENING semantics (corpus crossing an
  * occupancy boundary) are gated cross-engine by
  * `embed_ingest_final_state`, which drains 250+ vectors per batch. */
class EmbedIngestStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Unit vector along `i` with an optional `eps` leak onto axis `j`:
    * cos(axis(i), axis(i, j, eps)) = 1/√(1+eps²) ≈ 0.995 ≥ 0.4 (a
    * near-dup); distinct axes are orthogonal (cos ≈ eps ≪ 0.4). At
    * ≤ 32 total vectors the occupancy mask is 0 bits — every vector in
    * one cell — so candidate generation is exhaustive and the spec
    * exercises pure cosine-threshold clustering. */
  private def vec(i: Int, j: Int = -1, eps: Float = 0f): Seq[Float] =
    Seq.tabulate(64)(d => if (d == i) 1f else if (d == j) eps else 0f)

  private def addVecFile(flat: String, base: java.nio.file.Path,
      name: String, rows: Seq[(Long, Seq[Float])]): Unit =
    StreamFiles.landOne(base, flat, name, rows.toDF("vec_id", "embedding"))

  test("kill mid-drain, resume: one survivor per cosine cluster, re-masked corpus check, log consistent") {
    val base = tempDir("graft-embed-stream")
    val flat = base.resolve("vecs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()

    // f0: vecs 11/12 are near-dups (ε-leaked copy — within-batch
    // cluster, lowest id 11 wins), vec 20 orthogonal.
    // f1: vec 1 is a near-dup of the ADMITTED 11 (arrives later, so it
    // drops despite 1 < 11 — first arrival wins, not lowest id);
    // vec 30 orthogonal.
    // f2: vec 40 = exact copy of 11 and vec 41 = near-dup of 30 (both
    // drop via the stored corpus), vec 42 brand new (admits).
    addVecFile(flat, base, "f0",
      Seq((12L, vec(0, 1, 0.1f)), (11L, vec(0)), (20L, vec(1))))
    addVecFile(flat, base, "f1", Seq((1L, vec(0, 2, 0.1f)), (30L, vec(2))))
    addVecFile(flat, base, "f2",
      Seq((40L, vec(0)), (41L, vec(2, 3, 0.1f)), (42L, vec(3))))

    // run 1: kill as soon as at least one batch admitted rows
    val q1 = Pipeline.runEmbedIngest(spark, flat, wh, ckpt)
    val survivorsDir = s"$wh/embed_survivors"
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
    val q2 = Pipeline.runEmbedIngest(spark, flat, wh, ckpt)
    q2.awaitTermination(120000)

    // one survivor per cosine cluster: 11 (beat 12 in-batch; 1 and 40
    // dropped by the corpus check), 20, 30 (41 dropped), 42
    val got = EmbedIngest.survivors(spark, wh)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(11L, 20L, 30L, 42L),
      s"survivors diverged (cluster split, or wrong winner): $got")

    // every survivor carries its full-width signature (the re-maskable
    // index IS the survivors table — no separate structure to drift)
    val sigs = EmbedIngest.survivors(spark, wh)
      .select(col("vec_id"), col("sig")).collect()
    assert(sigs.forall(r => !r.isNullAt(1)),
      "an admitted row is missing its stored signature")

    // log: f0 = 3 in / 1 batch-dupe / 2 admitted; f1 = 1 corpus-dupe +
    // 1 admitted; f2 = 2 corpus-dupes + 1 admitted. Batch 0 is always
    // exactly f0 (its offsets commit before the kill can land); if the
    // kill hit before f1's offsets were planned, the resumed
    // AvailableNow drain takes the remaining TWO files as one batch —
    // there vecs 1 and 40 are cosine-near each OTHER in-batch (cluster
    // winner 1, which then drops vs the stored 11) and 41 clusters
    // with the co-arriving 30: 5 in, 2 batch dupes {40, 41}, 1 corpus
    // dupe {1}, 2 admitted {30, 42} — faithful to that batching.
    val log = EmbedIngest.ingestLog(spark, wh)
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
    val q3 = Pipeline.runEmbedIngest(spark, flat, wh, ckpt)
    q3.awaitTermination(120000)
    assert(admitted() == 4L, "a drained checkpoint re-run must admit nothing")
  }

  test("same-batch vec_id reuse: keep-latest collapse counted as a batch dupe, not a corpus dupe") {
    val base = tempDir("graft-embed-iddup")
    val flat = base.resolve("vecs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()

    // ONE batch carrying vec_id 5 twice with ORTHOGONAL vectors (no
    // cosine edge, so the only collapse is the id dedup) plus an
    // unrelated vec 7. The later arrival's vector must win
    // (UpsertWriter's tie rule) and the collapse must land in
    // n_batch_dupes, not as a phantom corpus dupe.
    addVecFile(flat, base, "f0",
      Seq((5L, vec(0)), (5L, vec(1)), (7L, vec(2))))
    val q = Pipeline.runEmbedIngest(spark, flat, wh, ckpt)
    q.awaitTermination(120000)

    val surv = EmbedIngest.survivors(spark, wh)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(surv.keySet == Set(5L, 7L), s"survivors: ${surv.keySet}")
    assert(surv(5L) == vec(1),
      "vec_id reuse in one batch must keep the LATER row's vector")

    val log = EmbedIngest.ingestLog(spark, wh)
      .select(col("n_in"), col("n_batch_dupes"), col("n_corpus_dupes"),
        col("n_admitted"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(log.toSeq == Seq((3L, 1L, 0L, 2L)),
      s"id-collapse misattributed in the log: ${log.toSeq}")
  }

  test("serving lookup: nearDuplicates finds stored near-dups, misses orthogonals, and is empty pre-commit") {
    val base = tempDir("graft-embed-lookup")
    val flat = base.resolve("vecs").toString
    val wh = base.resolve("wh").toString
    new java.io.File(flat).mkdirs()
    addVecFile(flat, base, "f0",
      Seq((1L, vec(0)), (2L, vec(1)), (3L, vec(2))))
    val qs = Seq((100L, vec(0, 5, 0.1f)), (200L, vec(9)))
      .toDF("query_id", "embedding")

    // pre-commit: an empty warehouse answers empty, not an error
    assert(EmbedIngest.nearDuplicates(spark, wh, qs).isEmpty,
      "lookup against an un-committed warehouse must be empty")

    val q = Pipeline.runEmbedIngest(spark, flat, wh,
      base.resolve("ckpt").toString)
    q.awaitTermination(120000)

    val hits = EmbedIngest.nearDuplicates(spark, wh, qs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.map(h => (h._1, h._2)).toSet == Set((100L, 1L)),
      s"expected exactly the perturbed copy's source, got ${hits.toSeq}")
    assert(hits.head._3 >= 0.4 && hits.head._3 <= 1.0)

    // single-probe results are a subset of the multiprobe ring
    val single = EmbedIngest
      .nearDuplicates(spark, wh, qs, multiprobe = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(hits.map(h => (h._1, h._2)).toSet))
  }

  test("occupancy mask boundaries: the value form follows the 2^b·occ >= n rule exactly") {
    import graft.operators.DedupOps.cellMaskFor
    assert(cellMaskFor(0) == 0L)
    assert(cellMaskFor(32) == 0L,   "n = occ must still fit one cell")
    assert(cellMaskFor(33) == 1L,   "first row past occ must split to 2 cells")
    assert(cellMaskFor(500) == 15L, "sf0.001 fixture width (4 bits)")
    assert(cellMaskFor(2000) == 63L, "sf0.1 fixture width (6 bits)")
    assert(cellMaskFor(Long.MaxValue) == (1L << 16) - 1,
      "width is capped at CellMaxBits")
  }

  test("occupancy mask property: coverage and minimality at every corpus size") {
    import graft.operators.DedupOps.cellMaskFor
    // 2^b · 32 ≥ n (expected occupancy ≤ target) and b is the SMALLEST
    // such width (halving the cells would overshoot the target) — for
    // every n below the 16-bit cap, exhaustively around every
    // power-of-two boundary and sampled between
    val cap = 32L * (1L << 16)
    val boundary = (0 to 16).flatMap(b =>
      Seq(32L * (1L << b) - 1, 32L * (1L << b), 32L * (1L << b) + 1))
    val sampled = 1L to cap by 4099L
    for (n <- (boundary ++ sampled).filter(x => x >= 1 && x <= cap)) {
      val cells = cellMaskFor(n) + 1 // 2^b
      assert(cells * 32 >= n, s"occupancy overshoot at n=$n: $cells cells")
      assert(cells == 1 || (cells / 2) * 32 < n,
        s"mask not minimal at n=$n: ${cells / 2} cells would have sufficed")
    }
  }
}
