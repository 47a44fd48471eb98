package graft

import graft.operators.AnnOps
import graft.streaming.AnnIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pipeline.runAnnIngest end to end: continuous IVF index maintenance,
  * KILLED mid-drain and resumed — every vector indexed exactly once,
  * the quantizer frozen at the first batch, and full-probe search
  * EXACTLY equal to brute-force cosine top-k (probing every cell is
  * exhaustive search, so the equivalence is an equality, not a recall
  * bound). */
class AnnIngestStreamSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  // 8 clusters on axes e0..e7 (training home) and the same labels
  // relocated to axes e8..e15 (the drifted batch): near-zero cosine to
  // every frozen centroid, the shared +0.01*e0 bias making cell 0 the
  // deterministic argmax — shared by the refit tests below.
  private def vec(axis: Int): Array[Float] = {
    val v = Array.fill(64)(0.0f)
    v(axis) = 1.0f
    v(0) += 0.01f
    v
  }
  private def trainedRows = for (l <- 0 until 8; i <- 0 until 20)
    yield ((l * 20 + i).toLong, vec(l), l)
  private def driftedRows = for (l <- 0 until 8; i <- 0 until 20)
    yield ((1000 + l * 20 + i).toLong, vec(l + 8), l)

  test("kill mid-drain, resume: index exactly-once, full-probe search = brute force") {
    val base = tempDir("graft-ann-stream")
    val flat = base.resolve("vecs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()

    // the sf0.001 embeddings fixture, landed as 3 files (batches)
    val all = Tables.embeddings(spark, TestSpark.sf0001)
    val n = all.count()
    for (b <- 0 until 3)
      StreamFiles.landOne(base, flat, s"f$b",
        all.filter(pmod(col("vec_id"), lit(3)) === b))

    val q1 = Pipeline.runAnnIngest(spark, flat, wh, ckpt)
    val indexDir = s"$wh/ann_index"
    val deadline = System.currentTimeMillis() + 120000
    def indexed(): Long =
      if (!Files.exists(java.nio.file.Paths.get(indexDir, "_SUCCESS"))) 0L
      else spark.read.parquet(indexDir).count()
    while (indexed() < 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q1.stop()
    q1.awaitTermination(60000)
    val afterKill = indexed()
    assert(afterKill >= 1, "run 1 never indexed a row")

    val q2 = Pipeline.runAnnIngest(spark, flat, wh, ckpt)
    q2.awaitTermination(120000)

    // exactly-once: every vector indexed once, none duplicated
    val idx = AnnIngest.index(spark, wh)
    assert(idx.count() == n, s"index rows ${idx.count()} != $n vectors")
    assert(idx.select(col("vec_id")).distinct().count() == n,
      "duplicate vec_ids in the index after resume")

    // full-probe search == brute-force exact top-5 (8 label cells)
    val queries = AnnOps.withNorm(all.filter(col("vec_id") < 4))
    val got = AnnIngest.search(spark, wh, queries, k = 5, nprobe = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val corpus = AnnOps.withNorm(all)
    val brute = queries.select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("norm").as("qn"))
      .crossJoin(corpus)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (AnnOps.dot(col("qv"), col("v")) / (col("qn") * col("norm"))).as("cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute,
      s"full-probe search diverged from brute force: ${got.diff(brute)} vs ${brute.diff(got)}")

    // the kill genuinely interrupted the drain
    assert(afterKill < n,
      s"kill landed after the full drain ($afterKill rows) — test proved nothing")

    // a drained checkpoint re-run is a no-op
    val q3 = Pipeline.runAnnIngest(spark, flat, wh, ckpt)
    q3.awaitTermination(120000)
    assert(indexed() == n, "a drained checkpoint re-run must change nothing")
  }

  test("drifting stream: the log's cell_max_share rises when a batch concentrates into few cells") {
    val base = tempDir("graft-ann-drift")
    val flat = base.resolve("vecs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()

    val all = Tables.embeddings(spark, TestSpark.sf0001)

    // batch 0: the full balanced fixture — trains the quantizer, and
    // its assignments spread across the label cells
    StreamFiles.landOne(base, flat, "b0", all)
    val q1 = Pipeline.runAnnIngest(spark, flat, wh, ckpt)
    q1.awaitTermination(120000)

    // batch 1: a DRIFTED stream — every vector from one label cluster
    // (fresh vec_ids so the upsert appends instead of restating) —
    // nearest-centroid assignment concentrates it into ~one cell
    StreamFiles.landOne(base, flat, "b1",
      all.filter(col("label") === 0)
        .withColumn("vec_id", col("vec_id") + lit(1000000L)))
    val q2 = Pipeline.runAnnIngest(spark, flat, wh, ckpt)
    q2.awaitTermination(120000)

    val log = AnnIngest.ingestLog(spark, wh)
      .select(col("batch_id"), col("cell_max_share"), col("n_indexed"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(log.keySet == Set(0L, 1L), s"expected batches 0 and 1, got ${log.keySet}")
    val (balancedShare, n0) = log(0L)
    val (driftedShare, n1) = log(1L)
    assert(n0 > 0 && n1 > 0)
    // balanced ingest spreads over the 8 label cells (share well under
    // half); the drifted batch concentrates (share near 1) — the signal
    // a retrain policy reads from the log
    assert(balancedShare < 0.5,
      s"balanced batch unexpectedly concentrated: $balancedShare")
    assert(driftedShare > balancedShare * 1.5,
      s"drift signal failed to rise: balanced=$balancedShare drifted=$driftedShare")
  }

  test("refitIfDrifted: the drifted index rebalances, a 1-cell probe stays exact, and the policy won't loop") {
    val base = tempDir("graft-ann-refit")
    val flat = base.resolve("vecs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()
    import spark.implicits._

    // Batch 0 trains on the e0..e7 clusters; the drifted batch piles
    // into one cell (the hot-cell drift a probe pays for). After refit
    // the per-label mean spans both homes ((eL+e(L+8))/2), and
    // nearest-centroid separates every vector back to its label cell:
    // balance restored without ever consulting the labels.
    val trained = trainedRows
    val drifted = driftedRows
    val toDf = (rows: Seq[(Long, Array[Float], Int)]) =>
      rows.toDF("vec_id", "embedding", "label")

    StreamFiles.landOne(base, flat, "b0", toDf(trained))
    Pipeline.runAnnIngest(spark, flat, wh, ckpt).awaitTermination(120000)
    StreamFiles.landOne(base, flat, "b1", toDf(drifted))
    Pipeline.runAnnIngest(spark, flat, wh, ckpt).awaitTermination(120000)

    // the drifted batch concentrated into one frozen cell
    val b1Share = AnnIngest.ingestLog(spark, wh)
      .filter(col("batch_id") === 1L)
      .select(col("cell_max_share")).head().getDouble(0)
    assert(b1Share > 0.9, s"drifted batch failed to concentrate: $b1Share")

    // the policy reads the serving index's imbalance and refreshes
    val rep = AnnIngest.refitIfDrifted(spark, wh, threshold = 0.5)
    assert(rep.nonEmpty, "imbalanced index did not trigger a refit")
    val r = rep.get
    assert(r.nVectors == 320L, s"refit saw ${r.nVectors} vectors")
    assert(r.preMaxShare > 0.5, s"pre share ${r.preMaxShare}")
    // exactly the 7 relocated non-label-0 clusters go home
    assert(r.nMoved == 140L, s"moved ${r.nMoved} vectors")
    assert(r.postMaxShare < 0.2, s"post share ${r.postMaxShare}")

    // post-refit a SINGLE-cell probe is exact for a drifted query
    val all = AnnOps.withNorm(toDf(trained ++ drifted))
    val q = all.filter(col("vec_id") === 1000L)
    val got = AnnIngest.search(spark, wh, q, k = 5, nprobe = 1)
      .select(col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = q.select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("norm").as("qn"))
      .crossJoin(all)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("vec_id").as("neighbor_id"),
        (AnnOps.dot(col("qv"), col("v")) / (col("qn") * col("norm"))).as("cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"1-cell probe diverged post-refit: ${got.diff(brute)} vs ${brute.diff(got)}")

    // won't loop: balanced now (threshold path), and even a threshold
    // below the balanced share hits the already-refit-at-this-state
    // guard instead of rewriting the index again
    assert(AnnIngest.refitIfDrifted(spark, wh, threshold = 0.5).isEmpty)
    assert(AnnIngest.refitIfDrifted(spark, wh, threshold = 0.1).isEmpty,
      "policy re-ran a refit at an index state it already refit")
    assert(AnnIngest.refitLog(spark, wh).count() == 1L)
  }

  test("runAnnIngestCycle: scheduled drain+maintenance — healthy cycle audits only, drifted cycle refits, manual re-refit appends history") {
    val base = tempDir("graft-ann-cycle")
    val flat = base.resolve("vecs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()
    import spark.implicits._
    val toDf = (rows: Seq[(Long, Array[Float], Int)]) =>
      rows.toDF("vec_id", "embedding", "label")

    // cycle 1: balanced training batch — the policy audits and declines
    StreamFiles.landOne(base, flat, "b0", toDf(trainedRows))
    assert(Pipeline.runAnnIngestCycle(spark, flat, wh, ckpt).isEmpty,
      "healthy cycle fired a refit")

    // cycle 2: the drifted batch lands; the SAME scheduled entry drains
    // it and the maintenance window refit fires inside the cycle
    StreamFiles.landOne(base, flat, "b1", toDf(driftedRows))
    val rep = Pipeline.runAnnIngestCycle(spark, flat, wh, ckpt)
    assert(rep.nonEmpty, "drifted cycle did not refit")
    assert(rep.get.nMoved == 140L, s"moved ${rep.get.nMoved}")
    assert(rep.get.postMaxShare < 0.2, s"post ${rep.get.postMaxShare}")

    // cycle 3: nothing new — drain is a no-op, index balanced, no refit
    assert(Pipeline.runAnnIngestCycle(spark, flat, wh, ckpt).isEmpty,
      "idle cycle refit an unchanged index")
    assert(AnnIngest.refitLog(spark, wh).count() == 1L)

    // a MANUAL refit at the same high-water state is a recorded no-op:
    // it appends under the next refit_seq instead of replacing the
    // policy run's row (visible history, round-7 advice nit)
    val manual = AnnIngest.refit(spark, wh)
    assert(manual.nMoved == 0L, "idempotent re-refit moved vectors")
    val log = AnnIngest.refitLog(spark, wh)
      .select(col("as_of_batch"), col("refit_seq"), col("n_moved"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(log.map(_._2) == Set(0L, 1L),
      s"expected refit_seq 0 and 1 at one high-water batch, got $log")
    assert(log.count(_._3 == 0L) == 1, s"manual no-op not recorded: $log")
  }
}
