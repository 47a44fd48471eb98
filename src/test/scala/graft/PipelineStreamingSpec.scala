package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pipeline.runStreaming end to end: the T4 queue-worker contract under a
  * KILLED-and-resumed query — exactly-once state through the checkpoint +
  * idempotent-upsert pair, with the dim enrichment applied per batch. */
class PipelineStreamingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def addTaskFile(flat: String, base: java.nio.file.Path,
      name: String, rows: Seq[(Long, String)]): Unit =
    StreamFiles.landOne(base, flat, name, rows.toDF("task_id", "payload"))

  test("kill mid-drain, resume on the same checkpoint: every task acked exactly once, enriched") {
    val base = tempDir("graft-pipe-stream")
    val flat = base.resolve("queue").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()

    // eight single-task files → eight micro-batches at filesPerTrigger=1;
    // task_ids are real part keys so the dim enrichment joins non-null
    val partKeys = Tables.part(spark, sf).select(col("p_partkey"))
      .orderBy(col("p_partkey")).limit(8).as[Long].collect()
    partKeys.zipWithIndex.foreach { case (k, i) =>
      addTaskFile(flat, base, s"t$i", Seq((k, s"payload-$i")))
    }

    // run 1: kill as soon as at least one batch committed state
    val q1 = Pipeline.runStreaming(spark, sf, flat, wh, ckpt)
    val stateDir = s"$wh/queue_state"
    val deadline = System.currentTimeMillis() + 120000
    def committedRows(): Long =
      if (!Files.exists(java.nio.file.Paths.get(stateDir, "_SUCCESS"))) 0L
      else spark.read.parquet(stateDir).count()
    while (committedRows() < 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q1.stop()
    q1.awaitTermination(60000)
    val afterKill = committedRows()
    assert(afterKill >= 1, "run 1 never committed a batch")

    // run 2: resume on the SAME checkpoint, drain to completion
    val q2 = Pipeline.runStreaming(spark, sf, flat, wh, ckpt)
    q2.awaitTermination(120000)

    val state = spark.read.parquet(stateDir)
    val rows = state.select(col("task_id"), col("p_name"), col("status"))
      .as[(Long, String, String)].collect()
    // exactly once: every task present, no duplicates even though the
    // resumed query may replay the in-flight batch (same batch_id →
    // the upsert restates, never appends)
    assert(rows.map(_._1).toSet == partKeys.toSet, "missing tasks after resume")
    assert(rows.length == partKeys.length,
      s"duplicate acks: ${rows.length} rows for ${partKeys.length} tasks")
    // the per-batch dim enrichment ran: real part keys joined a name
    assert(rows.forall(r => r._2 != null && r._2.nonEmpty))
    assert(rows.forall(_._3 == "concluido"))
    // genuinely resumed: run 1 did not finish the queue (rate limit 1
    // file per trigger + the kill landed mid-drain)
    assert(afterKill < partKeys.length,
      s"kill landed after the full drain ($afterKill rows) — test proved nothing")
  }

  test("20+ orchestrated ANN cycles: the replay sidecar stays bounded through the production maintenance path") {
    // r14 verdict #1: pruneFoldedTags/replayHorizon existed but only a
    // probe tool passed a horizon — the call-sites users actually
    // schedule never pruned, so a long-lived deployment grew the
    // folded-tags sidecar forever. This drives the ORCHESTRATED path
    // (Pipeline.runAnnIngestCycle) across 21 drain+maintenance cycles
    // with a bucket target small enough that re-buckets genuinely fire
    // and fold delta tags, and asserts the worker's own checkpoint
    // horizon keeps the sidecar EMPTY after every cycle — plus one
    // horizon-less manual compact mid-run to prove the sidecar would
    // hold tags (non-vacuous) and that the next orchestrated cycle
    // prunes exactly that residue.
    import graft.sinks.UpsertWriter
    val base = tempDir("graft-ann-cycles")
    val flat = base.resolve("vecs").toString
    val wh = base.resolve("wh").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()
    val idxDir = s"$wh/ann_index"

    // balanced 4-axis batches of FRESH vec_ids: every batch is a pure
    // insert (delta appends), cell shares stay at 1/4 so the drift
    // refit never fires and the maintenance under test is the
    // rebucket + metadata prune
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => if (d == i % 4) 1f else 0f)
    var rebuckets = 0
    var manualResidue = 0
    val cycles = 21
    (0 until cycles).foreach { c =>
      StreamFiles.landOne(base, flat, s"b$c",
        (0 until 8).map(i => (c * 100L + i, vec(i), i % 4))
          .toDF("vec_id", "embedding", "label"))
      val before = UpsertWriter.pinnedBuckets(idxDir)
      Pipeline.runAnnIngestCycle(spark, flat, wh, ckpt,
        rebucketTargetBytes = 16L << 10, // small: force real re-buckets
        stateBuckets = Some(2))
      if (UpsertWriter.pinnedBuckets(idxDir) != before) rebuckets += 1
      assert(UpsertWriter.foldedTags(idxDir).isEmpty,
        s"cycle $c: sidecar grew through the orchestrated path " +
          s"(${UpsertWriter.foldedTags(idxDir)})")
      if (c == 12) {
        // a horizon-LESS maintenance pass (what a user's ad-hoc compact
        // does) records folded tags and cannot prune them…
        UpsertWriter.compact(spark, idxDir)
        manualResidue = UpsertWriter.foldedTags(idxDir).size
        assert(manualResidue > 0,
          "mid-run compact folded nothing — the bound assertion is vacuous")
      }
    }
    assert(rebuckets >= 2,
      s"only $rebuckets re-buckets fired in $cycles cycles — the fold " +
        "machinery was never exercised")
    // …and the NEXT orchestrated cycle pruned that manual residue too
    // (checked by the per-cycle empty assertion above); final content
    // is every landed vector exactly once
    val got = spark.read.parquet(idxDir)
    assert(got.count() == cycles * 8L, s"rows ${got.count()}")
    assert(got.select(col("vec_id")).distinct().count() == cycles * 8L)
  }
}
