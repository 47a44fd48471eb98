package graft

import graft.streaming.QueueWorker
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** T4: the queue micro-batch worker as Structured Streaming — rate-limited
  * claims (maxFilesPerTrigger=1 ⇒ one task file per micro-batch), enrich,
  * idempotent ack into the K1 upsert state table. */
class QueueWorkerSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("drains the queue in rate-limited batches and acks exactly-once") {
    val base = tempDir("graft-queue")
    val queueDir = base.resolve("queue").toString
    val stateDir = base.resolve("state").toString
    val ckptDir  = base.resolve("ckpt").toString

    // three task "files" → with maxFilesPerTrigger=1, three micro-batches
    Seq((1L, "p1")).toDF("task_id", "payload").write.parquet(s"$queueDir/f1")
    Seq((2L, "p2")).toDF("task_id", "payload").write.parquet(s"$queueDir/f2")
    Seq((3L, "p3"), (1L, "p1-dup")).toDF("task_id", "payload")
      .write.parquet(s"$queueDir/f3")
    // single flat dir for the file source
    val flat = base.resolve("flat").toString
    new java.io.File(flat).mkdirs()
    // explicit, strictly increasing mtimes: FileStreamSource orders new
    // files by modification time, and copies landing in the same mtime
    // tick would make the f1→f3 batch order (and the last-write-wins
    // assertion) flaky
    val t0 = System.currentTimeMillis() - 60000
    for ((f, fi) <- Seq("f1", "f2", "f3").zipWithIndex) {
      val src = new java.io.File(s"$queueDir/$f")
      src.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (p, i) =>
          val dst = new java.io.File(s"$flat/$f-$i.parquet")
          Files.copy(p.toPath, dst.toPath)
          dst.setLastModified(t0 + fi * 2000L)
      }
    }

    val q = QueueWorker.start(
      spark, flat, stateDir, ckptDir,
      keys = Seq("task_id"), versionCol = "batch_id",
      process = b => b.withColumn("payload", upper(col("payload"))),
      filesPerTrigger = 1)
    q.awaitTermination(120000)

    val state = spark.read.parquet(stateDir)
    val rows = state.select($"task_id", $"payload", $"status")
      .as[(Long, String, String)].collect().toSet
    // task 1 was re-delivered in a later batch → last write wins
    assert(rows.map(_._1) == Set(1L, 2L, 3L))
    assert(rows.forall(_._3 == "concluido"))
    assert(rows.contains((1L, "P1-DUP", "concluido")))
    // the rate limit actually split the work into multiple micro-batches
    val nBatches = state.select(countDistinct($"batch_id")).as[Long].head()
    assert(nBatches >= 2, s"expected multiple micro-batches, got $nBatches")
  }

  test("checkpoint resume: a restarted worker processes only new tasks") {
    val base = tempDir("graft-queue-resume")
    val flat = base.resolve("flat").toString
    val stateDir = base.resolve("state").toString
    val ckptDir = base.resolve("ckpt").toString
    new java.io.File(flat).mkdirs()

    def addFile(name: String, rows: Seq[(Long, String)]): Unit =
      StreamFiles.landOne(base, flat, name, rows.toDF("task_id", "payload"))

    // run 1: one task file, worker drains and stops (AvailableNow)
    addFile("t1", Seq((10L, "a")))
    val q1 = QueueWorker.start(spark, flat, stateDir, ckptDir,
      keys = Seq("task_id"), versionCol = "batch_id",
      process = identity, filesPerTrigger = 1)
    q1.awaitTermination(120000)
    val afterRun1 = spark.read.parquet(stateDir)
      .select($"task_id").as[Long].collect().toSet
    assert(afterRun1 == Set(10L))

    // "crash", new tasks arrive, worker restarts on the SAME checkpoint
    addFile("t2", Seq((11L, "b")))
    val q2 = QueueWorker.start(spark, flat, stateDir, ckptDir,
      keys = Seq("task_id"), versionCol = "batch_id",
      process = identity, filesPerTrigger = 1)
    q2.awaitTermination(120000)
    val state = spark.read.parquet(stateDir)
    val ids = state.select($"task_id").as[Long].collect().toSet
    assert(ids == Set(10L, 11L))
    // task 10 was NOT re-processed: its ack batch_id is from run 1 (0),
    // task 11's from the resumed numbering (>= 1)
    val byTask = state.select($"task_id", $"batch_id").as[(Long, Long)]
      .collect().toMap
    assert(byTask(10L) == 0L, "resume must not replay already-acked tasks")
    assert(byTask(11L) >= 1L)
  }
}
