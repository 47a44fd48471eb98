package graft

import graft.sinks.{TableLease, UpsertWriter}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The checked single-writer/maintenance-window contract
  * ([[graft.sinks.TableLease]]): maintenance refuses while a drain
  * window is open, writers refuse while a foreign maintenance window is
  * open, a lock file no process holds wedges nothing, and — the one
  * hazard no lease can see — a replayed append whose delta files a
  * compaction already folded is a no-op, never a duplicate. Windows
  * held by another process: [[LeaseCrossProcessSpec]]. */
class TableLeaseSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-lease").resolve("t").toString

  private def mkTable(path: String): Unit =
    UpsertWriter.appendBucketed(spark, path,
      (1L to 16L).map(i => (i, s"v$i", 0L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b0", numBuckets = 4)

  test("compact during an open drain window is refused; after the window closes it runs") {
    val path = tmp(); mkTable(path)
    val filesBefore = Files.list(Paths.get(path)).count()
    TableLease.acquire(path, TableLease.Drain, "test-drain")
    val e = intercept[IllegalStateException] {
      UpsertWriter.compact(spark, path)
    }
    assert(e.getMessage.contains("Drain lease is held"))
    assert(Files.list(Paths.get(path)).count() == filesBefore,
      "a refused compact must not mutate the table")
    TableLease.release(path, TableLease.Drain, "test-drain")
    UpsertWriter.compact(spark, path) // window closed: runs clean
    assert(spark.read.parquet(path).count() == 16)
  }

  test("a crashed drain holder's lock file does not wedge the table: maintenance proceeds") {
    val path = tmp(); mkTable(path)
    // the lock file a crashed holder leaves behind: present, naming its
    // holder, held by no process (the kernel dropped the lock on exit)
    Files.write(Paths.get(path + ".__drain-lease"), "dead-drain".getBytes("UTF-8"))
    UpsertWriter.compact(spark, path) // grants nothing, refuses nothing
    assert(spark.read.parquet(path).count() == 16)
  }

  test("a worker merge during an open maintenance window is refused; the pass's own writes pass") {
    val path = tmp(); mkTable(path)
    TableLease.acquire(path, TableLease.Maintenance, "test-maint")
    val e = intercept[IllegalStateException] {
      UpsertWriter.upsertBucketed(spark, path,
        Seq((1L, "RACE", 9L)).toDF("id", "v", "ver"),
        keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    }
    assert(e.getMessage.contains("maintenance window is open"))
    val e2 = intercept[IllegalStateException] {
      UpsertWriter.appendBucketed(spark, path,
        Seq((99L, "RACE", 9L)).toDF("id", "v", "ver"),
        keys = Seq("id"), batchTag = "race", numBuckets = 4)
    }
    assert(e2.getMessage.contains("maintenance window is open"))
    TableLease.release(path, TableLease.Maintenance, "test-maint")
    // compact holds its own maintenance lease and its internal rewrite
    // passes its own gate (thread-local ownership)
    UpsertWriter.compact(spark, path)
    assert(spark.read.parquet(path)
      .filter($"v" === "RACE").count() == 0, "refused writes must not land")
  }

  test("a second maintenance holder is refused; an unreadable lock file no process holds refuses nothing") {
    val path = tmp(); mkTable(path)
    TableLease.acquire(path, TableLease.Maintenance, "holder-a")
    intercept[IllegalStateException] {
      TableLease.acquire(path, TableLease.Maintenance, "holder-b")
    }
    // same holder: a no-op
    TableLease.acquire(path, TableLease.Maintenance, "holder-a")
    TableLease.release(path, TableLease.Maintenance, "holder-a")
    // garbage content in an unheld lock file: the lock, not the
    // content, decides
    Files.write(Paths.get(path + ".__drain-lease"),
      "not a lease".getBytes("UTF-8"))
    UpsertWriter.compact(spark, path)
  }

  test("withDrain releases on exception; withMaintenance nests its own writes") {
    val path = tmp(); mkTable(path)
    intercept[RuntimeException] {
      TableLease.withDrain(Seq(path), "d1") { throw new RuntimeException("boom") }
    }
    UpsertWriter.compact(spark, path) // lease released despite the throw
  }

  test("a refused multi-table window rolls back the leases it already took") {
    val p1 = tmp(); mkTable(p1)
    val p2 = tmp(); mkTable(p2)
    // a drain holds table 2 — a maintenance window over (p1, p2) must
    // be refused AND must not leave a maintenance lease behind on p1
    TableLease.acquire(p2, TableLease.Drain, "drain-2")
    intercept[IllegalStateException] {
      TableLease.withMaintenance(Seq(p1, p2), "maint") { fail("must not run") }
    }
    // p1 must be writable immediately, not wedged until a TTL steal
    UpsertWriter.appendBucketed(spark, p1,
      Seq((99L, "ok", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b9", numBuckets = 4)
    assert(spark.read.parquet(p1).count() == 17)
    TableLease.release(p2, TableLease.Drain, "drain-2")
  }

  test("two concurrent acquirers: exactly one wins, the loser is refused") {
    val path = tmp(); mkTable(path)
    for (round <- 1 to 25) {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val winners = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val threads = Seq("acq-a", "acq-b").map { h =>
        new Thread(() => {
          barrier.await()
          try {
            TableLease.acquire(path, TableLease.Maintenance, h)
            winners.add(h); ()
          } catch { case _: IllegalStateException => () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(winners.size == 1,
        s"round $round: expected exactly one winner, got $winners")
      TableLease.release(path, TableLease.Maintenance, winners.peek())
    }
    // the loser left nothing held
    TableLease.withDrain(Seq(path), "after") { () }
  }

  test("cross-kind simultaneous acquire: never both windows open") {
    // Each acquirer locks its own kind's file before probing the other
    // kind's, so at least one side sees the other and backs out; both
    // backing out is safe. A backed-out acquirer holds nothing after.
    val path = tmp(); mkTable(path)
    val holders = Map[TableLease.Kind, String](
      TableLease.Drain -> "drain-x", TableLease.Maintenance -> "maint-x")
    for (round <- 1 to 25) {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val won = new java.util.concurrent.ConcurrentLinkedQueue[TableLease.Kind]
      val threads = holders.toSeq.map { case (k, h) =>
        new Thread(() => {
          barrier.await()
          try {
            TableLease.acquire(path, k, h)
            won.add(k); ()
          } catch { case _: IllegalStateException => () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(won.size <= 1, s"round $round: both windows held ($won)")
      won.forEach { k =>
        // the winner's window is really held: the other kind refuses
        holders.keys.filter(_ != k).foreach { other =>
          intercept[IllegalStateException] {
            TableLease.acquire(path, other, "observer")
          }
        }
        TableLease.release(path, k, holders(k))
      }
      // whatever backed out holds nothing: each kind opens
      TableLease.withDrain(Seq(path), "observer") { () }
      TableLease.withMaintenance(Seq(path), "observer") { () }
    }
  }

  test("truncate forgets folded tags: a post-reset ingest reusing a tag is not skipped") {
    val path = tmp()
    UpsertWriter.append(spark, path,
      Seq((1L, "a", 0L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b0")
    UpsertWriter.compact(spark, path) // folds tag b0
    assert(UpsertWriter.foldedTags(path) == Set("b0"))
    UpsertWriter.truncate(spark, path) // explicit content reset
    UpsertWriter.append(spark, path,   // fresh checkpoint restarts at b0
      Seq((2L, "b", 0L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b0")
    assert(spark.read.parquet(path)
      .select($"id").as[Long].collect().toSet == Set(2L),
      "a reused tag after truncate must append, not be skipped as folded")
  }

  test("a replayed append whose deltas a full-table MERGE subsumed is a no-op, never a duplicate") {
    // the refit-shaped hazard: batch b1 appends and crashes before its
    // checkpoint commits; a maintenance rewrite (here: a keyed merge
    // updating every key — every bucket touched, like AnnIngest.refit)
    // subsumes b1's delta files; the drain restarts and replays b1.
    // Without the merge recording the folded tags, the replay would
    // re-append every row the rewrite already merged.
    val path = tmp(); mkTable(path)
    UpsertWriter.appendBucketed(spark, path,
      (17L to 24L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b1", numBuckets = 4) // crashed batch
    // full rewrite: every key updated, every bucket touched
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 24L).map(i => (i, s"R$i", 9L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    assert(UpsertWriter.foldedTags(path).contains("b1"),
      "the merge must record the delta tags its swap subsumed")
    // the drain restarts: b1 replays with its ORIGINAL content
    UpsertWriter.appendBucketed(spark, path,
      (17L to 24L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b1", numBuckets = 4)
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect()
    assert(state.length == 24,
      s"replay after a subsuming merge duplicated rows: ${state.length}")
    assert(state.toMap == (1L to 24L).map(i => i -> s"R$i").toMap,
      "the merged content must win — the replayed stale append is a no-op")
  }

  test("a replayed append whose tag a compaction folded is a no-op, never a duplicate") {
    val path = tmp(); mkTable(path)
    def b1(): Unit = UpsertWriter.appendBucketed(spark, path,
      (17L to 24L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b1", numBuckets = 4)
    b1() // the batch lands… (checkpoint never commits)
    assert(spark.read.parquet(path).count() == 24)
    UpsertWriter.compact(spark, path) // maintenance folds the deltas
    assert(UpsertWriter.foldedTags(path) == Set("b0", "b1"))
    b1() // …the drain restarts and replays the batch
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect()
    assert(state.length == 24,
      s"replay after compaction duplicated rows: ${state.length}")
    assert(state.toMap == (1L to 24L).map(i => i -> s"v$i").toMap)
    // a genuinely NEW batch still appends normally
    UpsertWriter.appendBucketed(spark, path,
      Seq((25L, "v25", 2L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b2", numBuckets = 4)
    assert(spark.read.parquet(path).count() == 25)
  }

  test("release is holder-verified: a thief's fresh lease survives the old holder's release") {
    val path = tmp()
    TableLease.acquire(path, TableLease.Drain, "thief")
    TableLease.release(path, TableLease.Drain, "old-holder") // no-op
    val e = intercept[IllegalStateException] {
      TableLease.acquire(path, TableLease.Drain, "other")
    }
    assert(e.getMessage.contains("thief"), "release freed a foreign window")
    TableLease.release(path, TableLease.Drain, "thief")
    TableLease.acquire(path, TableLease.Drain, "other") // owner's release freed it
    TableLease.release(path, TableLease.Drain, "other")
    TableLease.release(path, TableLease.Drain, "other") // not held: no-op
  }
}
