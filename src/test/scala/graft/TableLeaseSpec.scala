package graft

import graft.sinks.{TableLease, UpsertWriter}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The checked single-writer/maintenance-window contract
  * ([[graft.sinks.TableLease]]): maintenance refuses while a drain
  * window is open, writers refuse while a foreign maintenance window is
  * open, a crashed lease holder recovers after the TTL, and — the one
  * hazard no lease can see — a replayed append whose delta files a
  * compaction already folded is a no-op, never a duplicate. */
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

  test("a crashed drain holder recovers: the stale lease is stolen, maintenance proceeds") {
    val path = tmp(); mkTable(path)
    // a lease written long ago — the holder crashed without releasing
    Files.write(Paths.get(path + ".__drain-lease"),
      s"dead-drain\n${System.currentTimeMillis() - 3600_000L}"
        .getBytes("UTF-8"))
    UpsertWriter.compact(spark, path) // stale: stolen, not wedged
    assert(spark.read.parquet(path).count() == 16)
    assert(!Files.exists(Paths.get(path + ".__drain-lease")),
      "the stale lease must be cleaned up")
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

  test("a second maintenance holder is refused; an unreadable lease is fresh, not stolen") {
    val path = tmp(); mkTable(path)
    TableLease.acquire(path, TableLease.Maintenance, "holder-a")
    intercept[IllegalStateException] {
      TableLease.acquire(path, TableLease.Maintenance, "holder-b")
    }
    // same holder refreshes without error
    TableLease.acquire(path, TableLease.Maintenance, "holder-a")
    TableLease.release(path, TableLease.Maintenance, "holder-a")
    // garbage lease content: treated as fresh (refuse, don't steal)
    Files.write(Paths.get(path + ".__drain-lease"),
      "not a lease".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      UpsertWriter.compact(spark, path)
    }
    Files.delete(Paths.get(path + ".__drain-lease"))
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

  test("two concurrent stealers of a stale lease: exactly one wins, the loser is refused") {
    // the pre-fix hazard: both stealers observe the stale lease, both
    // deleteIfExists + REPLACE_EXISTING — the slow loser deletes the
    // WINNER's fresh lease and overwrites it, opening two "exclusive"
    // windows at once. The tomb-rename + CREATE_NEW race pins exactly
    // one winner; repeated to give the race room to bite.
    val path = tmp(); mkTable(path)
    for (round <- 1 to 25) {
      Files.write(Paths.get(path + ".__maint-lease"),
        s"dead\n${System.currentTimeMillis() - 3600_000L}".getBytes("UTF-8"))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.atomic.AtomicInteger
      val threads = Seq("thief-a", "thief-b").map { h =>
        new Thread(() => {
          barrier.await()
          try {
            TableLease.acquire(path, TableLease.Maintenance, h)
            wins.incrementAndGet(); ()
          } catch { case _: IllegalStateException => () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get == 1,
        s"round $round: expected exactly one steal winner, got ${wins.get}")
      val holder = new String(Files.readAllBytes(
        Paths.get(path + ".__maint-lease")), "UTF-8").split("\n")(0)
      assert(Set("thief-a", "thief-b").contains(holder),
        s"round $round: the surviving lease must belong to the winner, got '$holder'")
      import scala.jdk.CollectionConverters._
      val parent = Paths.get(path).toAbsolutePath.getParent
      val list = Files.list(parent)
      val tombs = try list.iterator().asScala
        .filter(_.getFileName.toString.contains(".tomb-")).toList
      finally list.close()
      assert(tombs.isEmpty, s"round $round: tomb debris left behind: $tombs")
      Files.deleteIfExists(Paths.get(path + ".__maint-lease"))
    }
  }

  test("heartbeat: a drain outliving the TTL keeps its lease under per-write renewal") {
    val path = tmp(); mkTable(path)
    def leaseTs(): Long = Files.readAllLines(
      Paths.get(path + ".__drain-lease")).get(1).trim.toLong
    TableLease.withDrain(Seq(path), "slow-drain", ttlMs = 1000) {
      val t0 = leaseTs()
      Thread.sleep(1200) // the gap between batches outlives the TTL
      // what every UpsertWriter write calls at entry
      TableLease.renewIfDraining(path)
      assert(leaseTs() > t0, "renewal must refresh the lease timestamp")
      // a maintenance pass scheduled NOW is refused, not handed a steal
      val e = intercept[IllegalStateException] {
        TableLease.withMaintenance(Seq(path), "maint", ttlMs = 1000) {
          fail("maintenance must not run inside a renewed drain window")
        }
      }
      assert(e.getMessage.contains("Drain lease is held"))
      // and the real write path carries the heartbeat itself
      val t1 = leaseTs()
      UpsertWriter.appendBucketed(spark, path,
        Seq((30L, "hb", 1L)).toDF("id", "v", "ver"),
        keys = Seq("id"), batchTag = "hb1", numBuckets = 4)
      assert(leaseTs() > t1, "a state write inside the window must renew")
    }
    // window closed: maintenance proceeds
    TableLease.withMaintenance(Seq(path), "maint", ttlMs = 1000) { () }
  }

  // make a live lease file LOOK crashed: rewrite it with an old
  // timestamp (deterministic, unlike sleeping across a short TTL — the
  // old form of these tests raced the box clock and flaked when the
  // thief's own lease aged past the tiny TTL before the assertion ran)
  private def backdate(path: String, suffix: String, holder: String): Unit =
    Files.write(Paths.get(path + suffix),
      s"$holder\n${System.currentTimeMillis() - 3600_000L}".getBytes("UTF-8"))

  test("heartbeat after a steal fails loudly instead of resurrecting the window") {
    val path = tmp(); mkTable(path)
    TableLease.withDrain(Seq(path), "slow-drain") {
      // the drain wedges past the TTL; a scheduled maintenance steals
      backdate(path, ".__drain-lease", "slow-drain")
      TableLease.acquire(path, TableLease.Maintenance, "sneaky-maint")
      val e = intercept[IllegalStateException] {
        TableLease.renewIfDraining(path)
      }
      assert(e.getMessage.contains("Maintenance lease is held"),
        s"a stolen drain's renewal must refuse, got: ${e.getMessage}")
      TableLease.release(path, TableLease.Maintenance, "sneaky-maint")
    }
  }

  test("renewal after a SAME-kind steal refuses loudly, never a blind overwrite") {
    // the TTL-boundary hazard of the old REPLACE_EXISTING refresh: a
    // thief steals the boundary-stale drain lease and opens its own
    // drain window; the original holder's renewal must see the foreign
    // fresh lease and refuse — not overwrite it with both sides
    // believing they hold the window
    val path = tmp(); mkTable(path)
    TableLease.withDrain(Seq(path), "slow-drain") {
      backdate(path, ".__drain-lease", "slow-drain")
      TableLease.acquire(path, TableLease.Drain, "thief-drain")
      val e = intercept[IllegalStateException] {
        TableLease.renewIfDraining(path)
      }
      assert(e.getMessage.contains("thief-drain"),
        s"the renewal must surface the thief, got: ${e.getMessage}")
      val holder = Files.readAllLines(
        Paths.get(path + ".__drain-lease")).get(0).trim
      assert(holder == "thief-drain",
        "the refused renewal must leave the thief's lease intact")
      TableLease.release(path, TableLease.Drain, "thief-drain")
    }
  }

  test("maintenance heartbeat: a pass outliving the TTL keeps its window; a stolen one aborts before mutating") {
    val path = tmp(); mkTable(path)
    def leaseTs(): Long = Files.readAllLines(
      Paths.get(path + ".__maint-lease")).get(1).trim.toLong
    TableLease.withMaintenance(Seq(path), "slow-maint") {
      backdate(path, ".__maint-lease", "slow-maint")
      val t0 = leaseTs()
      TableLease.renewIfMaintaining(path) // what swapIn calls pre-rename
      assert(leaseTs() > t0, "renewal must refresh the maintenance lease")
      // a drain scheduled NOW is refused, not handed a steal
      intercept[IllegalStateException] {
        TableLease.acquire(path, TableLease.Drain, "racing-drain")
      }
    }
    // the symmetric steal: maintenance wedges past the TTL, a drain
    // takes the window — the pass's next mutation phase must abort
    TableLease.withMaintenance(Seq(path), "slow-maint") {
      backdate(path, ".__maint-lease", "slow-maint")
      TableLease.acquire(path, TableLease.Drain, "stealing-drain")
      val e = intercept[IllegalStateException] {
        TableLease.renewIfMaintaining(path)
      }
      assert(e.getMessage.contains("Drain lease is held"),
        s"a stolen maintenance pass must abort loudly, got: ${e.getMessage}")
      TableLease.release(path, TableLease.Drain, "stealing-drain")
    }
  }

  test("a stolen-then-RELEASED window aborts at the next renewal, never silently re-opens") {
    // the hazard no same/opposite-holder check can see: the thief is
    // already gone, so the lease file is simply ABSENT — acquire's
    // stale/None path would re-create it and the long pass would
    // resume over a table the thief legally mutated (for maintenance,
    // its pre-theft staged image would fold the thief's writes away)
    val path = tmp(); mkTable(path)
    TableLease.withMaintenance(Seq(path), "slow-maint") {
      backdate(path, ".__maint-lease", "slow-maint")
      TableLease.acquire(path, TableLease.Drain, "thief-drain")
      TableLease.release(path, TableLease.Drain, "thief-drain") // thief done
      val e = intercept[IllegalStateException] {
        TableLease.renewIfMaintaining(path)
      }
      assert(e.getMessage.contains("lease file is gone"),
        s"a released steal must abort the pass, got: ${e.getMessage}")
    }
    // drain twin
    TableLease.withDrain(Seq(path), "slow-drain") {
      backdate(path, ".__drain-lease", "slow-drain")
      TableLease.acquire(path, TableLease.Maintenance, "thief-maint")
      TableLease.release(path, TableLease.Maintenance, "thief-maint")
      val e = intercept[IllegalStateException] {
        TableLease.renewIfDraining(path)
      }
      assert(e.getMessage.contains("lease file is gone"),
        s"a released steal must abort the batch, got: ${e.getMessage}")
    }
  }

  test("cross-kind simultaneous acquire: never both windows open") {
    // the two-file TOCTOU: a Drain and a Maintenance acquirer can each
    // pass the other's entry gate before either creates. The post-win
    // double-check (re-read the opposite AFTER creating one's own)
    // guarantees at least one side backs out; both backing out is safe.
    val path = tmp(); mkTable(path)
    for (round <- 1 to 25) {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.atomic.AtomicInteger
      val threads = Seq(
        ("drain-x", TableLease.Drain: TableLease.Kind),
        ("maint-x", TableLease.Maintenance: TableLease.Kind)).map {
        case (h, k) =>
          new Thread(() => {
            barrier.await()
            try {
              TableLease.acquire(path, k, h)
              wins.incrementAndGet(); ()
            } catch { case _: IllegalStateException => () }
          })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get <= 1,
        s"round $round: both windows opened at once (${wins.get})")
      // whoever won (if anyone) holds the ONLY lease file
      val d = Files.exists(Paths.get(path + ".__drain-lease"))
      val m = Files.exists(Paths.get(path + ".__maint-lease"))
      assert(!(d && m), s"round $round: both lease files exist")
      Files.deleteIfExists(Paths.get(path + ".__drain-lease"))
      Files.deleteIfExists(Paths.get(path + ".__maint-lease"))
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

  // ── the live-window never-absent contract (r16): every exchange
  // mutates the lease file in place, so no gate read can ever land in
  // an absence gap — there is no gap ──

  test("a NEAR-BOUNDARY renewal never absents the lease file (in-place under the exchange lock)") {
    val path = tmp(); mkTable(path)
    val holder = "boundary-hb"
    TableLease.acquire(path, TableLease.Maintenance, holder)
    val lease = Paths.get(path + ".__maint-lease")
    val ttl = TableLease.DefaultTtlMs
    // watcher thread: observe the lease file's existence as hot as the
    // filesystem allows while the renewal loop runs — under the old
    // tomb exchange it was repeatedly absent for microseconds; under
    // the serialized in-place exchange it must NEVER be
    val watching = new java.util.concurrent.atomic.AtomicBoolean(true)
    val absences = new java.util.concurrent.atomic.AtomicLong
    val reads = new java.util.concurrent.atomic.AtomicLong
    val watcher = new Thread(() => {
      while (watching.get()) {
        reads.incrementAndGet()
        if (!Files.exists(lease)) absences.incrementAndGet()
      }
    })
    watcher.start()
    try (1 to 200).foreach { _ =>
      // inject a stored timestamp inside the last ttl/4 so the next
      // heartbeat takes the boundary branch (owner rewriting its own
      // payload is itself an atomic in-place replace)
      val tmpF = lease.resolveSibling(s"backdate-${System.nanoTime()}")
      Files.write(tmpF,
        s"$holder\n${System.currentTimeMillis() - (ttl - ttl / 8)}"
          .getBytes("UTF-8"))
      Files.move(tmpF, lease,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      TableLease.acquire(path, TableLease.Maintenance, holder)
    } finally {
      watching.set(false)
      watcher.join(10000)
      TableLease.release(path, TableLease.Maintenance, holder)
    }
    assert(reads.get() > 0, "the watcher thread never ran")
    assert(absences.get() == 0,
      s"the lease file was absent ${absences.get()}/${reads.get()} " +
        "observations during boundary renewals — the in-place exchange " +
        "contract was breached")
  }

  test("a crashed exchange lock is tomb-claimed once stale; a fresh one refuses loudly") {
    val path = tmp(); mkTable(path)
    val lease = Paths.get(path + ".__maint-lease")
    val xlock = Paths.get(path + ".__maint-lease.__xlock")
    // a STALE lease guarded by a STALE xlock (holder crashed inside
    // the µs critical section an eternity ago): the claim steals the
    // lock, verifies the lease stale under it, clears the field
    Files.write(lease,
      s"crashed-holder\n${System.currentTimeMillis() - 3600_000L}"
        .getBytes("UTF-8"))
    Files.write(xlock,
      s"xlock\n${System.currentTimeMillis() - 3600_000L}".getBytes("UTF-8"))
    TableLease.requireNoForeignMaintenance(path) // claims through both
    assert(!Files.exists(lease), "the stale lease was not claimed")
    // a FRESH xlock is a live exchange: the gate's stale-claim must
    // refuse loudly after its bounded wait, never block forever and
    // never bypass the serialization
    Files.write(lease,
      s"crashed-holder\n${System.currentTimeMillis() - 3600_000L}"
        .getBytes("UTF-8"))
    Files.write(xlock,
      s"xlock\n${System.currentTimeMillis()}".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      TableLease.requireNoForeignMaintenance(path)
    }
    assert(e.getMessage.contains("exchange lock"),
      s"unexpected refusal: ${e.getMessage}")
    Files.delete(xlock); Files.delete(lease)
  }

  test("writer gate never passes inside a maintenance heartbeat's renewal exchange") {
    // Thread A heartbeats its own fresh maintenance lease in a tight
    // loop — every renewal takes the HEALTHY branch's in-place atomic
    // replace, so the lease file is never absent. Thread B hammers
    // the writer-side gate throughout: every call must REFUSE (the
    // window is continuously held); a single pass would mean the
    // in-place contract leaked an absence window.
    val path = tmp(); mkTable(path)
    val holder = "hb-maint"
    TableLease.acquire(path, TableLease.Maintenance, holder)
    val renewing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val passes = new java.util.concurrent.atomic.AtomicLong
    val attempts = new java.util.concurrent.atomic.AtomicLong
    val gate = new Thread(() => {
      while (renewing.get()) {
        attempts.incrementAndGet()
        try {
          TableLease.requireNoForeignMaintenance(path)
          passes.incrementAndGet()
        } catch { case _: IllegalStateException => () }
      }
    })
    gate.start()
    try (1 to 400).foreach { _ =>
      TableLease.acquire(path, TableLease.Maintenance, holder)
    } finally {
      renewing.set(false)
      gate.join(10000)
      TableLease.release(path, TableLease.Maintenance, holder)
    }
    assert(attempts.get() > 0, "the gate thread never ran")
    assert(passes.get() == 0,
      s"writer gate passed ${passes.get()}/${attempts.get()} times while " +
        "the maintenance window was continuously held (tomb-window leak)")
  }

  test("release is holder-verified: a thief's fresh lease survives the old holder's release") {
    val path = tmp()
    Files.createDirectories(Paths.get(path).getParent)
    val lease = Paths.get(path + ".__drain-lease")
    Files.write(lease,
      s"thief\n${System.currentTimeMillis()}".getBytes("UTF-8"))
    TableLease.release(path, TableLease.Drain, "old-holder") // no-op
    assert(Files.exists(lease), "release deleted a foreign fresh lease")
    assert(new String(Files.readAllBytes(lease), "UTF-8")
      .startsWith("thief"), "release must restore foreign content untouched")
    TableLease.release(path, TableLease.Drain, "thief")
    assert(!Files.exists(lease), "owner's release must remove the lease")
    TableLease.release(path, TableLease.Drain, "thief") // absent: no-op
  }
}
