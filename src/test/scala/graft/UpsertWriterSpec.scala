package graft

import graft.sinks.UpsertWriter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** K1/K5 write-path round-trips through real parquet (SURVEY §2.2):
  * keep-latest merge, update-wins ties, crash-atomic touched-partition
  * merges that leave untouched partitions' files alone, hash-bucketed
  * merges + their crash windows (exhaustive fault injection), and
  * truncate. */
class UpsertWriterSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-upsert").resolve("t").toString

  test("K1: keyed upsert keeps the latest version, updates win ties") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    // same version for id=1 (tie → update wins), higher for id=2, new id=3
    UpsertWriter.upsert(spark, path,
      Seq((1L, "a2", 1L), (2L, "b2", 2L), (3L, "c", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "a2", 2L -> "b2", 3L -> "c"))
  }

  test("clearReplayMetadata: live deltas refuse; folded deltas are the documented blind spot") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    UpsertWriter.append(spark, path,
      Seq((3L, "c", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b5")
    // LIVE tagged delta under the table: the no-replayers declaration
    // is contradicted by the evidence trail — refuse before touching
    // the sidecar
    val e = intercept[IllegalStateException] {
      UpsertWriter.clearReplayMetadata(path)
    }
    assert(e.getMessage.contains("no-replayers assertion is false"))
    // a compaction folds the delta (recording its tag); the evidence
    // trail is now gone, so the clear SUCCEEDS — this is the
    // documented contract boundary (a detached-but-resumable worker
    // whose deltas were all folded is undetectable from the table
    // path; callers like Pipeline.runDaily therefore check
    // taggedDeltas at ENTRY, before any folding op runs)
    UpsertWriter.compact(spark, path)
    assert(UpsertWriter.foldedTags(path).contains("b5"))
    assert(UpsertWriter.taggedDeltas(path).isEmpty)
    UpsertWriter.clearReplayMetadata(path)
    assert(UpsertWriter.foldedTags(path).isEmpty,
      "the declared clear must forget every tag, b-format or not")
    // the table's data is untouched by the metadata-only clear
    assert(spark.read.parquet(path).count() == 3)
  }

  test("K1: additive schema evolution — new column upserts, old rows null") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    // batch 2 carries a column the table has never seen
    UpsertWriter.upsert(spark, path,
      Seq((2L, "b2", 2L, "extra2"), (3L, "c", 1L, "extra3"))
        .toDF("id", "v", "ver", "note"),
      keys = Seq("id"), versionCol = "ver")
    val state = spark.read.parquet(path)
      .select($"id", $"v", $"note").as[(Long, String, Option[String])]
      .collect().map { case (k, v, n) => k -> ((v, n)) }.toMap
    assert(state == Map(
      1L -> (("a", None)),          // untouched row: new column is null
      2L -> (("b2", Some("extra2"))),
      3L -> (("c", Some("extra3")))))
  }

  test("K1 partitioned: only touched partitions are rewritten") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "2024-01-01", "x"), (2L, "2024-01-02", "y")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    val untouched = new java.io.File(s"$path/dia=2024-01-01")
    val before = untouched.listFiles().map(f => f.getName -> f.lastModified).toMap
    Thread.sleep(1100)
    UpsertWriter.upsert(spark, path,
      Seq((2L, "2024-01-02", "y2")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    val after = untouched.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(before == after, "untouched partition was rewritten")
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "x", 2L -> "y2"))
  }

  test("retention: partitions below the cutoff drop, survivors untouched") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"),
        (3L, "2024-01-03", "c")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    val survivor = new java.io.File(s"$path/dia=2024-01-03")
    val before = survivor.listFiles().map(f => f.getName -> f.lastModified).toMap
    val dropped = UpsertWriter.retainFrom(spark, path, "dia", "2024-01-02")
    assert(dropped == 1)
    val state = spark.read.parquet(path)
      .select($"id", $"dia").as[(Long, String)].collect().toMap
    assert(state == Map(2L -> "2024-01-02", 3L -> "2024-01-03"))
    assert(survivor.listFiles().map(f => f.getName -> f.lastModified).toMap == before,
      "surviving partition files must not be rewritten")
    // idempotent: re-running the same retention drops nothing
    assert(UpsertWriter.retainFrom(spark, path, "dia", "2024-01-02") == 0)
  }

  test("K1: same-key same-version rows in one batch resolve to the later row") {
    val path = tmp()
    // one batch, shared version (a QueueWorker micro-batch's batch_id):
    // the reference applies arrivals in order, so the later row wins.
    UpsertWriter.upsert(spark, path,
      Seq((1L, "first", 7L), (1L, "second", 7L), (1L, "third", 7L))
        .toDF("id", "v", "ver").coalesce(1),
      keys = Seq("id"), versionCol = "ver")
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "third"))
  }

  test("K1: committed state survives a crash between rename-aside and promote") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "committed", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    // simulate the crash window: live renamed aside, staging never promoted
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path), java.nio.file.Paths.get(path + ".__old"))
    // next call recovers the committed table and merges on top of it
    UpsertWriter.upsert(spark, path,
      Seq((2L, "after", 2L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "committed", 2L -> "after"),
      "pre-crash committed keys were lost")
  }

  test("K7: alert side output round-trips; a rerun updates, not duplicates") {
    val path = tmp()
    val unmapped = SparkEntry.queries("j6_join_anti_alerts")(spark, TestSpark.sf0001)
    val n = unmapped.count()
    assert(n > 0, "fixture must yield unmapped parts")
    graft.sinks.AlertSink.emit(spark, path, unmapped, runVersion = 1L)
    graft.sinks.AlertSink.emit(spark, path, unmapped, runVersion = 2L)
    val alerts = spark.read.parquet(path)
    assert(alerts.count() == n, "rerun must update alerts in place, not append")
    assert(alerts.filter($"run_version" === 2L).count() == n)
    assert(alerts.filter($"status" === "OPEN").count() == n)
    val msg = alerts.orderBy($"alert_key").select($"message").as[String].first()
    assert(msg.contains("has no qualifying lineitem mapping"))
  }

  test("K1: a swap crashed after staging committed completes on recovery") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "old", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    // simulate: merge (old + id=2) fully committed to staging, live
    // renamed aside, then crash before the promote
    Seq((1L, "old", 1L), (2L, "merged", 1L)).toDF("id", "v", "ver")
      .write.parquet(path + ".__staging")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path), java.nio.file.Paths.get(path + ".__old"))
    // next call completes the crashed swap FIRST, then applies its batch
    UpsertWriter.upsert(spark, path,
      Seq((3L, "after", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "old", 2L -> "merged", 3L -> "after"),
      "the staged merge must survive, nothing lost")
  }

  test("compact: collapses accreted small files, values untouched") {
    val path = tmp()
    // a large merge at scale leaves shuffle.partitions files — simulate
    // with an explicit multi-file committed write
    (1L to 200L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver")
      .repartition(8).write.parquet(path)
    def files = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = spark.read.parquet(path)
      .as[(Long, String, Long)].collect().toSet
    assert(files == 8, "premise: committed table is fragmented")
    UpsertWriter.compact(spark, path)
    assert(files == 1, "tiny table must compact to a single file")
    val after = spark.read.parquet(path)
      .as[(Long, String, Long)].collect().toSet
    assert(after == before, "compaction must not change values")
  }

  test("property: random append/merge sequences with replays match the keep-latest model") {
    // the combinatorial space the engineered crash specs cannot cover:
    // interleaved insert-only appends and keyed merges over one bucketed
    // table, each batch possibly REPLAYED (the streaming re-delivery
    // contract — same batch applied again), including an insert batch
    // appending into a bucket a later merge rewrote and vice versa.
    // Model: keep-latest per key; inserts always carry NEW keys (the
    // append contract), merges touch existing keys with a higher version.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val steps = Gen.listOfN(4, for {
      isInsert <- Gen.oneOf(true, false)
      n <- Gen.chooseNum(1, 6)
      replay <- Gen.oneOf(true, false)
    } yield (isInsert, n, replay))
    val prop = Prop.forAll(steps) { plan =>
      val path = tmp()
      val model = scala.collection.mutable.Map.empty[Long, String]
      var nextKey = 1L
      var ver = 0L
      for (((isInsert, n, replay), i) <- plan.zipWithIndex) {
        ver += 1
        if (isInsert || model.isEmpty) {
          val rows = (0 until n).map { k =>
            val id = nextKey + k; (id, s"ins$i-$id", ver)
          }
          nextKey += n
          def apply(): Unit = UpsertWriter.appendBucketed(spark, path,
            rows.toDF("id", "v", "ver"),
            keys = Seq("id"), batchTag = s"b$i", numBuckets = 4)
          apply(); if (replay) apply()
          rows.foreach { case (id, v, _) => model(id) = v }
        } else {
          val existing = model.keys.toSeq.sorted
          val touched = existing.take(math.min(n, existing.size))
          val rows = touched.map(id => (id, s"upd$i-$id", ver))
          def apply(): Unit = UpsertWriter.upsertBucketed(spark, path,
            rows.toDF("id", "v", "ver"),
            keys = Seq("id"), versionCol = "ver", numBuckets = 4)
          apply(); if (replay) apply()
          rows.foreach { case (id, v, _) => model(id) = v }
        }
      }
      val state = spark.read.parquet(path)
        .select($"id", $"v").as[(Long, String)].collect()
      val asMap = state.toMap
      state.length == model.size && asMap == model.toMap
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(result.passed, result.status.toString)
  }

  test("property: table state == sequential row-by-row apply model") {
    // The reference applies rows one at a time (ON DUPLICATE KEY UPDATE)
    // with keep-highest-version semantics; the distributed merge must
    // reach the same final state for ANY batch sequence. Model rule per
    // row, in arrival order: replace when ver >= current (update wins
    // ties, later row wins within a batch), keep when lower.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val row = for {
      id  <- Gen.chooseNum(1L, 8L)
      v   <- Gen.alphaStr.map(_.take(4))
      ver <- Gen.chooseNum(1L, 4L)
    } yield (id, v, ver)
    val prop = Prop.forAll(Gen.listOfN(3, Gen.listOfN(6, row))) { batches =>
      val path = tmp()
      val model = scala.collection.mutable.Map.empty[Long, (String, Long)]
      for (batch <- batches) {
        UpsertWriter.upsert(spark, path,
          batch.toDF("id", "v", "ver").coalesce(1),
          keys = Seq("id"), versionCol = "ver")
        for ((id, v, ver) <- batch) model.get(id) match {
          case Some((_, curVer)) if curVer > ver => ()
          case _                                 => model(id) = (v, ver)
        }
      }
      val state = spark.read.parquet(path)
        .as[(Long, String, Long)].collect()
        .map { case (id, v, ver) => id -> ((v, ver)) }.toMap
      state == model.toMap
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, result.status.toString)
  }

  test("bucketed: keyed merge semantics hold and reads drop the bucket column") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    UpsertWriter.upsertBucketed(spark, path,
      Seq((2L, "b2", 2L), (4L, "d", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    val df = spark.read.parquet(path)
    assert(df.columns.contains(UpsertWriter.BucketCol),
      "premise: the stored layout is bucket-partitioned")
    val state = df.select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"))
    // every key sits in exactly one bucket (the stable-hash contract the
    // pruned merge depends on)
    assert(df.groupBy($"id").agg(countDistinct(col(UpsertWriter.BucketCol)))
      .filter($"count(DISTINCT __bucket)" > 1).count() == 0)
  }

  test("bucketed: a batch rewrites only the buckets its keys hash to") {
    val path = tmp()
    // enough spread keys that >1 bucket exists, then update ONE key
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 32L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
    assert(dirs.length > 1, "premise: keys spread over multiple buckets")
    val touched = spark.range(1).select(
      pmod(xxhash64(lit(7L)), lit(8L)).cast("int")).as[Int].head()
    val untouchedDir = dirs.find(_.getName != s"__bucket=$touched").get
    val before = untouchedDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    Thread.sleep(1100)
    UpsertWriter.upsertBucketed(spark, path,
      Seq((7L, "v7b", 2L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    val after = untouchedDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(before == after, "an untouched bucket was rewritten")
    assert(spark.read.parquet(path).filter($"id" === 7L)
      .select($"v").as[String].head() == "v7b")
  }

  test("bucketed: adopting bucketing over an existing unbucketed table is refused before any state changes") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "a", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    val e = intercept[IllegalArgumentException] {
      UpsertWriter.upsertBucketed(spark, path,
        Seq((2L, "b", 1L)).toDF("id", "v", "ver"),
        keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    }
    assert(e.getMessage.contains("rewrite"))
    // no marker was pinned — the table is NOT wedged: plain merges work
    UpsertWriter.upsert(spark, path,
      Seq((2L, "b", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    assert(spark.read.parquet(path).count() == 2)
  }

  test("bucketed: a changed bucket count is refused, not silently re-hashed") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      Seq((1L, "a", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      UpsertWriter.upsertBucketed(spark, path,
        Seq((2L, "b", 1L)).toDF("id", "v", "ver"),
        keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    }
    assert(e.getMessage.contains("bucketed 4 ways"))
  }

  test("compact preserves a bucketed layout; later merges still prune and miss nothing") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 32L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    UpsertWriter.compact(spark, path)
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
    assert(dirs.nonEmpty, "compaction flattened the bucket layout")
    // a post-compaction merge must neither duplicate nor lose keys
    UpsertWriter.upsertBucketed(spark, path,
      Seq((1L, "v1b", 2L), (33L, "v33", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    val df = spark.read.parquet(path)
    assert(df.count() == 33, "post-compaction merge duplicated or dropped rows")
    assert(df.filter($"id" === 1L).select($"v").as[String].head() == "v1b")
    assert(df.filter($"id" === 2L).select($"v").as[String].head() == "v2")
  }

  test("bucketed: a crash inside the partition-commit window loses no co-located keys") {
    // THE scenario a delete-then-promote partition commit cannot survive:
    // a batch updates ONE key; its bucket co-locates other keys the batch
    // does not carry; the writer dies after the staging commit with the
    // live bucket directory already renamed aside (the most adversarial
    // instant — under Spark's dynamic-overwrite commit this window has
    // the partition deleted and nothing promoted). Recovery must finish
    // the swap from the committed staging image: the updated key carries
    // the new value AND every co-located key survives.
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 32L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    // pick the fullest bucket so co-location is maximal
    val byBucket = spark.read.parquet(path)
      .select($"id", col(UpsertWriter.BucketCol).cast("int").as("b"))
      .as[(Long, Int)].collect().groupBy(_._2)
    val (bx, rows) = byBucket.maxBy(_._2.length)
    val ids = rows.map(_._1).toSeq.sorted
    assert(ids.size > 1, "premise: the touched bucket co-locates other keys")
    val updKey = ids.head
    // the committed staging image the crashed merge left behind: the
    // touched bucket's full merged content (update applied, co-located
    // rows carried through — exactly what the merge's left-semi scope +
    // keep-latest window produces)
    ids.map(i => if (i == updKey) (i, "NEW", 2L) else (i, s"v$i", 1L))
      .toDF("id", "v", "ver")
      .withColumn(UpsertWriter.BucketCol,
        pmod(xxhash64($"id"), lit(8L)).cast("int"))
      .write.partitionBy(UpsertWriter.BucketCol).parquet(path + ".__pstaging")
    // crash instant: live leaf renamed aside, promote never ran
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path + ".__oldparts"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$path/__bucket=$bx"),
      java.nio.file.Paths.get(s"$path.__oldparts/__bucket=$bx"))
    UpsertWriter.recover(path)
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state.size == 32, "keys were lost or duplicated across the crash")
    assert(state(updKey) == "NEW", "the committed merge's update was lost")
    for (o <- ids.drop(1))
      assert(state(o) == s"v$o", s"co-located key $o was lost in the window")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + ".__pstaging")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + ".__oldparts")))
    // recovery is idempotent — a second crash-after-recovery changes nothing
    UpsertWriter.recover(path)
    assert(spark.read.parquet(path).count() == 32)
  }

  test("append: insert-only delta files — replay replaces, merge subsumes, compact folds") {
    val path = tmp()
    // batch 0 creates the table through the append itself
    UpsertWriter.appendBucketed(spark, path,
      (1L to 16L).map(i => (i, s"v$i", 0L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b0", numBuckets = 4)
    assert(spark.read.parquet(path).count() == 16)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + ".__buckets")), "append pins the layout")
    // batch 1 appends fresh keys; every data file is a delta under a bucket
    UpsertWriter.appendBucketed(spark, path,
      (17L to 24L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b1", numBuckets = 4)
    def state() = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state() == (1L to 24L).map(i => i -> s"v$i").toMap)
    // REPLAY of batch 1 (crash before checkpoint): same tag replaces its
    // own files — no duplicates
    UpsertWriter.appendBucketed(spark, path,
      (17L to 24L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b1", numBuckets = 4)
    assert(spark.read.parquet(path).count() == 24,
      "a replayed append duplicated rows")
    // a keyed MERGE batch subsumes delta rows: update a key that lives
    // in a delta file; its whole bucket rewrites, values exact
    UpsertWriter.upsertBucketed(spark, path,
      Seq((17L, "UPD", 2L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    assert(state() == ((1L to 24L).map(i => i -> s"v$i").toMap + (17L -> "UPD")))
    assert(spark.read.parquet(path).count() == 24)
    // compaction folds deltas into ordinary files, values untouched
    UpsertWriter.compact(spark, path)
    assert(state() == ((1L to 24L).map(i => i -> s"v$i").toMap + (17L -> "UPD")))
    // schema growth through an append is refused (footer-sampling hazard)
    val e = intercept[IllegalArgumentException] {
      UpsertWriter.appendBucketed(spark, path,
        Seq((99L, "x", 3L, "extra")).toDF("id", "v", "ver", "note"),
        keys = Seq("id"), batchTag = "b2", numBuckets = 4)
    }
    assert(e.getMessage.contains("grow the schema"))
    // so is a TYPE change on a shared column (mixed parquet physical
    // types make the table unreadable outright)
    val e2 = intercept[IllegalArgumentException] {
      UpsertWriter.appendBucketed(spark, path,
        Seq((99L, 123, 3L)).toDF("id", "v", "ver"), // v: int, table has string
        keys = Seq("id"), batchTag = "b3", numBuckets = 4)
    }
    assert(e2.getMessage.contains("change column types"))
  }

  test("bucketed: EVERY interruption point of the partition swap recovers to the exact merged state") {
    // exhaustive fault injection over the swap's filesystem mutations
    // (the staging image is committed before the first one, so recovery
    // alone — no batch re-delivery needed — must complete the merge
    // from ANY interruption point, including a second crash inside the
    // recovery itself)
    final class Boom extends RuntimeException("injected crash")
    def initial(path: String): Unit = UpsertWriter.upsertBucketed(spark, path,
      (1L to 32L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    // updates spread over several buckets so the swap has many steps
    val updates = Seq((7L, "A", 2L), (8L, "B", 2L), (9L, "C", 2L),
      (33L, "D", 1L)).toDF("id", "v", "ver")
    def expected = ((1L to 32L).map(i => i -> s"v$i").toMap ++
      Map(7L -> "A", 8L -> "B", 9L -> "C", 33L -> "D"))
    def state(path: String) = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap

    // count the mutation points of a clean run
    var count = 0
    val ref = tmp(); initial(ref)
    UpsertWriter.swapFault = () => count += 1
    try UpsertWriter.upsertBucketed(spark, ref, updates,
      keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    finally UpsertWriter.swapFault = () => ()
    assert(state(ref) == expected)
    assert(count >= 6, s"premise: the swap has many steps, saw $count")

    for (crashAt <- 0 until count) {
      val path = tmp(); initial(path)
      var n = 0
      UpsertWriter.swapFault =
        () => { n += 1; if (n > crashAt) throw new Boom }
      try {
        intercept[Boom] {
          UpsertWriter.upsertBucketed(spark, path, updates,
            keys = Seq("id"), versionCol = "ver", numBuckets = 8)
        }
        // second crash: the RECOVERY itself dies one step further in
        n = 0
        UpsertWriter.swapFault =
          () => { n += 1; if (n > crashAt + 1) throw new Boom }
        try UpsertWriter.recover(path) catch { case _: Boom => }
      } finally UpsertWriter.swapFault = () => ()
      // eventual clean recovery must land the exact merged state
      UpsertWriter.recover(path)
      assert(state(path) == expected,
        s"crash at mutation $crashAt diverged: ${state(path)}")
    }
  }

  test("bucketed: an uncommitted staging image is discarded, live table untouched") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 8L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    val before = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    // a staging write that died mid-flight: files present, no _SUCCESS
    Seq((1L, "HALF", 9L)).toDF("id", "v", "ver")
      .withColumn(UpsertWriter.BucketCol,
        pmod(xxhash64($"id"), lit(4L)).cast("int"))
      .write.partitionBy(UpsertWriter.BucketCol).parquet(path + ".__pstaging")
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(path + ".__pstaging", "_SUCCESS"))
    UpsertWriter.recover(path)
    assert(spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap == before,
      "an uncommitted staging image must never reach the table")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + ".__pstaging")))
  }

  test("bucketed: additive schema evolution is visible to a plain read of the whole table") {
    // the partitioned hazard the unpartitioned evolution test can't see:
    // a batch carrying a NEW column rewrites only its touched buckets,
    // so untouched bucket directories keep files WITHOUT the column —
    // and a plain parquet read samples one footer for the schema, which
    // may hide the new column (or surface it) depending on which file
    // wins. The writer must make the union schema authoritative for
    // the whole table, not just the touched leaves.
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 32L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    UpsertWriter.upsertBucketed(spark, path,
      Seq((7L, "v7b", 2L, "extra")).toDF("id", "v", "ver", "note"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    val df = spark.read.parquet(path)
    assert(df.count() == 32)
    assert(df.columns.contains("note"),
      "a plain read of the evolved table must surface the new column")
    val notes = df.select($"id", $"note").as[(Long, Option[String])]
      .collect().toMap
    assert(notes(7L) == Some("extra"))
    assert(notes.filter(_._1 != 7L).values.forall(_.isEmpty),
      "untouched rows must read the new column as NULL")
  }

  test("partitioned: a NULL partition value merges without dropping prior null-partition keys") {
    // null = null is FALSE in an equi-join: without null-safe scoping, a
    // batch updating the default partition would scope out the existing
    // null rows and the leaf swap would drop every prior null-partition
    // key the batch doesn't carry
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, Some("2024-01-01"), "x"), (2L, None, "y"), (3L, None, "z"))
        .toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    // update ONE null-partition key; key 3 (also null dia) must survive
    UpsertWriter.upsert(spark, path,
      Seq((2L, None: Option[String], "y2")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "x", 2L -> "y2", 3L -> "z"),
      s"null-partition keys were lost or not updated: $state")
  }

  test("partitioned: adopting partitioning over an existing unpartitioned table never duplicates") {
    // the touched-leaf swap only replaces `col=value` directories, so a
    // partitioned merge over a table whose files live at the ROOT would
    // leave those files next to the new leaves — every scoped key twice.
    // Adoption must be a full whole-directory rewrite instead.
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "2024-01-01", "x"), (2L, "2024-01-02", "y"))
        .toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id") // UNpartitioned layout
    UpsertWriter.upsert(spark, path,
      Seq((2L, "2024-01-02", "y2")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    val rows = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect()
    assert(rows.length == 2, s"adoption duplicated rows: ${rows.toSeq}")
    assert(rows.toMap == Map(1L -> "x", 2L -> "y2"))
    assert(new java.io.File(s"$path/dia=2024-01-01").isDirectory,
      "adoption must leave the table physically partitioned")
    // the NEXT merge prunes normally against the adopted layout
    val untouched = new java.io.File(s"$path/dia=2024-01-01")
      .listFiles().map(_.getName).toSet
    UpsertWriter.upsert(spark, path,
      Seq((2L, "2024-01-02", "y3")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    assert(new java.io.File(s"$path/dia=2024-01-01")
      .listFiles().map(_.getName).toSet == untouched,
      "post-adoption merges must prune untouched partitions again")
  }

  test("partitioned: changing the partition columns is a full rewrite, never a duplication") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "2024-01-01", "a", "x"), (2L, "2024-01-02", "b", "y"))
        .toDF("id", "dia", "cat", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    UpsertWriter.upsert(spark, path,
      Seq((2L, "2024-01-02", "b", "y2")).toDF("id", "dia", "cat", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("cat"))
    val rows = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect()
    assert(rows.length == 2, s"re-partitioning duplicated rows: ${rows.toSeq}")
    assert(rows.toMap == Map(1L -> "x", 2L -> "y2"))
    assert(!new java.io.File(s"$path/dia=2024-01-01").exists,
      "the old layout's directories must not survive a re-partitioning")
  }

  test("append: refused on a physically partitioned table (root deltas would escape the leaf swap)") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "2024-01-01", "x")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    val e = intercept[IllegalArgumentException] {
      UpsertWriter.append(spark, path,
        Seq((2L, "2024-01-02", "y")).toDF("id", "dia", "v"),
        keys = Seq("id"), batchTag = "b0")
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("K5 then K1 partitioned: an upsert after truncate rebuilds a clean layout") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "2024-01-01", "x"), (2L, "2024-01-02", "y")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    UpsertWriter.truncate(spark, path)
    UpsertWriter.upsert(spark, path,
      Seq((3L, "2024-01-03", "z")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(state == Map(3L -> "z"), "truncated rows resurfaced or the read broke")
  }

  test("K5: truncate on a bucket-pinned table is refused (flat empty image would poison pruned merges)") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      Seq((1L, "a", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      UpsertWriter.truncate(spark, path)
    }
    assert(e.getMessage.contains("bucket-pinned"))
    assert(spark.read.parquet(path).count() == 1, "refusal must not mutate")
  }

  test("append: a batch missing table columns is padded with typed NULLs, never written narrow") {
    // a narrow-schema delta file in a live bucket dir makes every plain
    // read of the table lose the column whenever footer sampling lands
    // on it, and a later full-schema append would be spuriously refused
    // as schema growth off the same sample
    val path = tmp()
    UpsertWriter.appendBucketed(spark, path,
      Seq((1L, "a", 1L, "n1"), (2L, "b", 1L, "n2"))
        .toDF("id", "v", "ver", "note"),
      keys = Seq("id"), batchTag = "b0", numBuckets = 4)
    // batch 1 omits `note`
    UpsertWriter.appendBucketed(spark, path,
      Seq((3L, "c", 2L), (4L, "d", 2L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b1", numBuckets = 4)
    val df = spark.read.parquet(path)
    assert(df.columns.contains("note"),
      "plain read must still surface the full schema after a narrow batch")
    val notes = df.select($"id", $"note").as[(Long, Option[String])]
      .collect().toMap
    assert(notes == Map(1L -> Some("n1"), 2L -> Some("n2"),
      3L -> None, 4L -> None))
    // a later FULL-schema append must not be refused as schema growth
    // (it would be, had the narrow batch written narrow delta footers)
    UpsertWriter.appendBucketed(spark, path,
      Seq((5L, "e", 3L, "n5")).toDF("id", "v", "ver", "note"),
      keys = Seq("id"), batchTag = "b2", numBuckets = 4)
    assert(spark.read.parquet(path).count() == 5)
  }

  test("append: EVERY interruption point recovers to all-or-nothing batch visibility") {
    // exhaustive fault injection over the append path's filesystem
    // mutations (marker write, per-file stale deletes and moves, marker
    // delete, _SUCCESS): after a crash at ANY point, recover() must
    // leave a reader seeing either the whole batch or none of it —
    // never a torn prefix — and the replayed append must land the
    // exact final state.
    final class Boom extends RuntimeException("injected crash")
    def b0(path: String): Unit = UpsertWriter.appendBucketed(spark, path,
      (1L to 16L).map(i => (i, s"v$i", 0L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b0", numBuckets = 4)
    def b1(path: String): Unit = UpsertWriter.appendBucketed(spark, path,
      (17L to 24L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b1", numBuckets = 4)
    val preState = (1L to 16L).map(i => i -> s"v$i").toMap
    val fullState = (1L to 24L).map(i => i -> s"v$i").toMap
    def state(path: String) = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap

    // count the mutation points of a clean run
    var count = 0
    val ref = tmp(); b0(ref)
    UpsertWriter.swapFault = () => count += 1
    try b1(ref) finally UpsertWriter.swapFault = () => ()
    assert(state(ref) == fullState)
    assert(count >= 6, s"premise: the append has many steps, saw $count")

    for (crashAt <- 0 until count) {
      val path = tmp(); b0(path)
      var n = 0
      UpsertWriter.swapFault =
        () => { n += 1; if (n > crashAt) throw new Boom }
      try {
        intercept[Boom] { b1(path) }
        // second crash: the RECOVERY (quarantine) dies one step further
        n = 0
        UpsertWriter.swapFault =
          () => { n += 1; if (n > crashAt + 1) throw new Boom }
        try UpsertWriter.recover(path) catch { case _: Boom => }
      } finally UpsertWriter.swapFault = () => ()
      // clean recovery: a reader must see ALL of b1 or NONE of it
      UpsertWriter.recover(path)
      val s0 = state(path)
      assert(s0 == preState || s0 == fullState,
        s"crash at mutation $crashAt left a torn batch visible: $s0")
      // the streaming replay re-delivers the batch; final state exact
      b1(path)
      assert(state(path) == fullState,
        s"crash at mutation $crashAt diverged after replay: ${state(path)}")
    }
  }

  test("merge crash between staging commit and folded-tag record: recovery records before completing, replayed append is a no-op") {
    // the one window the normal path's record-before-swap ordering
    // can't cover: the touched-leaf merge must WRITE the staging image
    // first (it reads the live table), so a crash after the staging
    // `_SUCCESS` but before recordFoldedTags leaves a completable swap
    // whose subsumed delta files were never recorded. recover() then
    // completes the swap — and must re-derive the record first, or the
    // crashed batch's replayed append re-adds every row the swap merged.
    final class Boom extends RuntimeException("injected crash")
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 16L).map(i => (i, s"v$i", 0L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    // an UNCOMMITTED batch's delta files (the streaming worker crashed
    // before its checkpoint commit; tag b1 will replay)
    def replayB1() = UpsertWriter.appendBucketed(spark, path,
      (17L to 24L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b1", numBuckets = 4)
    replayB1()
    // a maintenance-window merge rewrites the delta keys (refit's shape)
    // and crashes at the FIRST fault point — staging committed, tags
    // not yet recorded
    var n = 0
    UpsertWriter.swapFault = () => { n += 1; if (n >= 1) throw new Boom }
    try intercept[Boom] {
      UpsertWriter.upsertBucketed(spark, path,
        (17L to 24L).map(i => (i, s"V${i}r", 2L)).toDF("id", "v", "ver"),
        keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    } finally UpsertWriter.swapFault = () => ()
    assert(!UpsertWriter.foldedTags(path).contains("b1"),
      "premise: the crash hit before the normal path's record")
    UpsertWriter.recover(path)
    assert(UpsertWriter.foldedTags(path).contains("b1"),
      "recovery must record the subsumed tags before completing the swap")
    // the crashed batch replays — must be a skipped no-op, not duplicates
    assert(!replayB1(), "replayed append of a folded tag must report skipped")
    val state = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect()
    assert(state.length == 24, s"duplicated rows after replay: ${state.length}")
    val m = state.toMap
    assert((17L to 24L).forall(i => m(i) == s"V${i}r"),
      "the merged image must win over the replayed delta rows")
  }

  test("bucket pin: a corrupt marker is refused with an actionable message, and the pin write is atomic") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      Seq((1L, "a", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    // simulate a crash mid-write of the marker (empty/partial file)
    Files.write(java.nio.file.Paths.get(path + ".__buckets"),
      Array.emptyByteArray)
    val e = intercept[IllegalArgumentException] {
      UpsertWriter.upsertBucketed(spark, path,
        Seq((2L, "b", 2L)).toDF("id", "v", "ver"),
        keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    }
    assert(e.getMessage.contains("corrupt bucket pin"))
    assert(!Files.exists(
      java.nio.file.Paths.get(path + ".__buckets.tmp")),
      "the atomic pin write must not leave its temp file behind")
  }

  test("K5: truncate leaves an empty table with the same schema") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "a", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    UpsertWriter.truncate(spark, path)
    val df = spark.read.parquet(path)
    assert(df.count() == 0)
    assert(df.columns.toSet == Set("id", "v", "ver"))
  }

  // ── deleteWhere: searched row-grain DELETE ───────────────────────────

  test("deleteWhere: unpartitioned — predicate rows removed, NULL keeps (SQL DELETE semantics)") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, Some("drop"), 1L), (2L, Some("keep"), 1L),
        (3L, None, 1L), (4L, Some("drop"), 1L))
        .toDF("id", "tag", "ver"),
      keys = Seq("id"), versionCol = "ver")
    val n = UpsertWriter.deleteWhere(spark, path, col("tag") === "drop")
    assert(n == 2L)
    val left = spark.read.parquet(path).select($"id").as[Long].collect().toSet
    assert(left == Set(2L, 3L), "NULL-predicate row must survive a DELETE")
    // delete-nothing: 0 removed, files untouched
    def ids() = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val a = Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        f.getName -> String.valueOf(a.fileKey())
      }.toMap
    val before = ids()
    assert(UpsertWriter.deleteWhere(spark, path, col("tag") === "absent") == 0L)
    assert(ids() == before, "a no-match DELETE must not rewrite the table")
  }

  test("deleteWhere: bucketed — only touched buckets rewritten, folded tags protect replays") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 32L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    // a delta batch whose rows the DELETE will remove — its replay
    // after the delete must not resurrect them
    UpsertWriter.appendBucketed(spark, path,
      Seq((100L, "doomed", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "bdel", numBuckets = 8)
    val victimBucket = spark.range(1).select(
      pmod(xxhash64(lit(100L)), lit(8L)).cast("int")).head().getInt(0)
    val untouched = (0 until 8).find(b => b != victimBucket &&
      new java.io.File(s"$path/${UpsertWriter.BucketCol}=$b").isDirectory).get
    def ids(b: Int) = new java.io.File(s"$path/${UpsertWriter.BucketCol}=$b")
      .listFiles().map { f =>
        val a = Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        f.getName -> String.valueOf(a.fileKey())
      }.toMap
    val before = ids(untouched)
    val n = UpsertWriter.deleteWhere(spark, path, col("id") === 100L)
    assert(n == 1L)
    assert(ids(untouched) == before,
      "a bucketed DELETE must rewrite only the touched buckets")
    assert(spark.read.parquet(path).count() == 32)
    // the folded tag: replaying the deleted batch is a skipped no-op
    assert(!UpsertWriter.appendBucketed(spark, path,
      Seq((100L, "doomed", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "bdel", numBuckets = 8),
      "a deleted batch's replay must be skipped, not resurrected")
    assert(spark.read.parquet(path).filter($"id" === 100L).count() == 0)
  }

  test("deleteWhere: partitioned — a fully-emptied partition's directory is dropped; delete-all refused") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"),
        (3L, "2024-01-02", "c")).toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    val n = UpsertWriter.deleteWhere(spark, path, col("dia") === "2024-01-02")
    assert(n == 1L)
    assert(!new java.io.File(s"$path/dia=2024-01-02").exists,
      "an emptied partition's directory must be dropped")
    assert(spark.read.parquet(path).count() == 2)
    val e = intercept[IllegalArgumentException] {
      UpsertWriter.deleteWhere(spark, path, lit(true))
    }
    assert(e.getMessage.contains("every row"),
      s"delete-all on a partitioned table must refuse: ${e.getMessage}")
    assert(spark.read.parquet(path).count() == 2, "refusal must not mutate")
  }

  test("deleteWhere: partition values round-trip exactly (no type-inference rename, no phantom leaves)") {
    // 'dia=01' would read back as int 1 under partition-type inference,
    // and the rewrite would then promote a NEW 'dia=1' leaf next to the
    // untouched 'dia=01' one — every surviving row duplicated and the
    // emptied-leaf drop aimed at a directory that doesn't exist. The
    // op pins inference off for its internal reads, so the directory
    // strings round-trip verbatim.
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      Seq((1L, "01", "a"), (2L, "01", "b"), (3L, "02", "c"))
        .toDF("id", "dia", "v"),
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))
    assert(new java.io.File(s"$path/dia=01").isDirectory, "premise")
    // partial delete in a zero-padded leaf: rewritten IN PLACE
    val n = UpsertWriter.deleteWhere(spark, path,
      col("id") === 1L && col("dia") === "01")
    assert(n == 1L)
    assert(new java.io.File(s"$path/dia=01").isDirectory,
      "the touched leaf must keep its exact directory name")
    assert(!new java.io.File(s"$path/dia=1").exists,
      "no re-typed phantom leaf may appear")
    assert(spark.read.parquet(path).select($"id").as[Long]
      .collect().toSet == Set(2L, 3L))
    // full delete of the zero-padded leaf: the exact directory drops
    assert(UpsertWriter.deleteWhere(spark, path, col("dia") === "01") == 1L)
    assert(!new java.io.File(s"$path/dia=01").exists,
      "the emptied zero-padded leaf must be dropped by its real name")
    assert(spark.read.parquet(path).select($"id").as[Long]
      .collect().toSet == Set(3L))
  }

  test("deleteWhere: EVERY interruption point — retry completes the removal, no co-located loss, no resurrection") {
    final class Boom extends RuntimeException("injected crash")
    def build(): String = {
      val path = tmp()
      UpsertWriter.upsertBucketed(spark, path,
        (1L to 32L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
        keys = Seq("id"), versionCol = "ver", numBuckets = 4)
      path
    }
    // deletes spread over several buckets so the swap has many steps
    def del(path: String): Long = UpsertWriter.deleteWhere(
      spark, path, col("id") % 8 === 0) // ids 8,16,24,32
    val expected = (1L to 32L).filterNot(_ % 8 == 0)
      .map(i => i -> s"v$i").toMap
    def state(path: String) = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap

    var count = 0
    val ref = build()
    UpsertWriter.swapFault = () => count += 1
    try assert(del(ref) == 4L) finally UpsertWriter.swapFault = () => ()
    assert(state(ref) == expected)
    assert(count >= 4, s"premise: the delete swap has many steps, saw $count")

    for (crashAt <- 0 until count) {
      val path = build()
      var n = 0
      UpsertWriter.swapFault =
        () => { n += 1; if (n > crashAt) throw new Boom }
      try {
        intercept[Boom] { del(path) }
        n = 0
        UpsertWriter.swapFault =
          () => { n += 1; if (n > crashAt + 1) throw new Boom }
        try UpsertWriter.recover(path) catch { case _: Boom => }
      } finally UpsertWriter.swapFault = () => ()
      UpsertWriter.recover(path)
      // a crashed DELETE may be partially applied (leaf grain), never
      // torn within a leaf and never losing co-located keys: the
      // surviving state is exact per key (either pre- or post-delete)
      val mid = state(path)
      assert((1L to 32L).filterNot(_ % 8 == 0)
        .forall(i => mid.get(i).contains(s"v$i")),
        s"crash at mutation $crashAt lost a co-located key: $mid")
      // retrying the SAME delete completes the removal exactly
      del(path)
      assert(state(path) == expected,
        s"crash at mutation $crashAt diverged after retry: ${state(path)}")
    }
  }

  // ── rebucket: the bucket-count lifecycle op ──────────────────────────

  private def bucketOf(id: Long, n: Int): Int = {
    import spark.implicits._
    Seq(id).toDF("id")
      .select(pmod(xxhash64($"id"), lit(n.toLong)).cast("int"))
      .head().getInt(0)
  }

  test("rebucket: content preserved, pin moved, merges and appends prune on the new layout") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 32L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    UpsertWriter.appendBucketed(spark, path,
      (33L to 40L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b7", numBuckets = 4)
    val before = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap

    UpsertWriter.rebucket(spark, path, keys = Seq("id"), newBuckets = 8)

    assert(UpsertWriter.pinnedBuckets(path).contains(8))
    assert(spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap == before,
      "rebucket changed row content")
    // every row physically lives in its xxhash64 % 8 bucket
    val misplaced = spark.read.parquet(path)
      .filter(col(UpsertWriter.BucketCol) =!=
        pmod(xxhash64($"id"), lit(8L)).cast("int")).count()
    assert(misplaced == 0, s"$misplaced rows in the wrong bucket after rebucket")
    // the folded-tag record carried forward: the old batch tag replays
    // as a no-op, not as duplicate rows
    assert(!UpsertWriter.appendBucketed(spark, path,
      (33L to 40L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b7", numBuckets = 8),
      "a pre-rebucket tag's replay must be skipped as folded")
    assert(spark.read.parquet(path).count() == 40)
    // a merge at the new count prunes: untouched buckets' files unmoved
    val probeKey = 1L
    val touched = bucketOf(probeKey, 8)
    val untouched = (0 until 8).find(b =>
      b != touched &&
        new java.io.File(s"$path/${UpsertWriter.BucketCol}=$b").isDirectory).get
    val dir = new java.io.File(s"$path/${UpsertWriter.BucketCol}=$untouched")
    def ids() = dir.listFiles().map { f =>
      val a = Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      f.getName -> ((a.size(), String.valueOf(a.fileKey())))
    }.toMap
    val idsBefore = ids()
    UpsertWriter.upsertBucketed(spark, path,
      Seq((probeKey, "UPD", 9L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 8)
    assert(ids() == idsBefore, "post-rebucket merge rewrote untouched buckets")
    val m = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(m(probeKey) == "UPD" && m.size == 40)
  }

  test("rebucket: adopts bucketing on an existing unbucketed table (the sanctioned rewrite)") {
    val path = tmp()
    UpsertWriter.upsert(spark, path,
      (1L to 16L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    UpsertWriter.append(spark, path,
      (17L to 20L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b3")
    UpsertWriter.rebucket(spark, path, keys = Seq("id"), newBuckets = 4)
    assert(UpsertWriter.pinnedBuckets(path).contains(4))
    assert(spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap ==
      (1L to 20L).map(i => i -> s"v$i").toMap)
    // the adopted layout serves bucketed writes; plain appends now refuse
    UpsertWriter.appendBucketed(spark, path,
      Seq((21L, "v21", 2L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b4", numBuckets = 4)
    assert(spark.read.parquet(path).count() == 21)
    val e = intercept[IllegalArgumentException] {
      UpsertWriter.append(spark, path,
        Seq((22L, "v22", 2L)).toDF("id", "v", "ver"),
        keys = Seq("id"), batchTag = "b5")
    }
    assert(e.getMessage.contains("bucket-pinned"))
    // the root delta tag the adoption folded replays as a no-op, not as
    // duplicate rows (the replay arrives through the NEW layout's path)
    assert(!UpsertWriter.appendBucketed(spark, path,
      (17L to 20L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b3", numBuckets = 4),
      "a pre-adoption tag's replay must be skipped as folded")
    assert(spark.read.parquet(path).count() == 21)
  }

  test("rebucket: wrong merge keys are refused before anything swaps") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 16L).map(i => (i, i * 100L, s"v$i", 1L))
        .toDF("id", "other", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    val before = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    val e = intercept[Throwable] {
      UpsertWriter.rebucket(spark, path, keys = Seq("other"), newBuckets = 8)
    }
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("wrong merge keys"),
      s"expected the wrong-keys refusal, got: $messages")
    UpsertWriter.recover(path)
    assert(UpsertWriter.pinnedBuckets(path).contains(4),
      "a refused rebucket must not move the pin")
    assert(spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap == before)
    assert(!Files.exists(java.nio.file.Paths.get(path + ".__rebucket-intent")),
      "recover must clear the dangling intent")
  }

  test("rebucket: refused while a drain lease is fresh; no-op on the already-pinned count") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 8L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 4)
    graft.sinks.TableLease.withDrain(Seq(path), "spec-drain") {
      val e = intercept[IllegalStateException] {
        UpsertWriter.rebucket(spark, path, keys = Seq("id"), newBuckets = 8)
      }
      assert(e.getMessage.contains("Drain lease is held"))
    }
    // same-count rebucket: nothing rewritten (file identities stable)
    def identities() = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(path))
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val a = Files.readAttributes(p,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        p.toString -> String.valueOf(a.fileKey())
      }.toMap finally walk.close()
    }
    val before = identities()
    UpsertWriter.rebucket(spark, path, keys = Seq("id"), newBuckets = 4)
    assert(identities() == before, "a same-count rebucket must be a no-op")
  }

  test("rebucketIfOvergrown: doubles past the target, no-ops on a healthy or unpinned table") {
    val path = tmp()
    UpsertWriter.upsertBucketed(spark, path,
      (1L to 64L).map(i => (i, "x" * 200, 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver", numBuckets = 2)
    val before = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    // healthy: generous target → no rewrite, None
    assert(UpsertWriter.rebucketIfOvergrown(spark, path, Seq("id"),
      targetBucketBytes = 1L << 30).isEmpty)
    assert(UpsertWriter.pinnedBuckets(path).contains(2))
    // overgrown: a tiny target forces (possibly repeated) doubling
    // (512 B is below even one parquet footer, so any real table trips)
    val r = UpsertWriter.rebucketIfOvergrown(spark, path, Seq("id"),
      targetBucketBytes = 512)
    assert(r.isDefined && r.get._1 == 2 && r.get._2 > 2 &&
      Integer.bitCount(r.get._2 / 2) == 1,
      s"expected a power-of-two doubling from 2, got $r")
    assert(UpsertWriter.pinnedBuckets(path).contains(r.get._2))
    assert(spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap == before,
      "the policy's rewrite changed row content")
    // the cap bounds a pathological target
    val r2 = UpsertWriter.rebucketIfOvergrown(spark, path, Seq("id"),
      targetBucketBytes = 1, maxBuckets = r.get._2 * 2)
    assert(r2.forall(_._2 <= r.get._2 * 2))
    // unpinned: never touched
    val plain = tmp()
    UpsertWriter.upsert(spark, plain,
      Seq((1L, "a", 1L)).toDF("id", "v", "ver"),
      keys = Seq("id"), versionCol = "ver")
    assert(UpsertWriter.rebucketIfOvergrown(spark, plain, Seq("id"),
      targetBucketBytes = 1).isEmpty)
  }

  test("rebucket: EVERY interruption point recovers with the pin matching the live layout") {
    // exhaustive fault injection over rebucket's filesystem mutations
    // (intent write, whole-directory swap renames, in-image epoch file,
    // pin update, epoch/intent cleanup): after a crash at ANY point plus
    // a second crash inside the recovery itself, the healed table must
    // (a) hold the exact pre-rebucket content, (b) carry a pin equal to
    // the physical layout's hash modulus — the invariant whose violation
    // silently duplicates keys on the next pruned merge — and (c) accept
    // a keyed merge at the pinned count with keep-latest intact.
    final class Boom extends RuntimeException("injected crash")
    val rows = (1L to 32L).map(i => (i, s"v$i", 1L))
    def build(): String = {
      val path = tmp()
      UpsertWriter.upsertBucketed(spark, path, rows.toDF("id", "v", "ver"),
        keys = Seq("id"), versionCol = "ver", numBuckets = 4)
      UpsertWriter.appendBucketed(spark, path,
        (33L to 36L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
        keys = Seq("id"), batchTag = "bx", numBuckets = 4)
      path
    }
    val expected = ((1L to 36L).map(i => i -> s"v$i")).toMap
    def state(path: String) = spark.read.parquet(path)
      .select($"id", $"v").as[(Long, String)].collect().toMap

    // count the mutation points of a clean run
    var count = 0
    val ref = build()
    UpsertWriter.swapFault = () => count += 1
    try UpsertWriter.rebucket(spark, ref, keys = Seq("id"), newBuckets = 8)
    finally UpsertWriter.swapFault = () => ()
    assert(state(ref) == expected)
    assert(UpsertWriter.pinnedBuckets(ref).contains(8))
    assert(count >= 6, s"premise: rebucket has many steps, saw $count")

    for (crashAt <- 0 until count) {
      val path = build()
      var n = 0
      UpsertWriter.swapFault =
        () => { n += 1; if (n > crashAt) throw new Boom }
      try {
        intercept[Boom] {
          UpsertWriter.rebucket(spark, path, keys = Seq("id"), newBuckets = 8)
        }
        // second crash: the RECOVERY itself dies one step further in
        n = 0
        UpsertWriter.swapFault =
          () => { n += 1; if (n > crashAt + 1) throw new Boom }
        try UpsertWriter.recover(path) catch { case _: Boom => }
      } finally UpsertWriter.swapFault = () => ()
      UpsertWriter.recover(path)
      // (a) content exact
      assert(state(path) == expected,
        s"crash at mutation $crashAt lost/duplicated rows: ${state(path)}")
      // (b) pin == live layout: every row's stored bucket is its key's
      // hash under the PINNED count
      val pin = UpsertWriter.pinnedBuckets(path).get
      assert(pin == 4 || pin == 8, s"crash at $crashAt left pin $pin")
      val misplaced = spark.read.parquet(path)
        .filter(col(UpsertWriter.BucketCol) =!=
          pmod(xxhash64($"id"), lit(pin.toLong)).cast("int")).count()
      assert(misplaced == 0,
        s"crash at mutation $crashAt: pin $pin but $misplaced rows " +
          "live in other buckets — the next pruned merge duplicates them")
      // (c) a keyed merge at the pinned count applies cleanly
      UpsertWriter.upsertBucketed(spark, path,
        Seq((1L, "UPD", 9L)).toDF("id", "v", "ver"),
        keys = Seq("id"), versionCol = "ver", numBuckets = pin)
      val after = state(path)
      assert(after.size == 36 && after(1L) == "UPD",
        s"crash at mutation $crashAt: post-recovery merge diverged")
    }
  }

  // ── folded-tags sidecar: bounded by the replay horizon (r13 verdict
  // directive 1) ──

  test("compact prunes NOTHING without a horizon; with one, only provably-dead b<id> tags drop") {
    val path = tmp()
    def landTag(tag: String, id: Long): Unit =
      assert(UpsertWriter.appendBucketed(spark, path,
        Seq((id, s"v$id", 0L)).toDF("id", "v", "ver"),
        keys = Seq("id"), batchTag = tag, numBuckets = 4))
    landTag("b0", 1L); landTag("b1", 2L); landTag("manual-x", 3L)
    UpsertWriter.compact(spark, path) // no horizon: everything retained
    assert(UpsertWriter.foldedTags(path) == Set("b0", "b1", "manual-x"),
      "prune must refuse without an explicit horizon")
    // horizon 1: only b0 is provably dead; b1 could still replay and
    // the non-convention tag's age is unknowable — both stay
    UpsertWriter.compact(spark, path, replayHorizon = Some(1L))
    assert(UpsertWriter.foldedTags(path) == Set("b1", "manual-x"))
    assert(spark.read.parquet(path).count() == 3)
  }

  test("pruneReplayMetadata: the metadata-only prune is lease-gated and touches no data") {
    // the op the orchestrated cycle runs unconditionally (r15): same
    // prune semantics as a horizon-carrying compact, but one sidecar
    // read instead of a table rewrite — and it must refuse while a
    // drain window is open, exactly like every other maintenance op
    val path = tmp()
    def landTag(tag: String, id: Long): Unit =
      assert(UpsertWriter.appendBucketed(spark, path,
        Seq((id, s"v$id", 0L)).toDF("id", "v", "ver"),
        keys = Seq("id"), batchTag = tag, numBuckets = 4))
    landTag("b0", 1L); landTag("b1", 2L); landTag("manual-x", 3L)
    UpsertWriter.compact(spark, path) // folds all three tags
    val filesBefore = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try w.iterator().asScala.map(_.toString).toSet finally w.close()
    }
    graft.sinks.TableLease.withDrain(Seq(path), "live-drain") {
      intercept[IllegalStateException] {
        UpsertWriter.pruneReplayMetadata(path, replayHorizon = 2L)
      }
    }
    UpsertWriter.pruneReplayMetadata(path, replayHorizon = 2L)
    assert(UpsertWriter.foldedTags(path) == Set("manual-x"),
      "b0/b1 dead under horizon 2; the non-convention tag must stay")
    val filesAfter = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try w.iterator().asScala.map(_.toString).toSet finally w.close()
    }
    assert(filesAfter == filesBefore,
      "the metadata-only prune rewrote table data")
    assert(spark.read.parquet(path).count() == 3)
  }

  test("a pruned tag's replayed append is RE-APPLIED — the guard is gone, safe only under the horizon contract") {
    val path = tmp()
    def b0(): Boolean = UpsertWriter.appendBucketed(spark, path,
      Seq((1L, "v1", 0L)).toDF("id", "v", "ver"),
      keys = Seq("id"), batchTag = "b0", numBuckets = 4)
    assert(b0())
    UpsertWriter.compact(spark, path) // folds b0; sidecar guards the replay
    assert(!b0() && spark.read.parquet(path).count() == 1,
      "a folded tag's replay must be skipped while the guard exists")
    UpsertWriter.compact(spark, path, replayHorizon = Some(1L)) // b0 pruned
    // the replay is now APPLIED: with the guard pruned, nothing marks
    // b0 as folded — which is exactly why the horizon must come from
    // the checkpoint's commit log (a pruned batch must be one that can
    // never reach this code path again)
    assert(b0(), "post-prune, the tag must append as a fresh batch")
    assert(spark.read.parquet(path).count() == 2,
      "the re-applied append lands next to the folded image")
  }

  test("sidecar stays bounded across 100 simulated folds with an advancing horizon") {
    val path = tmp()
    // simulate a long-lived worker: one folded tag per micro-batch,
    // maintenance pruning at the checkpoint horizon each cycle. No
    // Spark jobs — the sidecar arithmetic is what's under test.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    var maxSize = 0
    for (i <- 0 until 100) {
      UpsertWriter.recordFoldedTags(path, Set(s"b$i"))
      UpsertWriter.pruneFoldedTags(path, horizon = i.toLong)
      maxSize = math.max(maxSize, UpsertWriter.foldedTags(path).size)
    }
    assert(maxSize <= 2,
      s"sidecar grew to $maxSize tags under per-cycle pruning")
    assert(UpsertWriter.foldedTags(path) == Set("b99"))
    // contrast: the same 100 folds with no horizon grow linearly — the
    // unbounded default the horizon argument exists to bound
    val path2 = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path2))
    for (i <- 0 until 100)
      UpsertWriter.recordFoldedTags(path2, Set(s"b$i"))
    assert(UpsertWriter.foldedTags(path2).size == 100)
  }

  test("replayHorizon reads the checkpoint commit log: max committed + 1, None when empty") {
    val ckpt = tempDir("graft-ckpt").toString
    assert(UpsertWriter.replayHorizon(ckpt).isEmpty,
      "no commits dir: nothing is provably dead")
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.createDirectories(commits)
    assert(UpsertWriter.replayHorizon(ckpt).isEmpty,
      "empty commit log: nothing is provably dead")
    for (id <- Seq("0", "1", "5")) // gaps tolerated: max decides
      java.nio.file.Files.createFile(commits.resolve(id))
    java.nio.file.Files.createFile(commits.resolve(".tmp-crc")) // ignored
    assert(UpsertWriter.replayHorizon(ckpt).contains(6L))
  }
}
