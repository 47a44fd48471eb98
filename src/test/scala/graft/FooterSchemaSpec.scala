package graft

import graft.obs.Obs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** `Tables.footerSchema` is Spark's own inference without the job: the
  * schema read from the one footer inference samples equals
  * `spark.read.parquet(path).schema` on every layout the library reads,
  * and a fixture load through it books no Spark job. */
class FooterSchemaSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def sameAsInference(path: String): Unit =
    assert(Tables.footerSchema(spark, path) == spark.read.parquet(path).schema,
      s"footer schema of $path differs from Spark's inference")

  test("every fixture table, events under nanosAsLong") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val tables = Seq("lineitem", "orders", "part", "supplier", "customer",
      "nation", "region", "documents", "embeddings", "events")
    tables.foreach(t => sameAsInference(s"$sf/$t.parquet"))
    assert(Tables.load(spark, sf, "events").schema == spark.read.parquet(s"$sf/events.parquet").schema)
  }

  test("a multi-file Spark-written dir and a symlinked dir laid out like a day slice") {
    val root = tempDir("graft-footer")
    val multi = root.resolve("multi.parquet").toString
    spark.range(0, 1000, 1, 5)
      .select(col("id"), (col("id") * 1.5).as("x"), col("id").cast("string").as("s"))
      .write.parquet(multi)
    assert(Files.list(Path.of(multi)).filter(_.toString.endsWith(".parquet")).count() == 5)
    sameAsInference(multi)
    val day = Files.createDirectories(root.resolve("day0"))
    Files.createSymbolicLink(day.resolve("part.parquet"), Path.of(s"$sf/part.parquet"))
    val target = Files.createDirectories(root.resolve("lineitem-dir"))
    Files.copy(Path.of(s"$sf/lineitem.parquet"), target.resolve("part-0.parquet"))
    Files.createSymbolicLink(day.resolve("lineitem.parquet"), target)
    sameAsInference(day.resolve("part.parquet").toString)
    sameAsInference(day.resolve("lineitem.parquet").toString)
    assert(Tables.lineitem(spark, day.toString).count() ==
      Tables.lineitem(spark, sf).count())
  }

  test("the mart and alerts tables after one runDaily") {
    val wh = tempDir("graft-footer-wh").toString
    Pipeline.runDaily(spark, sf, wh, runVersion = 1L)
    sameAsInference(s"$wh/relatorio_diario")
    sameAsInference(s"$wh/alerts")
  }

  test("a declared footer schema discovers the partition columns of bucketed and dia layouts") {
    val root = tempDir("graft-footer-parts")
    def rows(from: Long, to: Long) =
      spark.range(from, to).select(col("id"), (col("id") * 2).as("v"), lit(1L).as("ver"))
    val bucketed = root.resolve("bucketed").toString
    sinks.UpsertWriter.upsertBucketed(spark, bucketed, rows(0, 40), Seq("id"), "ver", 4)
    assert(sinks.UpsertWriter.appendBucketed(spark, bucketed, rows(40, 50), Seq("id"), "b1", 4))
    assert(sinks.UpsertWriter.taggedDeltas(bucketed) == Set("b1"))
    val daily = root.resolve("daily").toString
    sinks.UpsertWriter.upsert(spark, daily, rows(0, 30).withColumn("dia",
        when(col("id") % 3 =!= 0, concat(lit("2025-01-0"), (col("id") % 3).cast("string")))),
      Seq("id"), "ver", partitionBy = Seq("dia"))
    assert(Files.isDirectory(Path.of(daily, "dia=__HIVE_DEFAULT_PARTITION__")))
    for (p <- Seq(bucketed, daily))
      assert(spark.read.schema(Tables.footerSchema(spark, p)).parquet(p).schema ==
        spark.read.parquet(p).schema, s"declared footer read of $p differs from inference")
  }

  test("a missing or empty dir throws") {
    val empty = tempDir("graft-footer-empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    intercept[IllegalArgumentException](Tables.footerSchema(spark, empty.toString))
    intercept[java.io.FileNotFoundException](
      Tables.footerSchema(spark, empty.resolve("absent").toString))
  }

  test("a fixture load books no Spark job") {
    val m = Obs.install(spark)
    try {
      Obs.phase(spark, "footer-load")(Tables.lineitem(spark, sf))
      // listener events arrive in order: once the barrier job has, so
      // has anything the load submitted
      Obs.within(spark, "footer-barrier")(spark.sparkContext.parallelize(1 to 2, 1).count())
      val deadline = System.currentTimeMillis() + 60000
      while (m.under("footer-barrier").jobs == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(m.under("footer-barrier").jobs == 1, "listener bus never drained")
      assert(m.under("footer-load").jobs == 0)
    } finally m.close()
  }
}
