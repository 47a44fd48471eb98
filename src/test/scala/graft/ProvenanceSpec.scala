package graft

import java.nio.file.Files

import graft.operators.RelationalOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level provenance on a genuinely MULTI-part table — the
  * granularity the meta1 oracle gate can't see (part-file names are
  * engine-generated; the DuckDB twin only sees table views). Writes a
  * 4-part parquet table and asserts the per-file breakdown is a true
  * partition of the rows: one tally row per part file, distinct names,
  * every tally > 0, and the tallies re-add to the table total.
  */
class ProvenanceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  test("fileProvenance partitions rows by part file on a 4-part table") {
    val dir = tempDir("graft-prov").toString + "/t.parquet"
    spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir)

    val prov = RelationalOps.fileProvenance(spark.read.parquet(dir)).collect()
    val files = prov.map(_.getString(0))
    val tallies = prov.map(_.getLong(1))

    assert(prov.length === 4, "one tally row per part file")
    assert(files.distinct.length === 4, "file names distinct")
    assert(files.forall(f => f.startsWith("part-") && f.endsWith(".parquet")))
    assert(tallies.forall(_ > 0L))
    assert(tallies.sum === 1000L, "per-file tallies re-add to the total")
  }

  test("meta1 gate query reconciles on both 1-part and re-laid-out tables") {
    // the fixture (1 file per table) and a 3-part rewrite of the same
    // rows must produce the IDENTICAL gated output — layout independence
    val d1 = TestSpark.sf0001
    val base = RelationalOps.queries("meta1_file_provenance")
      .run(spark, d1).orderBy("tbl").collect().toSeq

    val d2 = tempDir("graft-prov-sf").toString
    for (t <- Seq("lineitem", "orders", "part"))
      spark.read.parquet(s"$d1/$t.parquet").repartition(3)
        .write.mode("overwrite").parquet(s"$d2/$t.parquet")
    val relaid = RelationalOps.queries("meta1_file_provenance")
      .run(spark, d2).orderBy("tbl").collect().toSeq

    assert(base === relaid)
    assert(base.forall(_.getBoolean(1)), "has_files true for every table")
  }
}
