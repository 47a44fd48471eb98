package graft

import graft.sinks.UpsertWriter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** SURVEY §7 scale posture, pinned: facts partition by date, and a
  * day-filtered scan must PRUNE to the matching partition directories —
  * the property that turns "100 TB of history" into "one day of I/O"
  * for every incremental query (T1/T2's as-of reads). Asserted on the
  * physical scan, not inferred: the FileSourceScanExec must carry the
  * partition filter and select strictly fewer partition dirs. */
class PartitionPruneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("date-partitioned upsert table prunes to one partition at the scan") {
    val dir = tempDir("graft-prune").toString
    val path = s"$dir/fact_daily"
    val rows = Seq(
      (1L, "2025-01-01", 10.0), (2L, "2025-01-01", 11.0),
      (3L, "2025-01-02", 12.0), (4L, "2025-01-03", 13.0))
      .toDF("id", "dia", "valor")
    UpsertWriter.upsert(spark, path, rows,
      keys = Seq("id"), versionCol = "id", partitionBy = Seq("dia"))

    val one = spark.read.parquet(path).filter(col("dia") === "2025-01-02")
    assert(one.select(sum(col("valor"))).head().getDouble(0) == 12.0)

    val scan = one.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the plan"))
    assert(scan.partitionFilters.nonEmpty,
      "day predicate must reach the scan as a partition filter")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, scanned ${scan.selectedPartitions.partitionCount}")
    // and the data filter list must NOT carry the partition predicate —
    // pruning happens at the file index, not per row
    assert(!scan.dataFilters.exists(_.references.exists(_.name == "dia")))
  }

  /** The reference ingests JSON bodies (S7/S8); at engine scale a JSONL
    * drop-zone read must use an EXPLICIT schema — inference is a full
    * extra pass over the input, and a drifted field silently widens
    * types. Round-trips the documents fixture through JSONL and pins
    * row identity under the declared schema. */
  test("JSONL source with explicit schema round-trips the documents fixture") {
    val dir = tempDir("graft-jsonl").toString
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"), col("lang"))
    docs.write.json(s"$dir/docs_jsonl")
    val back = spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING")
      .json(s"$dir/docs_jsonl")
    assert(back.schema == docs.schema)
    val a = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val b = back.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(a == b)
  }
}
