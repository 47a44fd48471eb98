package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: regex over query names — local-iteration filter
    // (the driver always passes exactly two args → full suite)
    val nameFilter = args.lift(2).map(_.r)
    def keep(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) try {
        val df = fn(spark, sfDir)
        // Determinism sort applied here, outside the measured plan (the
        // oracle's ORDER BY twin); queries themselves stay sort-free.
        val keys = SparkEntry.sortKeys.getOrElse(name, Nil)
        val sorted =
          if (keys.isEmpty) df
          else df.orderBy(keys.map(org.apache.spark.sql.functions.col): _*)
        sorted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The dumps are ALWAYS the full maps, never filtered: a
    // name-filtered re-run into an EXISTING out dir (regenerating one
    // query's parquet after a fix) must not truncate the sidecars the
    // whole-dir compare reads — a 1-entry oracle_sql.json silently
    // shrinks "the suite" to one query for any later check over that
    // directory (this exact footgun cost a 155-green sf10 record).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Determinism sort keys per query, for the local gate mirror
    // (scripts/check.py): its order-tie multiset fallback may only fire
    // when a query's sort keys are verifiably NON-unique in the result —
    // otherwise a genuine ordering divergence must stay a FAIL. A
    // separate file so the driver's oracle_sql.json contract is untouched.
    val sortJson = SparkEntry.queries.keys.toSeq.sorted
      .map { k =>
        val keys = SparkEntry.sortKeys.getOrElse(k, Nil)
        s"${q(k)}: ${keys.map(q).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/sort_keys.json"), sortJson)
    spark.stop()
  }
}
