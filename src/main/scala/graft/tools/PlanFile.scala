package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Optimization-round evidence dumper: writes `explain("formatted")` for
  * each named query to `<outDir>/<query>_<tag>.txt` — the before/after
  * plan files the round's judge checks claims against.
  *
  * Usage: `runMain graft.tools.PlanFile <outDir> <tag> <query>...`
  * (env `SPARK_GRAFT_SF_DIR` picks the fixture dir, default sf0.1 —
  * the bench SF, so the dumped plan is the one the bench runs).
  */
object PlanFile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanFile <outDir> <tag> <query>...")
    val (outDir, tag, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = LocalTool.sfDir
    val spark = graft.Sessions.local(LocalTool.cpus, logLevel = "ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"),
        s"== $name ($tag, sf=$sfDir) ==\n$plan")
      println(s"[planfile] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
