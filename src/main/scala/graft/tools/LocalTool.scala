package graft.tools

import graft.Sessions
import org.apache.spark.sql.SparkSession

/** The CLI tools' one session bootstrap, built as the bench builds its
  * own: master and shuffle partitions from `SPARK_GRAFT_CPUS`, UTC,
  * nanos-as-long parquet reads, UI off, then [[Sessions.tune]]d. */
private[tools] object LocalTool {
  /** Fixture dir the tool should measure against (bench default). */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def session(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Sessions.tune(spark)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
