package graft

/** Mirrors the driver's smoke check: SparkEntry.entry(spark) must return
  * rows > 0 on sf0.001. Run: sbt "runMain graft.EntrySmoke".
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("4")
    val df = SparkEntry.entry(spark)
    val n  = df.count()
    df.show(5, truncate = false)
    println(s"[entry-smoke] rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
