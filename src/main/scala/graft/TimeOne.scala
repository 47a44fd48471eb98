package graft
import graft.obs.Obs

/** Ad-hoc single-query timer for perf iteration: same measurement
  * discipline as [[Bench]] (noop write, cache cleared between runs,
  * warmup at sf0.001), scoped to the queries named on the command line.
  * After the session stops it prints the fastest run's phase breakdown,
  * one `[timeone-phase]` line per [[Obs]] path under it ("(run)" is the
  * whole run, "output" the result's noop write; each phase's numbers
  * include its nested phases).
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Fixtures.ensureAll(spark, sfDir)
    val metrics = Obs.install(spark)
    // Warm ALL requested queries once at sf0.001 BEFORE any timing: in a
    // shared child JVM the first-timed query otherwise absorbs the whole
    // JIT bill for the code paths every later query reuses — measured
    // inverting the msb/ms gate comparison (the slowest-first ordering
    // put the bucketed gate first, and its "isolated" min carried ~3 s
    // of warmup the session number never sees). Failures surface in the
    // timed pass below, exactly like Bench's session warmup.
    for (name <- args) {
      // NonFatal only: an OOM/VM error in warmup leaves the JVM in an
      // undefined state — timing it anyway would ship garbage numbers
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.catalog.clearCache()
    // query → phase path of its fastest run
    val fastest = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      def once(): Double = {
        val t0 = System.nanoTime()
        Obs.phase(spark, name) {
          Obs.phase(spark, s"run${times.length + 1}") {
            val df = fn(spark, sfDir)
            Obs.phase(spark, "output")(df.write.format("noop").mode("overwrite").save())
            spark.catalog.clearCache()
          }
        }
        (System.nanoTime() - t0) / 1e9
      }
      // ADAPTIVE run count (the r11 verdict's bench-stability directive):
      // 3 runs, then keep running (to 8) while the 3 FASTEST still
      // disagree by >20% of their min — a fresh JVM's first runs are
      // JIT-dominated, and one extra warm run usually settles the
      // min-estimator that round-over-round comparison ranks by. The
      // cap sits at 8 (was 6): the streaming gates exercise enough
      // distinct code that 6 samples were measured still descending on
      // a cold box, and an unsettled min is exactly what the reliable
      // flag exists to prevent shipping.
      for (_ <- 1 to 3) times += once()
      def fast3 = times.sorted.take(3)
      while (times.length < 8 &&
          (fast3.max - fast3.min) / fast3.min > 0.20)
        times += once()
      println(f"[timeone] $name: ${times.map(t => f"$t%.2f").mkString(" ")} s")
      // machine-readable twin of the line above — [[Bench]]'s isolated
      // re-timing pass parses these from the child process's stdout
      val ts = times.map(t =>
        "%.3f".formatLocal(java.util.Locale.ROOT, t)).mkString(",")
      println(s"""[timeone-json] {"name":"$name","min":${
        "%.3f".formatLocal(java.util.Locale.ROOT, times.min)},"times":[$ts]}""")
      fastest(name) = s"$name/run${times.indexOf(times.min) + 1}"
    }
    // stop() drains the listener bus, so the totals are complete
    spark.stop()
    for ((name, run) <- fastest) {
      val phases = metrics.totals.keys.filter(_.startsWith(run + "/"))
        .toSeq.sorted
      for (p <- run +: phases) {
        val phase = if (p == run) "(run)" else p.stripPrefix(run + "/")
        println(s"[timeone-phase] $name $phase ${metrics.under(p).show}")
      }
    }
  }
}
