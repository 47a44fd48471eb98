package graft
import graft.obs.Obs
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR.
  *
  * Each query is executed via a `noop`-format write so the full plan
  * (projections included) runs without Catalyst pruning it down to a count
  * and without timing an output sink. Failures are recorded per query
  * (`"name": -1`) and flip the exit code — a broken query can't hide inside
  * a healthy-looking total.
  *
  * Besides wall time, the JSON carries per-query `shuffle_mb` /
  * `spill_mb` / `jobs` / `stages` / `tasks` of the timed run that was
  * kept (each run is its own [[Obs]] phase, `<query>/run<i>`): shuffle
  * volume is the number that predicts 100 TB behavior — a query can
  * look fast at sf0.1 while moving the whole input through an exchange.
  */
object Bench {

  /** Re-time `names` in one FRESH child JVM via [[TimeOne]] (same
    * -Xmx/--add-opens as this JVM, same classpath — `run / fork := true`
    * makes both real). Returns name → (min-of-3, all three times);
    * missing entries mean the child skipped or died on that query.
    * Bounded: the child gets 15 minutes, then is killed and whatever
    * parsed so far is kept — the isolated column can be partial but can
    * never hang the bench. */
  private def runIsolated(
      names: Seq[String],
      sfDir: String,
      cpus: String): Map[String, (Double, Seq[Double])] = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = (Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.TimeOne") ++ names)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus)
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    val parsed = scala.collection.mutable.Map.empty[String, (Double, Seq[Double])]
    val line = """\[timeone-json\] \{"name":"([^"]+)","min":([0-9.]+),"times":\[([0-9.,]+)\]\}""".r
    val reader = new Thread(() => {
      var l = out.readLine()
      while (l != null) {
        line.findFirstMatchIn(l).foreach { m =>
          parsed.synchronized {
            parsed(m.group(1)) =
              (m.group(2).toDouble, m.group(3).split(',').toSeq.map(_.toDouble))
          }
        }
        l = out.readLine()
      }
    })
    reader.setDaemon(true)
    reader.start()
    if (!proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)) {
      System.err.println("[bench] isolated child timed out; keeping partial results")
      proc.destroyForcibly()
    }
    reader.join(5000)
    parsed.synchronized(parsed.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Sessions.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    // One-time derived-fixture build (nested order_items) happens before the
    // clock starts, so measured queries are the operators themselves.
    Fixtures.ensureAll(spark, sfDir)
    // JIT warmup at the smallest SF: the first query to touch Catalyst's
    // interpreted HOF/codegen paths otherwise pays ~8 s of JVM warmup that
    // has nothing to do with its plan (measured: same dedup query 13 s
    // cold, 3 s warm). Failures surface in the timed pass below.
    val warmSf = "/root/testdata/sf0.001"
    if (new java.io.File(warmSf).isDirectory && warmSf != sfDir) {
      Fixtures.ensureAll(spark, warmSf)
      SparkEntry.queries.foreach { case (_, fn) =>
        // NonFatal only (same reasoning as [[TimeOne]]'s warm-all pass)
        try fn(spark, warmSf).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    spark.catalog.clearCache() // drop warmup-pass persists before timing
    val metrics = Obs.install(spark)

    // ambient-load bookkeeping (the r13 verdict's directive 3): round
    // totals on a shared box are only comparable when the artifact
    // carries what else the box was doing. 1-minute loadavg sampled at
    // the three phase boundaries, plus per-heavy-query concurrent vs
    // isolated sums and a load_suspect flag below.
    def loadAvg(): Double =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
        .split(" ")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val loadBefore = loadAvg()

    var failed = List.empty[String]
    // Two timed runs, min kept: run-to-run variance on a shared box was
    // measured at 2× for the heaviest query; the min is the steady-state
    // cost of the plan, which is what the recording should track. The
    // cache is cleared between runs so queries that persist an
    // intermediate (the dedup family) pay their full build cost in BOTH
    // runs — otherwise run 2 would silently reuse run 1's cache and the
    // min would exclude the work the query exists to measure.
    // optional local-iteration filter (regex over query names); the
    // driver never sets it → full suite
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => nameFilter.forall(_.findFirstIn(n).isDefined) }
      .map { case (name, fn) =>
      // seconds for one execution, booked to its own phase
      def once(run: String): Double = {
        val t0 = System.nanoTime()
        Obs.phase(spark, name) {
          Obs.phase(spark, run) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      // (seconds, phase path of the kept run; "" when the query failed)
      val best =
        try {
          val (a, b) = (once("run1"), once("run2"))
          if (a <= b) (a, s"$name/run1") else (b, s"$name/run2")
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed ::= name
            (-1.0, "")
        }
      name -> best
    }
    // Locale.ROOT: a comma-decimal locale would emit invalid JSON
    def jmap(f: ((Double, String)) => Double, fmt: String = "%.3f"): String =
      results.map { case (k, v) =>
        "\"" + k + "\":" + fmt.formatLocal(java.util.Locale.ROOT, f(v))
      }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v._1 >= 0 => v._1 }.sum

    // ISOLATED re-timing of the slowest queries in a FRESH child JVM
    // (TimeOne discipline: sf0.001 warmup, min-of-3, cache cleared
    // between runs). Round 5 showed the full-suite session numbers
    // carry up to 3× cross-query memory/GC interference — the isolated
    // column is the one that supports round-over-round comparison.
    // The parent session STOPS first: a resident 32-thread local Spark
    // with a full-suite heap behind it was measured inflating the
    // child's numbers ~1.6× (graph_triangles 7.3 s contended vs 5.9 s
    // clean) — the child must own the box. The settle window lets the
    // stop's async cleanup (local-dir shuffle-file deletion for the
    // whole suite, executor teardown) drain before the child starts
    // competing for the same disk; a bare-java control run on an
    // otherwise-idle box matches sbt-forked numbers, so the residue of
    // the session IS the confounder being waited out.
    // Opt-out / resize via SPARK_GRAFT_ISOLATED (0 disables);
    // settle seconds via SPARK_GRAFT_ISOLATED_SETTLE. Env parsing is
    // forgiving (malformed → default) — nothing after the timing loop
    // may throw before the results are printed and persisted.
    spark.stop() // also drains the listener bus: the totals are complete
    val loadAfterSession = loadAvg()
    // kept run's cost; -1 marks a failed query, as in the time map
    def cost(f: Obs.Totals => Double)(v: (Double, String)): Double =
      if (v._2.isEmpty) -1.0 else f(metrics.under(v._2))
    val isolatedN = sys.env.get("SPARK_GRAFT_ISOLATED")
      .flatMap(_.toIntOption).getOrElse(12)
    val topNames = results
      .collect { case (k, v) if v._1 >= 0 => k -> v._1 }
      .sortBy(-_._2).take(isolatedN).map(_._1)
    val isolated: Map[String, (Double, Seq[Double])] =
      if (topNames.isEmpty) Map.empty
      else try {
        System.gc()
        Thread.sleep(sys.env.get("SPARK_GRAFT_ISOLATED_SETTLE")
          .flatMap(_.toIntOption).getOrElse(30) * 1000L)
        runIsolated(topNames, sfDir, cpus)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] isolated pass failed: ${e.getMessage}")
          Map.empty
      }
    def isoMap: String = topNames.flatMap(n => isolated.get(n).map(n -> _))
      .map { case (k, (min, _)) =>
        "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, min)
      }.mkString("{", ",", "}")
    def isoTimes: String = topNames.flatMap(n => isolated.get(n).map(n -> _))
      .map { case (k, (_, ts)) =>
        "\"" + k + "\":[" + ts.map(t =>
          "%.3f".formatLocal(java.util.Locale.ROOT, t)).mkString(",") + "]"
      }.mkString("{", ",", "}")
    // Trust flag per isolated query (the r6 verdict's bench directive,
    // stabilized per r11's): the spread of the 3 FASTEST samples as a
    // percent of the min — the stability of the min-estimator the
    // comparison ranks by, not of the whole sample (a fresh JVM's first
    // run is JIT-dominated by construction; TimeOne now runs adaptively
    // to 6 samples until the fast tail settles). reliable:false still
    // means "rank by the session number instead".
    val isoSpread: Seq[(String, Double)] =
      topNames.flatMap(n => isolated.get(n).map { case (min, ts) =>
        val fast = ts.sorted.take(3)
        n -> (if (min <= 0 || fast.isEmpty) 0.0
              else (fast.max - fast.min) / min * 100.0)
      })
    def isoVar: String = isoSpread.map { case (k, v) =>
      "\"" + k + "\":" + "%.1f".formatLocal(java.util.Locale.ROOT, v)
    }.mkString("{", ",", "}")
    // the child's exact JVM flags, recorded so a builder re-run and the
    // driver round are comparable (or their divergence attributable)
    val jvmArgsJson: String = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      .map(a => "\"" + a.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
    def isoReliable: String = isoSpread.map { case (k, v) =>
      "\"" + k + "\":" + (v <= 25.0)
    }.mkString("{", ",", "}")
    val loadAfter = loadAvg()
    // LOAD NORMALIZATION: for the heavy set, the isolated fresh-JVM
    // minima are the plan-cost numbers round-over-round comparison
    // should rank by; the concurrent (session) sum additionally carries
    // whatever the box and the suite's own scheduling added. When any
    // RELIABLE isolated query ran >2x slower concurrently, the round's
    // concurrent total is load-inflated, not a code regression — flag
    // it so the comparison reaches for the isolated sums instead of
    // burning an attribution pass (the r13 194s-vs-137s false alarm).
    val sessionByName = results.collect {
      case (k, v) if v._1 >= 0 => k -> v._1
    }.toMap
    val reliableSet = isoSpread.collect {
      case (k, v) if v <= 25.0 => k
    }.toSet
    val heavyPairs = topNames.flatMap(n =>
      isolated.get(n).map { case (min, _) => (n, sessionByName(n), min) })
    val isolatedSum = heavyPairs.map(_._3).sum
    val concurrentSumHeavy = heavyPairs.map(_._2).sum
    // ≥2s floor: a sub-second query's concurrent/isolated ratio is
    // scheduling noise (fixed overhead dominates both numbers), not
    // box load — without the floor every tiny-SF run reads suspect
    val loadSuspect = heavyPairs.exists { case (n, sess, iso) =>
      reliableSet.contains(n) && iso > 0 && sess >= 2.0 && sess / iso > 2.0
    }
    def f3(d: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val loadJson =
      s""""loadavg":{"before":${f3(loadBefore)},""" +
        s""""after_session":${f3(loadAfterSession)},""" +
        s""""after_isolated":${f3(loadAfter)}},""" +
        s""""isolated_sum":${f3(isolatedSum)},""" +
        s""""concurrent_sum_heavy":${f3(concurrentSumHeavy)},""" +
        s""""load_suspect":$loadSuspect,""" +
        s""""load_note":"isolated_sum = fresh-JVM minima of the ${heavyPairs.size} heavy queries (rank rounds by THIS); load_suspect = some reliable query of >=2s ran >2x slower concurrently than isolated - concurrent totals are load-inflated, compare isolated sums","""
    // The stdout line is deliberately COMPACT (per-query seconds at 3
    // decimals, no shuffle/spill maps): the recorder keeps only a bounded
    // tail of the sbt output, and round 3's full-detail line (~6 KB for 73
    // queries) was truncated mid-JSON there. The complete measurement —
    // full-precision times plus per-query shuffle_mb/spill_mb — goes to
    // bench_last.json.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(_._1)},""" +
        s""""sf":"$sfDir","failed":${failed.size}}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${
        results.map { case (k, v) => "\"" + k + "\":" + v._1 }.mkString("{", ",", "}")
      },"shuffle_mb":${jmap(cost(_.shuffleBytes / 1048576.0))},""" +
        s""""spill_mb":${jmap(cost(_.spillBytes / 1048576.0))},""" +
        s""""jobs":${jmap(cost(_.jobs.toDouble), "%.0f")},""" +
        s""""stages":${jmap(cost(_.stages.toDouble), "%.0f")},""" +
        s""""tasks":${jmap(cost(_.tasks.toDouble), "%.0f")},""" +
        loadJson +
        s""""isolated":$isoMap,"isolated_times":$isoTimes,""" +
        s""""isolated_variance_pct":$isoVar,"isolated_reliable":$isoReliable,""" +
        s""""isolated_note":"fresh-JVM adaptive min (3-8 runs until the fast tail settles) for the ${topNames.size} slowest, ALL warmed once at sf0.001 before any timing (shared-child JIT bill no longer lands on the first query); variance_pct = spread of the 3 fastest / min; reliable=false (spread > 25%) means JIT-dominated — rank by the session number instead",""" +
        s""""isolated_jvm_args":${jvmArgsJson},""" +
        s""""sf":"$sfDir","failed":${failed.size}}"""
    // The recorder keeps only the last ~2 KB of output: with 100+ queries
    // the compact full-map line overflows that window and gets cut
    // mid-JSON (observed in BENCH_r03: tail began inside the queries map).
    // So a BOUNDED summary — total plus the slowest queries only, always
    // fitting intact — is printed both FIRST and LAST around the full
    // map, and the complete measurement additionally persists to
    // bench_last.json (copied per round into bench_r{N}.json in-repo), so
    // round-over-round comparison never depends on the recorder's tail
    // window or on which side of the truncation survived.
    val slowest = results
      .collect { case (k, v) if v._1 >= 0 => k -> v._1 }
      .sortBy(-_._2)
      .take(12)
      .map { case (k, s) =>
        "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, s)
      }
      .mkString("{", ",", "}")
    val bounded =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
        s""""queries":$slowest,"queries_note":"12 slowest of ${results.size}; full map in bench_last.json",""" +
        s""""isolated":$isoMap,"isolated_variance_pct":$isoVar,""" +
        s""""isolated_reliable":$isoReliable,""" +
        loadJson +
        s""""sf":"$sfDir","failed":${failed.size}}"""
    println(bounded)
    println(line)
    println(bounded)
    // Stdout from sbt is noisy; keep a clean full-detail copy on disk.
    try Files.writeString(Paths.get("bench_last.json"), full + "\n")
    catch { case _: Throwable => () }
    if (failed.nonEmpty) sys.exit(1)
  }
}
