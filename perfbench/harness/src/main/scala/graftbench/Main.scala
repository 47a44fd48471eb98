package graftbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One workload run in its own JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --run-dir <dir> --out <result.json> --cores <n> --shuffle-partitions <n>
  *        [--tiny] [--corrupt]
  *
  * Sets up (session, seeded inputs, full-size warm-up ops), runs the
  * closed loop for `seconds`, measures the live heap, checks the outputs
  * and writes the result JSON. With `--trace 1` it also writes the span
  * file and the per-layer table next to the result. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.get("trace").contains("1")
    val runDir = Paths.get(args("run-dir")).toAbsolutePath
    val cores = args("cores").toInt
    val shufflePartitions = args("shuffle-partitions")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      // the status store's history of finished jobs, stages, SQL
      // executions and streaming queries grows with the op count; keep
      // it short so heap_mb measures the program's live data
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Sessions.tune(spark)
    val sessionS = (Clock.now - jvmStart) / 1e9

    val sc = spark.sparkContext
    val listener = new EngineListener
    if (traced) sc.addSparkListener(listener)
    val tracer = new Tracer(sc, traced)
    val ctx = Ctx(spark, runDir, seed, flags("tiny"), flags("corrupt"), tracer)
    val wl: Workload = workload match {
      case "daily_mart" => new DailyMart(ctx)
      case "dedup_ingest" => new DedupIngestLoad(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val g0 = Clock.now
    wl.setup()
    val generateS = (Clock.now - g0) / 1e9

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    def runOp(i: Int): Unit = {
      sc.setLocalProperty(Tracer.OpKey, i.toString)
      tracer.op = i
      val gc0 = gcMs
      val t0 = Clock.now
      val ok =
        try { wl.op(i); true }
        catch { case NonFatal(e) => Console.err.println(s"[perfbench] op $i failed: $e"); false }
      val t1 = Clock.now
      val cached = if (traced) sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum else 0L
      results += OpResult(i, t0, t1, ok, gcMs - gc0, cached)
      sc.setLocalProperty(Tracer.OpKey, null)
      tracer.op = -1
      wl.afterOp(i)
    }

    val w0 = Clock.now
    (0 until wl.warmupOps).foreach(runOp)
    val warmupS = (Clock.now - w0) / 1e9

    // the timed phase: a closed loop that starts the next op only while
    // the last op's duration still fits in `seconds` (at least one op)
    val firstTimed = wl.warmupOps
    val t0 = Clock.now
    val setupS = (t0 - jvmStart) / 1e9
    var i = firstTimed
    var last = 0L
    while (i == firstTimed || Clock.now - t0 + last <= seconds * 1e9) {
      runOp(i)
      last = results.last.end - results.last.start
      i += 1
    }
    val timed = results.filter(_.i >= firstTimed).toSeq

    // live heap: full GCs with pauses between them, so blocks the
    // context cleaner releases after the first one are collected too
    spark.catalog.clearCache()
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    if (traced) listener.settle()
    val jobs = listener.snapshot
    val failures =
      try wl.check(results.toSeq)
      catch { case NonFatal(e) => Seq(s"check raised $e") }
    failures.foreach(f => Console.err.println(s"[perfbench] CHECK FAILED: $f"))

    val ok = timed.filter(_.ok)
    val secs = ok.map(_.secs).sorted
    val wall = timed.map(_.secs).sum
    val e2e = Map(
      "op_p50_s" -> ("s", if (secs.isEmpty) Double.NaN else median(secs)),
      "rows_per_s" -> ("1/s", ok.map(o => wl.rows(o.i)).sum / wall),
      "setup_s" -> ("s", setupS),
      "heap_mb" -> ("MB", heapMb))

    val metrics =
      if (!traced) e2e
      else {
        val self = tracer.selfNanos
        val byOp = jobs.filter(j => j.op >= firstTimed).groupBy(_.op)
        val n = timed.size.toDouble
        def sumJobs(f: JobStats => Double) = jobs.filter(_.op >= firstTimed).map(f).sum / n
        val gap = timed.map { o =>
          val iv = byOp.getOrElse(o.i, Nil).map(j => (j.start max o.start, (if (j.end < 0) o.end else j.end) min o.end))
            .filter { case (a, b) => b > a }
          (o.end - o.start - Clock.union(iv)) / 1e9
        }
        val common = Map(
          "trace.op_p50_s" -> median(secs),
          "engine.jobs_per_op" -> sumJobs(_ => 1.0),
          "engine.tasks_per_op" -> sumJobs(_.tasks.toDouble),
          "engine.task_cpu_s_per_op" -> sumJobs(_.cpuNs / 1e9),
          "engine.shuffle_mb_per_op" -> sumJobs(_.shuffleBytes / 1e6),
          "engine.spill_mb_per_op" -> sumJobs(_.spillBytes / 1e6),
          "engine.driver_gap_s_per_op" -> gap.sum / n,
          "engine.gc_s_per_op" -> timed.map(_.gcMs).sum / 1000.0 / n,
          "engine.cached_mb_after_op" -> timed.map(_.cachedBytes).sum / 1e6 / n,
          "setup.session_s" -> sessionS,
          "setup.generate_s" -> generateS,
          "setup.warmup_s" -> warmupS)
        val layers = common ++ wl.layers(timed, jobs.filter(_.op >= firstTimed), self)
        Metrics.PerLayer.map { case (name, unit) => name -> (unit, layers.getOrElse(name, 0.0)) }.toMap
      }

    if (traced) writeTrace(runDir.resolve("trace"), tracer, jobs, metrics)
    val info = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "shuffle_partitions" -> shufflePartitions, "ops_timed" -> timed.size,
      "ops_warmup" -> wl.warmupOps,
      "op_s" -> timed.map(_.secs), "setup" -> Map("session_s" -> sessionS,
        "generate_s" -> generateS, "warmup_s" -> warmupS),
      "check_failures" -> failures)
    val out = Json.obj(Map(
      "correct" -> failures.isEmpty,
      "attempted" -> timed.size,
      "failed" -> timed.count(!_.ok),
      "metrics" -> metrics.map { case (k, (u, v)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> info))
    Files.write(Paths.get(args("out")), out.getBytes("UTF-8"))
    spark.stop()
    sys.exit(if (failures.isEmpty) 0 else 3)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def writeTrace(dir: java.nio.file.Path, tracer: Tracer, jobs: Seq[JobStats],
      metrics: Map[String, (String, Double)]): Unit = {
    Files.createDirectories(dir)
    val self = tracer.selfNanos
    Files.write(dir.resolve("spans.jsonl"), tracer.spans.map(s => Json.obj(Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id),
      "jobs" -> jobs.count(_.span == s.id)))).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(dir.resolve("jobs.jsonl"), jobs.map(j => Json.obj(Map(
      "id" -> j.id, "span" -> j.span, "op" -> j.op, "batch" -> j.batchId.fold(-1L)(identity),
      "call_site" -> j.callSite, "start_ns" -> j.start, "end_ns" -> j.end, "tasks" -> j.tasks,
      "run_ms" -> j.runMs, "shuffle_bytes" -> j.shuffleBytes, "written_bytes" -> j.writtenBytes
    ))).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(dir.resolve("layers.json"), Json.obj(metrics.map { case (k, (u, v)) =>
      k -> Map("value" -> v, "unit" -> u) }).getBytes("UTF-8"))
  }
}

/** The metric names and units, in the order BENCHMARK.json lists them. */
object Metrics {
  val PerLayer: Seq[(String, String)] = Seq(
    "trace.op_p50_s" -> "s",
    "pipeline.self_s" -> "s",
    "operators.Consolidation.self_s" -> "s",
    "sinks.upsert.self_s" -> "s",
    "sinks.alert.self_s" -> "s",
    "sinks.compact.self_s" -> "s",
    "sinks.compact.fired" -> "count",
    "sinks.write_bytes_per_input_byte" -> "ratio",
    "sinks.table_files" -> "count",
    "streaming.batch_p50_s" -> "s",
    "streaming.add_batch_s" -> "s",
    "streaming.jobs_per_batch" -> "count",
    "streaming.engine_overhead_s" -> "s",
    "streaming.drain_start_stop_s" -> "s",
    "streaming.sinks_task_s_per_batch" -> "s",
    "streaming.admitted_ratio" -> "ratio",
    "engine.jobs_per_op" -> "count",
    "engine.tasks_per_op" -> "count",
    "engine.task_cpu_s_per_op" -> "s",
    "engine.shuffle_mb_per_op" -> "MB",
    "engine.spill_mb_per_op" -> "MB",
    "engine.driver_gap_s_per_op" -> "s",
    "engine.gc_s_per_op" -> "s",
    "engine.cached_mb_after_op" -> "MB",
    "setup.session_s" -> "s",
    "setup.generate_s" -> "s",
    "setup.warmup_s" -> "s")
}

/** Just enough JSON writing for flat results. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  private def str(s: String) =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
  private def value(v: Any): String = v match {
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case other => str(other.toString)
  }
}
