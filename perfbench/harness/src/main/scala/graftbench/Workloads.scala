package graftbench

import graft.{Pipeline, Sessions, Tables}
import graft.operators.Consolidation
import graft.sinks.{AlertSink, UpsertWriter}
import graft.streaming.DedupIngest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable

/** What every workload shares: the session, the run's scratch tree, the
  * seeded generator and the tracer. */
final case class Ctx(spark: SparkSession, runDir: Path, seed: Long, tiny: Boolean,
    corrupt: Boolean, tracer: Tracer) {
  def dir(name: String): String = runDir.resolve(name).toString
  val gen = new Gen(spark, seed)
}

/** A closed-loop workload with one client: op i starts after op i-1
  * returns. Ops [0, warmupOps) warm the JVM and are not timed. */
trait Workload {
  def warmupOps: Int
  /** generate the inputs (counted in setup.generate_s) */
  def setup(): Unit
  /** one timed op */
  def op(i: Int): Unit
  /** untimed client work after op i */
  def afterOp(i: Int): Unit = ()
  /** input rows op i processed */
  def rows(i: Int): Long
  /** correctness failures (empty = correct), after the timed phase */
  def check(ops: Seq[OpResult]): Seq[String]
  /** workload-specific per-layer metrics of a traced run */
  def layers(ops: Seq[OpResult], jobs: Seq[JobStats], self: Map[Int, Long]): Map[String, Double]
}

final case class OpResult(i: Int, start: Long, end: Long, ok: Boolean, gcMs: Long, cachedBytes: Long) {
  def secs: Double = (end - start) / 1e9
}

object Hash {
  /** order-insensitive (row count, content hash) of a frame */
  def of(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(df)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
  def rowHash(df: DataFrame): Column =
    pmod(xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*), lit(1L << 31))
}

object Dirs {
  def parquetFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(_.toString.endsWith(".parquet")).count() finally w.close()
    }
  }
  def bytes(dir: String): Long = {
    val w = Files.walk(Paths.get(dir))
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
  }
}

/** The paper's flagship cron job: each op is one `Pipeline.runDaily`
  * over the next day slice into one persistent warehouse. */
final class DailyMart(c: Ctx) extends Workload {
  import c.spark
  val rowsPerDay: Long = if (c.tiny) 20000L else 200000L
  val parts: Long = if (c.tiny) 2000L else 20000L
  val suppliers = 1000L
  val slices = 2
  val warmupOps = if (c.tiny) 1 else 5
  private val wh = c.dir("wh")
  private val mart = s"$wh/relatorio_diario"
  private def dayDir(i: Int) = c.dir(s"data/day${i % slices}")
  private var inputBytes = 0L
  private var compactions = 0

  def setup(): Unit = {
    val part = c.dir("data/part.parquet")
    c.gen.write(c.gen.part(parts), part)
    for (d <- 0 until slices) {
      c.gen.write(c.gen.lineitem(rowsPerDay, parts, suppliers, first = d * rowsPerDay),
        s"${dayDir(d)}/lineitem.parquet", 3)
      Files.createSymbolicLink(Paths.get(dayDir(d), "part.parquet"), Paths.get(part))
    }
    inputBytes = Dirs.bytes(s"${dayDir(0)}/lineitem.parquet") + Dirs.bytes(part)
  }

  def rows(i: Int): Long = rowsPerDay

  def op(i: Int): Unit =
    if (!c.tracer.enabled) Pipeline.runDaily(spark, dayDir(i), wh, runVersion = i + 1L, noReplayers = true)
    else traced(i)

  /** The public steps `runDaily` takes, in order, each in its own span. */
  private def traced(i: Int): Unit = c.tracer("Pipeline.runDaily") {
    val t = c.tracer
    val day = dayDir(i)
    Sessions.tune(spark)
    require(UpsertWriter.taggedDeltas(mart).isEmpty, "tagged deltas under the mart")
    val m = t("operators.Consolidation") {
      val m = Consolidation.relatorio(spark, day).withColumn("run_version", lit(i + 1L)).persist()
      m.count()
      m
    }
    try {
      t("sinks.upsert") {
        UpsertWriter.upsert(spark, mart, m, keys = Seq("id_anuncio", "id_anuncio_variacao"),
          versionCol = "run_version")
      }
      t("sinks.alert") {
        val unmapped = Tables.part(spark, day)
          .join(Tables.lineitem(spark, day).filter(col("l_quantity") >= 48.0),
            col("p_partkey") === col("l_partkey"), "left_anti")
          .select(col("p_partkey"), col("p_name"), col("p_brand"))
        AlertSink.emit(spark, s"$wh/alerts", unmapped, i + 1L)
      }
      t("sinks.compact") {
        if (Dirs.parquetFiles(mart) > 64) {
          UpsertWriter.compact(spark, mart)
          compactions += 1
        }
      }
      t("sinks.clear_replay") { UpsertWriter.clearReplayMetadata(mart) }
    } finally m.unpersist()
  }

  private def martHash(path: String): (Long, Long) = {
    val cols = Consolidation.relatorio(spark, dayDir(0)).columns :+ "run_version"
    Hash.of(spark.read.parquet(path).select(cols.toIndexedSeq.map(col): _*))
  }

  def check(ops: Seq[OpResult]): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    if (c.corrupt) {
      // a restated row with a wrong value, as a lost update would leave
      spark.read.parquet(mart).limit(1).withColumn("faturamento_total", lit(-1.0))
        .write.mode("append").parquet(mart)
    }
    // last-write-wins over each slice's latest run, computed here
    // rather than by the sink
    val done = ops.filter(_.ok)
    val latest = done.groupBy(_.i % slices).map { case (d, os) => d -> (os.map(_.i).max + 1L) }
    val expected = latest.toSeq.map { case (d, v) =>
      Consolidation.relatorio(spark, dayDir(d)).withColumn("run_version", lit(v))
    }.reduce(_ unionByName _)
      .withColumn("__r", row_number().over(Window.partitionBy("id_anuncio", "id_anuncio_variacao")
        .orderBy(col("run_version").desc)))
      .filter(col("__r") === 1).drop("__r")
    val got = martHash(mart)
    val want = Hash.of(expected)
    if (got != want) fails += s"mart (rows, hash) $got != last-write-wins $want"
    if (c.tracer.enabled) {
      // the recomposed steps must leave the mart runDaily leaves; the
      // last three ops (inserts of a fresh warehouse, then updates) replay
      val wh2 = c.dir("wh-untraced")
      ops.filter(_.ok).takeRight(3).foreach(o =>
        Pipeline.runDaily(spark, dayDir(o.i), wh2, runVersion = o.i + 1L, noReplayers = true))
      val plain = martHash(s"$wh2/relatorio_diario")
      if (plain != got) fails += s"traced mart $got != runDaily mart $plain"
    }
    fails.toSeq
  }

  def layers(ops: Seq[OpResult], jobs: Seq[JobStats], self: Map[Int, Long]): Map[String, Double] = {
    val spans = c.tracer.spans.filter(s => ops.exists(_.i == s.op))
    def perOp(name: String) =
      spans.filter(_.name == name).map(s => self(s.id)).sum / 1e9 / ops.size
    val sinkSpans = spans.filter(_.name.startsWith("sinks.")).map(_.id).toSet
    val written = jobs.filter(j => sinkSpans(j.span)).map(_.writtenBytes).sum
    Map(
      "pipeline.self_s" -> perOp("Pipeline.runDaily"),
      "operators.Consolidation.self_s" -> perOp("operators.Consolidation"),
      "sinks.upsert.self_s" -> perOp("sinks.upsert"),
      "sinks.alert.self_s" -> perOp("sinks.alert"),
      "sinks.compact.self_s" -> perOp("sinks.compact"),
      "sinks.compact.fired" -> compactions.toDouble,
      "sinks.write_bytes_per_input_byte" -> written.toDouble / (inputBytes * ops.size),
      "sinks.table_files" -> Dirs.parquetFiles(mart).toDouble)
  }
}

/** The queue worker: each op lands files of documents, then drains them
  * with one `Pipeline.runDedupIngest` AvailableNow run. */
final class DedupIngestLoad(c: Ctx) extends Workload {
  import c.spark
  val docsPerOp: Int = if (c.tiny) 100 else 400
  val filesPerOp = 2
  val warmupOps = if (c.tiny) 1 else 4
  private val chunk = 20
  private val staged = c.dir("staged")
  private val input = c.dir("input")
  private val wh = c.dir("wh")
  private val ckpt = c.dir("ckpt")
  private var generated = 0
  private val landedBytes = mutable.Map.empty[Int, Long]
  private val progress = mutable.Map.empty[Int, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]

  private def generate(): Unit = {
    c.gen.dedupDocs(generated, generated + chunk, docsPerOp)
      .withColumn("f", pmod(col("doc_id"), lit(filesPerOp.toLong)))
      .repartition(col("op"), col("f"))
      .write.partitionBy("op", "f").parquet(s"$staged/chunk$generated")
    generated += chunk
  }

  def setup(): Unit = {
    Files.createDirectories(Paths.get(input))
    generate()
  }

  def rows(i: Int): Long = docsPerOp

  def op(i: Int): Unit = {
    c.tracer("client.land") {
      val base = Paths.get(staged, s"chunk${i / chunk * chunk}", s"op=$i")
      for (f <- 0 until filesPerOp) {
        val s = Files.list(base.resolve(s"f=$f"))
        val file = try s.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet")).head
        finally s.close()
        landedBytes(i) = landedBytes.getOrElse(i, 0L) + Files.size(file)
        Files.move(file, Paths.get(input, f"op$i%05d-f$f.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
    }
    val q = c.tracer("Pipeline.runDedupIngest") {
      Pipeline.runDedupIngest(spark, input, wh, ckpt, filesPerTrigger = filesPerOp)
    }
    c.tracer("streaming.drain") { q.awaitTermination() }
    q.exception.foreach(e => throw e)
    progress(i) = q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  override def afterOp(i: Int): Unit = if (i + 1 >= generated) generate()

  def check(ops: Seq[OpResult]): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val survivors = s"$wh/dedup_survivors"
    if (c.corrupt) {
      // a second copy of an admitted text, as a missed duplicate would leave
      DedupIngest.survivors(spark, wh).limit(1).withColumn("doc_id", col("doc_id") + 1)
        .write.mode("append").parquet(survivors)
    }
    val landed = spark.read.parquet(input)
    val first = landed.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val got = DedupIngest.survivors(spark, wh).select("doc_id")
    val (nGot, nFirst) = (got.count(), first.count())
    val extra = got.except(first).count()
    if (nGot != nFirst || extra != 0)
      fails += s"survivors: $nGot rows, $extra not first-arriving; expected $nFirst"
    val log = DedupIngest.ingestLog(spark, wh).agg(sum("n_in"), sum("n_admitted")).head()
    val nLanded = landed.count()
    if (log.getLong(0) != nLanded) fails += s"log sum(n_in) ${log.getLong(0)} != $nLanded landed"
    val ratio = log.getLong(1).toDouble / log.getLong(0)
    if (math.abs(ratio - Gen.DedupAdmitted) > 1e-9)
      fails += s"admitted ratio $ratio != generated ${Gen.DedupAdmitted}"
    fails.toSeq
  }

  def layers(ops: Seq[OpResult], jobs: Seq[JobStats], self: Map[Int, Long]): Map[String, Double] = {
    val timed = ops.map(_.i).toSet
    val prog = ops.flatMap(o => progress.getOrElse(o.i, Nil))
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble / 1000).getOrElse(0.0)
    val batches = math.max(prog.size, 1)
    val trig = prog.map(d(_, "triggerExecution")).sorted
    val batchJobs = jobs.filter(j => j.batchId.isDefined && timed(j.op))
    val spans = c.tracer.spans.filter(s => timed(s.op))
    def named(n: String) = spans.filter(_.name == n)
    val log = DedupIngest.ingestLog(spark, wh).agg(sum("n_in"), sum("n_admitted")).head()
    Map(
      "pipeline.self_s" -> named("Pipeline.runDedupIngest").map(s => self(s.id)).sum / 1e9 / ops.size,
      "sinks.write_bytes_per_input_byte" ->
        jobs.filter(j => timed(j.op)).map(_.writtenBytes).sum.toDouble /
          ops.map(o => landedBytes(o.i)).sum,
      "sinks.table_files" -> (Dirs.parquetFiles(s"$wh/dedup_survivors") +
        Dirs.parquetFiles(s"$wh/dedup_log")).toDouble,
      "streaming.batch_p50_s" -> (if (trig.isEmpty) 0.0 else trig(trig.size / 2)),
      "streaming.add_batch_s" -> prog.map(d(_, "addBatch")).sum / batches,
      "streaming.jobs_per_batch" -> batchJobs.size.toDouble / batches,
      "streaming.engine_overhead_s" -> prog.map(p =>
        Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets").map(d(p, _)).sum
      ).sum / batches,
      "streaming.drain_start_stop_s" ->
        (named("streaming.drain").map(s => (s.end - s.start) / 1e9).sum - trig.sum) / ops.size,
      "streaming.sinks_task_s_per_batch" ->
        batchJobs.filter(_.writtenBytes > 0).map(_.runMs).sum / 1000.0 / batches,
      "streaming.admitted_ratio" -> log.getLong(1).toDouble / log.getLong(0))
  }
}
