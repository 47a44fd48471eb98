package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One span around a call into a layer. Times are epoch nanoseconds. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, var end: Long = -1L)

/** Spans kept in memory on the driver thread. Each span publishes its id
  * as a Spark local property before the call, so every job the call
  * submits (streaming batches included: their thread inherits the
  * properties at query start) is attributed to the innermost open span. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, Clock.now)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = Clock.now
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self time per span: duration minus the part its children cover. */
  def selfNanos: Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Clock.union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"
}

object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochNanos = System.currentTimeMillis() * 1000000L
  /** epoch nanoseconds with nanoTime resolution */
  def now: Long = baseEpochNanos + (System.nanoTime() - baseNanos)
  /** total length of the union of [start, end) intervals */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** What the engine did for one job. */
final class JobStats(val id: Int, val start: Long, val span: Int, val op: Int,
    val batchId: Option[Long], val callSite: String) {
  var end: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writtenBytes = 0L
}

/** A `SparkListener` that keeps per-job task totals keyed by the span and
  * op properties the driver thread set when the job was submitted.
  * Installed only in a traced run. */
final class EngineListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, JobStats]
  @volatile private var lastEvent = System.nanoTime()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    // the last stage is the result stage; its name is the job's short
    // call site ("count at UpsertWriter.scala:123")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val j = new JobStats(e.jobId, e.time * 1000000L,
      prop(p, Tracer.SpanKey).fold(-1)(_.toInt), prop(p, Tracer.OpKey).fold(-1)(_.toInt),
      prop(p, "streaming.sql.batchId").map(_.toLong), site)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
    lastEvent = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
    lastEvent = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.writtenBytes += m.outputMetrics.bytesWritten
    }
    lastEvent = System.nanoTime()
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment (events arrive asynchronously). */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def done = synchronized(jobs.valuesIterator.forall(_.end >= 0)) &&
      System.nanoTime() - lastEvent > 200000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def snapshot: Seq[JobStats] = synchronized(jobs.values.toSeq)
}
