package graft.obs

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The library's one metrics path: phase tags set by the shipped code,
  * summed by one listener.
  *
  * A phase is a path held in the Spark local property `graft.phase`:
  * `Obs.phase(spark, "b") { … }` inside a scope `a` runs its body under
  * `a/b`, so every job the body submits carries the path. Nothing else
  * is touched — `spark.job.description` stays Structured Streaming's
  * batch label. With no [[Metrics]] installed a phase only sets and
  * restores the property.
  *
  * Local properties are copied into a thread when it is CREATED, so a
  * pooled thread carries whatever its creator had: work handed to a
  * `Future` re-opens the caller's path with [[scope]] + [[within]]. */
object Obs {
  val Key = "graft.phase"

  /** What one phase path cost. Task time is executor run time. */
  final case class Totals(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
      shuffleBytes: Long = 0, spillBytes: Long = 0, wallNs: Long = 0) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskMs + o.taskMs, shuffleBytes + o.shuffleBytes,
      spillBytes + o.spillBytes, wallNs + o.wallNs)

    /** The figures TimeOne and the tools print per phase. */
    def show: String = ("wall_s=%.3f jobs=%d stages=%d tasks=%d task_s=%.3f " +
      "shuffle_mb=%.1f spill_mb=%.1f").formatLocal(java.util.Locale.ROOT,
      wallNs / 1e9, jobs, stages, tasks, taskMs / 1e3,
      shuffleBytes / 1048576.0, spillBytes / 1048576.0)
  }

  private val installed = new CopyOnWriteArrayList[Metrics]()

  /** Run `body` as phase `name` under the current path; its driver wall
    * time is booked to the new path. */
  def phase[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val path = Option(sc.getLocalProperty(Key)).fold(name)(p => s"$p/$name")
    val t0 = System.nanoTime()
    try within(spark, path)(body)
    finally installed.forEach { m =>
      if (m.sc eq sc) m.add(path, Totals(wallNs = System.nanoTime() - t0))
    }
  }

  /** The current path (null outside any phase), to hand to another
    * thread. */
  def scope(spark: SparkSession): String =
    spark.sparkContext.getLocalProperty(Key)

  /** Run `body` with the path set to exactly `path`, then restore. */
  def within[A](spark: SparkSession, path: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, path)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** Register a [[Metrics]] listener on `spark`'s context. Its totals
    * are complete once the listener bus has drained — after
    * `spark.stop()`, or once a later job's events have arrived. */
  def install(spark: SparkSession): Metrics = {
    val m = new Metrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    installed.add(m)
    m
  }

  /** Sums jobs, stages, tasks, task time, shuffle-write and spill bytes
    * per `graft.phase` path; a stage books to the path of the job that
    * submitted it, untagged work to "". */
  final class Metrics private[Obs] (private[Obs] val sc: SparkContext)
      extends SparkListener {
    private val sums = new ConcurrentHashMap[String, Totals]()
    private val stagePath = new ConcurrentHashMap[Int, String]()
    private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()

    private[Obs] def add(path: String, t: Totals): Unit =
      sums.merge(path, t, (a, b) => a + b)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val path = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Key))).getOrElse("")
      e.stageIds.foreach(stagePath.putIfAbsent(_, path))
      jobStages.put(e.jobId, e.stageIds)
      add(path, Totals(jobs = 1))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      add(stagePath.getOrDefault(i.stageId, ""),
        if (m == null) Totals(stages = 1, tasks = i.numTasks)
        else Totals(stages = 1, tasks = i.numTasks,
          taskMs = m.executorRunTime,
          shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.diskBytesSpilled + m.memoryBytesSpilled))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStages.remove(e.jobId)).foreach(_.foreach(stagePath.remove))

    /** Totals per exact path. */
    def totals: Map[String, Totals] = sums.asScala.toMap

    /** Totals of `path` and every path nested under it. Wall time is
      * `path`'s own: a phase's wall already spans its children. */
    def under(path: String): Totals =
      sums.asScala.collect {
        case (p, t) if p.startsWith(path + "/") => t.copy(wallNs = 0)
      }.foldLeft(sums.getOrDefault(path, Totals()))(_ + _)

    /** Unregister from the context; the totals stay readable. */
    def close(): Unit = {
      sc.removeSparkListener(this)
      installed.remove(this)
    }
  }
}
