package graft

import graft.obs.Obs
import graft.streaming.{DedupIngest, EmbedIngest, MultiSignalIngest, NearDupIngest}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The one metrics path: `Obs.phase` paths reach the jobs they submit
  * (nested, across the workers' admit-write Futures, across a real
  * streaming drain), and with no listener installed a phase is only a
  * local property. */
class ObsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One job, one stage, two tasks. */
  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 10, 2).count()

  /** Listener events arrive in order on one queue: once the "barrier"
    * job's stage has reached `m`, everything submitted before it has. */
  private def drained(m: Obs.Metrics): Obs.Metrics = {
    val before = m.under("barrier").stages
    Obs.within(spark, "barrier")(oneJob())
    val deadline = System.currentTimeMillis() + 60000
    while (m.under("barrier").stages == before &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(m.under("barrier").stages > before, "listener bus never drained")
    m
  }

  private def withMetrics[A](f: Obs.Metrics => A): A = {
    val m = Obs.install(spark)
    try f(m) finally m.close()
  }

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, if (i % 5 == 0) "the shared near dup text body repeated"
      else s"unique text $i " + (1 to 8).map(k => s"w${i}x$k").mkString(" "),
      Seq.tabulate(16)(d => if (d == i % 16) 1f else 0.01f * ((i + d) % 7))))
      .toDF("doc_id", "text", "embedding")

  test("nested phases attribute to outer/inner and restore the outer path on return and throw") {
    withMetrics { m =>
      Obs.within(spark, "t") {
        Obs.phase(spark, "outer") {
          Obs.phase(spark, "inner")(oneJob())
          assert(Obs.scope(spark) == "t/outer")
          oneJob()
        }
        assert(Obs.scope(spark) == "t")
        intercept[IllegalStateException] {
          Obs.phase(spark, "boom") {
            Obs.phase(spark, "inner") {
              oneJob()
              throw new IllegalStateException("x")
            }
          }
        }
        assert(Obs.scope(spark) == "t")
      }
      assert(Obs.scope(spark) == null)
      drained(m)
      val t = m.totals
      assert(t("t/outer/inner").jobs == 1 && t("t/outer/inner").tasks == 2)
      assert(t("t/outer").jobs == 1)
      assert(m.under("t/outer").jobs == 2 && m.under("t/outer").stages == 2)
      assert(t("t/boom/inner").jobs == 1)
      assert(!t.contains("t"), "no job ran directly under t")
      assert(t("t/outer").wallNs >= t("t/outer/inner").wallNs)
      assert(m.under("t/outer").wallNs == t("t/outer").wallNs,
        "a phase's wall already spans its children")
    }
  }

  test("admit-write Futures attribute to the caller's admit-upserts phase, not a pooled thread's stale path") {
    // leave a stale path on the global pool's threads: a thread inherits
    // the local properties of the thread that created it
    Obs.within(spark, "stale") {
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence((1 to 16).map(_ =>
        Future(Thread.sleep(50)))), 1.minute)
    }
    val ids = 0L until 40L
    withMetrics { m =>
      Obs.within(spark, "nd") {
        NearDupIngest.processBatch(docs(ids).drop("embedding"), 0L,
          tempDir("graft-obs-nd").resolve("wh").toString)
      }
      Obs.within(spark, "ms") {
        MultiSignalIngest.processBatch(docs(ids), 0L,
          tempDir("graft-obs-ms").resolve("wh").toString)
      }
      Obs.within(spark, "em") {
        EmbedIngest.processBatch(
          docs(ids).withColumnRenamed("doc_id", "vec_id").drop("text"), 0L,
          tempDir("graft-obs-em").resolve("wh").toString)
      }
      drained(m)
      for (q <- Seq("nd", "ms", "em")) {
        assert(m.under(s"$q/admit-upserts").jobs > 0,
          s"$q: the admit writes' jobs lost the caller's phase")
        for (p <- Seq("in-count", "pairs-mat", "cluster-fixpt",
            "corpus-check", "log-upsert"))
          assert(m.under(s"$q/$p").jobs > 0, s"$q/$p ran no tagged job")
      }
      val stray = m.totals.collect {
        case (p, t) if t.jobs > 0 && !Seq("nd", "ms", "em", "barrier")
          .exists(q => p == q || p.startsWith(q + "/")) => p
      }
      assert(stray.isEmpty, s"jobs booked outside the callers' scopes: $stray")
    }
  }

  test("a NearDupIngest.start drain books its batch phases under the scope open at start") {
    val base = tempDir("graft-obs-drain")
    val flat = base.resolve("in").toString
    new java.io.File(flat).mkdirs()
    StreamFiles.landOne(base, flat, "f0",
      docs((0L until 20L).filter(_ % 2 == 0)).drop("embedding"))
    StreamFiles.landOne(base, flat, "f1",
      docs((0L until 20L).filter(_ % 2 == 1)).drop("embedding"))
    withMetrics { m =>
      val q = Obs.within(spark, "drain") {
        NearDupIngest.start(spark, flat, base.resolve("wh").toString,
          base.resolve("ckpt").toString)
      }
      assert(q.awaitTermination(120000), "drain did not finish")
      drained(m)
      for (p <- Seq("in-count", "pairs-mat", "cluster-fixpt",
          "corpus-check", "admit-upserts", "log-upsert"))
        assert(m.under(s"drain/$p").jobs > 0, s"drain/$p ran no tagged job")
      assert(m.totals.get("drain").forall(_.jobs == 0),
        s"jobs booked to the bare drain scope, outside every batch phase: ${m.totals.get("drain")}")
      assert(m.totals.keys.forall(p => p.isEmpty || p == "barrier" ||
        p == "drain" || p.startsWith("drain/")),
        s"a batch phase escaped the drain's scope: ${m.totals.keys}")
    }
  }

  test("a DedupIngest.start drain books its batch phases under the scope open at start") {
    val base = tempDir("graft-obs-dedup")
    val flat = base.resolve("in").toString
    new java.io.File(flat).mkdirs()
    StreamFiles.landOne(base, flat, "f0",
      docs((0L until 20L).filter(_ % 2 == 0)).drop("embedding"))
    StreamFiles.landOne(base, flat, "f1",
      docs((0L until 20L).filter(_ % 2 == 1)).drop("embedding"))
    withMetrics { m =>
      val q = Obs.within(spark, "dedup") {
        DedupIngest.start(spark, flat, base.resolve("wh").toString,
          base.resolve("ckpt").toString)
      }
      assert(q.awaitTermination(120000), "drain did not finish")
      drained(m)
      for (p <- Seq("corpus-check", "admit-upserts", "log-upsert"))
        assert(m.under(s"dedup/$p").jobs > 0, s"dedup/$p ran no tagged job")
      assert(m.totals.keys.forall(p => p.isEmpty || p == "barrier" ||
        p == "dedup" || p.startsWith("dedup/")),
        s"a batch phase escaped the drain's scope: ${m.totals.keys}")
    }
  }

  test("with no listener installed a phase launches no job and changes only graft.phase") {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(String.valueOf(e.properties.getProperty(Obs.Key)))
    }
    def props: Map[String, String] = Seq(Obs.Key, "spark.job.description",
        "spark.jobGroup.id", "spark.job.tags", "spark.scheduler.pool",
        "spark.sql.execution.id")
      .map(k => k -> sc.getLocalProperty(k)).toMap
    sc.addSparkListener(probe)
    try {
      sc.setJobDescription("caller's description")
      val before = props
      val inside = Obs.phase(spark, "idle")(props)
      assert(before(Obs.Key) == null &&
        before("spark.job.description") == "caller's description")
      assert(inside == before + (Obs.Key -> "idle"))
      assert(props == before)
      Obs.within(spark, "barrier")(oneJob())
      val deadline = System.currentTimeMillis() + 60000
      while (!starts.contains("barrier") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(starts.toArray.toSeq == Seq("barrier"),
        s"jobs other than the barrier ran: ${starts.toArray.toSeq}")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(probe)
    }
  }
}
