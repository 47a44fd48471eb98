package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The fixtures root holds declared fixtures only: a derived fixture is
  * rebuilt when its source changes at the same path, and no registered
  * query parks its result there for a later run to read. */
class FixturesSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def withFixturesRoot[T](root: Path)(body: => T): T = {
    val prev = sys.props.get("graft.fixtures.dir")
    sys.props("graft.fixtures.dir") = root.toString
    try body
    finally prev match {
      case Some(v) => sys.props("graft.fixtures.dir") = v
      case None => sys.props -= "graft.fixtures.dir"
    }
  }

  test("nestedOrders is rebuilt after lineitem is rewritten at the same path") {
    val sfDir = tempDir("graft-fixtures-sf")
    val li = sfDir.resolve("lineitem.parquet")
    Tables.lineitem(spark, sf).write.parquet(li.toString)
    val root = tempDir("graft-fixtures-root")
    withFixturesRoot(root) {
      val orders = Tables.lineitem(spark, sfDir.toString)
        .select(col("l_orderkey")).distinct().count()
      assert(Fixtures.nestedOrders(spark, sfDir.toString).count() == orders)
      // keep the even orders, rewritten in place
      val staged = sfDir.resolve("lineitem.staged").toString
      Tables.lineitem(spark, sfDir.toString).filter(col("l_orderkey") % 2 === 0)
        .write.parquet(staged)
      Fixtures.deleteRecursively(li)
      Files.move(java.nio.file.Paths.get(staged), li)
      val fewer = Tables.lineitem(spark, sfDir.toString)
        .select(col("l_orderkey")).distinct().count()
      assert(fewer < orders)
      assert(Fixtures.nestedOrders(spark, sfDir.toString).count() == fewer)
    }
    // the rebuild replaced the superseded image instead of adding one
    val list = Files.list(root)
    val images = try list.iterator().asScala.toList finally list.close()
    assert(images.size == 1, s"images under the fixtures root: ${images.mkString(", ")}")
  }

  test("the truth-set and lexical-cluster queries write nothing under the fixtures root") {
    val root = tempDir("graft-fixtures-root")
    withFixturesRoot(root) {
      for (q <- Seq("dedup_lsh_recall", "dedup_lsh_recall_sampled",
          "dedup_multi_signal", "ta_split_multi_signal", "ta_split_leakage_safe"))
        assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)
    }
    val list = Files.list(root)
    val left = try list.iterator().asScala.map(_.getFileName).toList finally list.close()
    assert(left.isEmpty, s"written under the fixtures root: ${left.mkString(", ")}")
  }
}
