package graft

import graft.operators.LayoutOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.LayoutOps]]: the Morton interleave must match a
  * bit-level reference, and the z-ordered layout must actually deliver
  * the 2-D skipping that justifies it — fewer rows scanned for a box
  * query than a single-dimension layout with the same file count.
  */
class ZOrderLayoutSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Straight-loop reference interleave. */
  private def refZ(x: Int, y: Int): Long = {
    var z = 0L
    for (i <- 0 until 16)
      z |= (((x >> i) & 1).toLong << (2 * i)) |
        (((y >> i) & 1).toLong << (2 * i + 1))
    z
  }

  test("zvalue16 matches the bit-loop reference on random 16-bit pairs") {
    val rnd = new scala.util.Random(11)
    val cases = Seq((0, 0), (65535, 65535), (65535, 0), (0, 65535)) ++
      Seq.fill(500)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val df = cases.map { case (x, y) => (x.toLong, y.toLong, refZ(x, y)) }
      .toDF("x", "y", "expected")
      .select(LayoutOps.zvalue16(col("x"), col("y")).as("z"), col("expected"))
    assert(df.filter(col("z") =!= col("expected")).isEmpty)
  }

  test("z-order buckets skip a 2-D box query better than partkey-only buckets") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_partkey"), col("l_suppkey"))
    val b = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    val (minP, maxP, minS, maxS) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    // box selective in BOTH dimensions: middle ~10% of each key range
    val (loP, hiP) = (minP + (maxP - minP) * 45 / 100, minP + (maxP - minP) * 55 / 100)
    val (loS, hiS) = (minS + (maxS - minS) * 45 / 100, minS + (maxS - minS) * 55 / 100)

    def scannedRows(bucketed: org.apache.spark.sql.DataFrame): Long =
      bucketed.groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("mnp"), max("l_partkey").as("mxp"),
          min("l_suppkey").as("mns"), max("l_suppkey").as("mxs"))
        // a file is opened iff its bounding box intersects the query box
        .filter(col("mxp") >= loP && col("mnp") <= hiP &&
          col("mxs") >= loS && col("mns") <= hiS)
        .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)

    val zScanned = scannedRows(
      LayoutOps.withZValue(li, "l_partkey", "l_suppkey")
        .withColumn("bucket", expr("z div 67108864")))
    // same file count (64), laid out by partkey alone
    val linScanned = scannedRows(li.withColumn("bucket",
      expr(s"((l_partkey - $minP) * 64) div greatest(${maxP - minP} + 1, 1)")))
    val total = li.count()
    val answer = li.filter(col("l_partkey").between(loP, hiP) &&
      col("l_suppkey").between(loS, hiS)).count()

    // both layouts must at least cover the true answer
    assert(zScanned >= answer && linScanned >= answer)
    // the partkey layout cannot prune on suppkey, so it scans the whole
    // partkey stripe; the z-order layout prunes both dimensions and must
    // scan strictly less
    assert(zScanned < linScanned,
      s"z-order scanned $zScanned vs linear $linScanned (total $total, answer $answer)")
  }

  test("zorderWrite round-trips the data and bounds per-file boxes") {
    val dir = tempDir("zorder").toString
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    LayoutOps.zorderWrite(li, "l_partkey", "l_suppkey", dir, 8)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSet == Set("l_partkey", "l_suppkey", "l_extendedprice"))
    assert(back.count() == li.count())
    // per-file 2-D bounding boxes must be tighter in aggregate than the
    // global box times the file count (i.e. the layout clustered rows)
    val withFile = back.withColumn("f", input_file_name())
    val boxes = withFile.groupBy("f")
      .agg((max("l_partkey") - min("l_partkey")).as("wp"),
        (max("l_suppkey") - min("l_suppkey")).as("ws"))
      .select("wp", "ws")
      .collect()
    assert(boxes.length == 8)
    val (gp, gs) = (boxes.map(_.getLong(0)).max.toDouble,
      boxes.map(_.getLong(1)).max.toDouble)
    val meanArea = boxes.map(r => r.getLong(0).toDouble * r.getLong(1)).sum / 8
    val globalArea = boxes.map(r => r.getLong(0).toDouble).max *
      boxes.map(r => r.getLong(1).toDouble).max
    assert(meanArea < globalArea,
      s"files are not clustered: mean box area $meanArea vs global $globalArea ($gp x $gs)")
  }
}
