package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the round-4 batch-2 operators: triangle counting
  * (planted graph), containment asymmetry, IVM merge ≡ direct
  * recompute, and the sort-based skyline against an in-memory
  * brute-force dominance check.
  */
class ParetoGraphSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def lineitemDf(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("l_orderkey", "l_partkey")
      .withColumn("l_suppkey", lit(1L))
      .withColumn("l_linenumber", lit(1))
      .withColumn("l_quantity", lit(1.0))
      .withColumn("l_extendedprice", lit(1.0))
      .withColumn("l_discount", lit(0.0))
      .withColumn("l_tax", lit(0.0))
      .withColumn("l_returnflag", lit("N"))
      .withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate",
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
  }

  test("triangles: one planted clique-3 gives each corner one triangle") {
    // order 1 holds parts {1,2,3} (one triangle); order 2 holds {1,2}
    // (repeats an edge, adds nothing); part 9 rides alone in order 3.
    val li = lineitemDf(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L),
      (3L, 9L)))
    val tmp = tempDir("graft-tri").toString
    li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val out = SparkEntry.queries("graph_triangles")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"planted triangle miscounted: $out")
  }

  test("triangles: clique-4 gives every corner C(3,2)=3 triangles") {
    val li = lineitemDf(Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L)))
    val tmp = tempDir("graft-tri4").toString
    li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val out = SparkEntry.queries("graph_triangles")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"$out")
  }

  test("edge jaccard: planted two-order graph scores exactly") {
    // orders {1,2,3} and {1,2,4}: N(1)={2,3,4}, N(2)={1,3,4},
    // N(3)=N(4)={1,2}. Edge (1,2): common {3,4}, union size 4 -> 0.5;
    // edges (1,3),(1,4),(2,3),(2,4): common 1, union 4 -> 0.25.
    val li = lineitemDf(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 4L)))
    val tmp = tempDir("graft-ej").toString
    li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val rows = SparkEntry.queries("graph_edge_jaccard")(spark, tmp)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val node1 = rows.filter(_._1 == 1L).sortBy(_._2).toSeq
    assert(node1 == Seq((1L, 1L, 2L, 2L, 0.5),
      (1L, 2L, 3L, 1L, 0.25), (1L, 3L, 4L, 1L, 0.25)), s"$node1")
    // node 3 and 4 never co-occur: no edge between them anywhere
    assert(!rows.exists(r => Set(r._1, r._3) == Set(3L, 4L)))
  }

  test("containment: values in (0,1], asymmetry tracks set sizes") {
    val rows = SparkEntry.queries("dedup_containment")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty, "planted near-dups must surface")
    rows.foreach { case (_, _, ca, cb) =>
      assert(ca > 0 && ca <= 1.0 && cb > 0 && cb <= 1.0)
      assert(math.max(ca, cb) >= 0.8, "threshold must hold")
    }
  }

  test("ivm merge equals a direct one-shot aggregation") {
    val merged = SparkEntry.queries("ivm_delta_merge")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val direct = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"))
      .agg(Exprs.dsum(col("l_extendedprice")).as("rev"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(merged.keySet == direct.keySet)
    merged.foreach { case (k, (rev, n)) =>
      assert(direct(k) == ((rev, n)), s"part $k: $rev/$n vs ${direct(k)}")
    }
  }

  test("knn graph: symmetric pairs, <=3 ranked neighbors per doc") {
    val rows = SparkEntry.queries("dedup_knn_graph")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_._1)
    byDoc.values.foreach { g =>
      assert(g.length <= 3)
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(1L to g.length.toLong),
        "ranks must be 1..k dense")
      val jac = sorted.map(_._4)
      assert(jac.zip(jac.drop(1)).forall { case (a, b) => a >= b })
    }
    // planted near-dups surface as high-jaccard rank-1 edges, never
    // self-loops, and every such edge has its mirror in the graph
    val edges = rows.map(r => (r._1, r._3)).toSet
    assert(rows.forall(r => r._1 != r._3), "no self-loops")
    val strong = rows.filter(r => r._2 == 1L && r._4 >= 0.8)
    assert(strong.nonEmpty, "planted near-dups must rank first")
    strong.foreach { r =>
      assert(edges.contains((r._3, r._1)),
        s"edge ${r._1}->${r._3} lacks its mirror")
    }
  }

  test("skyline matches a brute-force dominance scan") {
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val expect = parts.filter { case (_, pp, ps) =>
      !parts.exists { case (_, qp, qs) =>
        qp <= pp && qs >= ps && (qp < pp || qs > ps)
      }
    }.map(_._1).toSet
    val got = SparkEntry.queries("sky1_pareto_front")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect,
      s"missing=${expect -- got} extra=${got -- expect}")
  }
}
