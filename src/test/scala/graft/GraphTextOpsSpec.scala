package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic properties of the round-4 extension operators: fixed-point
  * PageRank, TF-IDF ranking, capped posting lists, cohort retention,
  * decay scoring, and ANN recall — properties the row-compare oracle
  * can't express (mass conservation, cap enforcement, monotonicity).
  */
class GraphTextOpsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("pagerank: every node keeps >= the teleport floor and ranks vary") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 150000L),
      "teleport term is a hard floor for every node")
    assert(rows.map(_._2).distinct.length > 1,
      "a non-regular graph must produce non-uniform ranks")
  }

  test("pagerank: a planted star concentrates rank on the hub") {
    // star graph: orders {1..5} each pair hub part 100 with leaf 200+i.
    // Co-occurrence edges: hub<->each leaf. Hub indegree 5, leaves 1.
    import spark.implicits._
    val li = (1 to 5).flatMap { i =>
      Seq((i.toLong, 100L), (i.toLong, 200L + i))
    }.toDF("l_orderkey", "l_partkey")
      .withColumn("l_suppkey", lit(1L))
      .withColumn("l_linenumber", lit(1))
      .withColumn("l_quantity", lit(1.0))
      .withColumn("l_extendedprice", lit(1.0))
      .withColumn("l_discount", lit(0.0))
      .withColumn("l_tax", lit(0.0))
      .withColumn("l_returnflag", lit("N"))
      .withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val tmp = tempDir("graft-star").toString
    li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val ranks = SparkEntry.queries("graph_pagerank")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hub collects every leaf's full rank each round; leaves split the
    // hub's. After 3 rounds the hub must strictly dominate.
    assert(ranks(100L) > ranks(201L),
      s"hub must outrank leaves: $ranks")
    // leaves are symmetric — identical ranks
    assert((1 to 5).map(i => ranks(200L + i)).distinct.size == 1)
  }

  test("tfidf: rank window emits <=3 rows per doc, scores descend") {
    val rows = SparkEntry.queries("ta_tfidf")(spark, sf)
      .select("doc_id", "rnk", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.values.forall(_.length <= 3))
    byDoc.values.foreach { g =>
      val scores = g.sortBy(_._2).map(_._3)
      assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b },
        "score must be non-increasing in rank")
    }
  }

  test("inverted index: posting lists are capped at 10 and sorted") {
    val rows = SparkEntry.queries("ta_inverted_index")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { case (term, df, posting) =>
      val ids = posting.split(",").map(_.toLong)
      assert(ids.length <= 10, s"$term posting over cap")
      assert(ids.length == math.min(df, 10L), s"$term posting short of cap")
      assert(ids.sameElements(ids.sorted), s"$term posting unsorted")
    }
  }

  test("cohort retention: month-0 activity equals cohort size") {
    // every customer is active in their own first-order month, so the
    // months_since=0 row of each cohort counts the whole cohort
    val o = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
    val cohortSizes = o.groupBy("o_custkey").agg(min(col("mi")).as("c"))
      .groupBy("c").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val m0 = SparkEntry.queries("coh1_retention")(spark, sf)
      .filter(col("months_since") === 0)
      .select(
        (year(col("cohort")) * 12 + month(col("cohort"))).as("c"),
        col("n_active"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m0 == cohortSizes)
  }

  test("decay score: an event today outweighs any older same-value event") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-10 12:00:00")
    def at(days: Int) =
      new java.sql.Timestamp(t0.getTime - days * 86400000L)
    val ev = Seq(
      (1L, t0, 1L, "view", 100.0, "{}"),
      (2L, at(1), 2L, "view", 100.0, "{}"),
      (3L, at(5), 3L, "view", 100.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = tempDir("graft-decay").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("ts_decay_score")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 100000000L, "same-day event keeps full value")
    assert(out(2L) == 50000000L, "1-day-old event halves")
    assert(out(3L) == 3125000L, "5 half-lives = value/32")
  }

  test("ann recall: hits within [0,5] and recall = hits/5") {
    val rows = SparkEntry.queries("ann_recall_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 8, "one row per query vector")
    rows.foreach { case (_, hits, recall) =>
      assert(hits >= 0 && hits <= 5)
      assert(recall == hits / 5.0)
    }
  }
}
