package graft

import graft.plans.{SimilarityJoin, SimilarityJoinExec, SimilarityJoinPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The level-c custom operator (logical plan + rule + strategy +
  * physical node): planned via the injected strategy, equivalent to the
  * composed dedup_minhash pipeline, and optimized by the threshold-
  * pushdown rule. */
class SimilarityJoinSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def native() =
    SimilarityJoin(Tables.documents(spark, sf), "doc_id", "text",
      shingleN = 3, numHashes = 32, bandRows = 4, threshold = 0.8)

  test("phashPair from digest bytes == the hex-parse phash family") {
    val samples = Seq("", "a", "the quick brown fox", "café ünïcode 漢字",
      "x" * 1000) ++ (1 to 50).map(i => s"shingle $i of words")
    for (s <- samples) {
      val hex = Exprs.md5Hex(s)
      val h1 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val h2 = java.lang.Long.parseLong(hex.substring(15, 29), 16) % (1L << 55)
      assert(SimilarityJoin.phashPair(s) == ((h1, h2)), s"mismatch on '$s'")
    }
  }

  test("plans through the injected strategy as SimilarityJoinExec") {
    // sparkPlan, not executedPlan: the AQE wrapper holds its input plan
    // as a field, not a child, so exists() can't see through it
    val exec = native().queryExecution.sparkPlan
    assert(exec.exists(_.isInstanceOf[SimilarityJoinExec]),
      s"expected the custom physical node:\n${exec.toString.take(500)}")
  }

  test("row-identical to the composed minhash pipeline (same hash family)") {
    val composed = SparkEntry.queries("dedup_minhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = native()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == composed,
      s"native=${got.size} rows, composed=${composed.size} rows")
    assert(got.nonEmpty, "fixture has planted near-dups; result must not be empty")
  }

  test("row-identical to the composed form on adversarial text too") {
    // control chars, trailing separators, unicode case, duplicates —
    // the edges where a tokenizer drift between the RDD operator and
    // the declarative form would first show
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta alpha beta gamma delta"),
      (2L, "alpha beta gamma delta alpha beta gamma delta  \n"),
      (3L, "ALPHA beta GAMMA delta alpha BETA gamma DELTA"),
      (4L, "alpha\tbeta\ngamma delta alpha beta gamma delta"),
      (5L, "Ä Ö ß strasse Ä Ö ß strasse Ä Ö ß strasse"),
      (6L, "ä ö ß strasse ä ö ß strasse ä ö ß strasse"),
      (7L, "")
    ).toDF("doc_id", "text")
    val tmp = tempDir("graft-simadv").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val composed = SparkEntry.queries("dedup_minhash")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val native = SparkEntry.queries("dedup_minhash_native")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(native == composed, s"native=$native composed=$composed")
    assert(composed.exists { case (a, b, _) => (a, b) == (5L, 6L) },
      "case-folded unicode docs must pair")
  }

  test("jaccard >= x filter above the operator folds into its threshold") {
    val filtered = native().filter(col("jaccard") >= 0.9)
    val optimized = filtered.queryExecution.optimizedPlan
    val node = optimized.collect { case sj: SimilarityJoinPlan => sj }
    assert(node.nonEmpty, "operator node survived optimization")
    assert(node.head.threshold == 0.9, s"threshold not pushed: ${node.head.threshold}")
    assert(!optimized.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Filter]),
      s"Filter should be absorbed:\n$optimized")
    // and the pushed plan computes the same rows as filtering afterwards
    val viaFilter = native().collect()
      .filter(_.getDouble(2) >= 0.9).map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPush = filtered.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPush == viaFilter)
  }

  test("a below-threshold filter is NOT folded (it would widen results)") {
    val filtered = native().filter(col("jaccard") >= 0.5)
    val node = filtered.queryExecution.optimizedPlan
      .collect { case sj: SimilarityJoinPlan => sj }
    assert(node.head.threshold == 0.8, "threshold must never loosen")
  }
}
