package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, column salt) through `xxhash64`, so the same seed gives
  * byte-identical inputs whatever the partitioning. Shapes and value
  * ranges follow the star-schema fixtures the library's queries are
  * written against. */
final class Gen(spark: SparkSession, seed: Long) {

  /** uniform long in [0, n) for the current row's `id` */
  private def h(salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(Long.MaxValue))
  private def uniform(salt: Int, n: Long, id: Column = col("id")): Column =
    pmod(h(salt, id), lit(n))
  /** uniform double in [lo, hi) rounded to 2 decimals */
  private def money(salt: Int, lo: Double, hi: Double, id: Column = col("id")): Column =
    round(lit(lo) + uniform(salt, 1L << 30, id).cast(DoubleType) / (1L << 30) * (hi - lo), 2)

  private def rows(n: Long): DataFrame = spark.range(0, n, 1, 3).toDF()

  def write(df: DataFrame, path: String, files: Int = 1): Unit =
    df.coalesce(files).write.mode("overwrite").parquet(path)

  private val Vocab: Seq[String] = Seq("join", "a", "value", "fast", "column", "sort",
    "scan", "small", "customer", "merge", "hash", "line", "spark", "part",
    "batch", "slow", "group", "row", "filter", "query", "key", "big",
    "window", "table", "stream", "order", "data", "vector", "agg", "the")

  /** `n` words drawn from [[Vocab]], seeded by `textId` */
  private def words(textId: Column, n: Column): Column = {
    val vocab = array(Vocab.map(lit): _*)
    array_join(transform(sequence(lit(1), n), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), textId, i), lit(Vocab.size.toLong)) + 1).cast(IntegerType))),
      " ")
  }

  def part(n: Long): DataFrame = rows(n).select(
    col("id").as("p_partkey"),
    concat(element_at(array(Seq("large", "hot", "blue", "small", "red").map(lit): _*),
        (uniform(1, 5) + 1).cast(IntegerType)), lit(" "),
      element_at(array(Seq("ring", "bolt", "gear", "nut", "pipe").map(lit): _*),
        (uniform(2, 5) + 1).cast(IntegerType))).as("p_name"),
    concat(lit("Brand#"), (uniform(3, 25) + 1).cast(StringType)).as("p_brand"),
    element_at(array(Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD").map(lit): _*),
      (uniform(4, 6) + 1).cast(IntegerType)).as("p_type"),
    (uniform(5, 50) + 1).cast(IntegerType).as("p_size"),
    round(lit(900.0) + pmod(col("id"), lit(1000L)).cast(DoubleType) / 10, 2).as("p_retailprice"))

  /** `n` lineitem rows whose (partkey, suppkey) keys come from a fixed
    * universe of 4 suppliers per part (the TPC-H supplier formula), so
    * repeated slices restate the same keys. `first` offsets row ids so
    * two slices of one seed never share an order key. */
  def lineitem(n: Long, parts: Long, suppliers: Long, first: Long = 0L): DataFrame = {
    val id = col("id") + first
    val pk = uniform(10, parts, id)
    val k = uniform(11, 4L, id)
    val sk = pmod(pk + k * (lit(suppliers / 4) + pk / suppliers), lit(suppliers))
    rows(n).select(
      (id / 4).cast(LongType).as("l_orderkey"),
      pk.as("l_partkey"),
      sk.cast(LongType).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast(IntegerType).as("l_linenumber"),
      (uniform(12, 50, id) + 1).cast(DoubleType).as("l_quantity"),
      money(13, 900.0, 105000.0, id).as("l_extendedprice"),
      (uniform(14, 11, id).cast(DoubleType) / 100).as("l_discount"),
      (uniform(15, 9, id).cast(DoubleType) / 100).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (uniform(16, 3, id) + 1).cast(IntegerType)).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (uniform(17, 2, id) + 1).cast(IntegerType)).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + uniform(18, 2500L, id) * 86400L).as("l_shipdate"))
  }

  /** Documents landed by dedup ops [from, to), `n` per op with ids
    * op*n .. op*n+n-1 and an `op` column to split them by. Position
    * j < 0.8n is a fresh text; 0.8n <= j < 0.9n is an exact copy of a
    * fresh doc of the same op (a within-batch duplicate); j >= 0.9n
    * copies a fresh doc of an earlier op (op 0: of its own). A copy
    * always has a higher doc_id than its source, so the first-arriving
    * copy of every text is the fresh one and exactly
    * [[Gen.DedupAdmitted]] of the docs are admitted. */
  def dedupDocs(from: Int, to: Int, n: Int): DataFrame = {
    val fresh = (n * 8) / 10
    val within = n / 10
    val op = (col("id") / n).cast(LongType)
    val j = pmod(col("id"), lit(n.toLong))
    val srcOp = when(j < fresh + within || op === 0, op)
      .otherwise(pmod(h(80), greatest(op, lit(1L))))
    val srcJ = when(j < fresh, j).otherwise(pmod(h(81), lit(fresh.toLong)))
    val textId = srcOp * n + srcJ
    spark.range(from.toLong * n, to.toLong * n, 1, 3).select(
      col("id").as("doc_id"),
      words(textId, (uniform(82, 91, textId) + 10).cast(IntegerType)).as("text"),
      op.as("op"))
  }
}

object Gen {
  val DedupAdmitted: Double = 0.8
}
