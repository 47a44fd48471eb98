package graft.tools

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H-style ×K weak-scaling generator: reads a driver fixture dir and
  * writes a K× larger image with the same schema and the same per-key
  * statistical shape, for local scale rehearsals (`bench_sf1_probe.json`).
  *
  * Scaling rules (copy k of K, all keys 0-based contiguous → stride =
  * max+1 per table, so copies never collide):
  *
  *  - `nation`/`region`: fixed, as TPC-H scales them.
  *  - `customer`/`supplier`/`part`: K copies, primary key remapped.
  *  - `orders`: K copies; o_orderkey and o_custkey remapped TOGETHER, so
  *    orders-per-customer (the group size every per-customer agg and join
  *    sees) is invariant — weak scaling, not hot-key inflation.
  *  - `lineitem`: K copies; l_orderkey/l_partkey/l_suppkey remapped with
  *    their parents' strides → referential integrity holds within each
  *    copy, lines-per-order and the part co-purchase graph's degree
  *    distribution are invariant (the graph becomes K disjoint copies).
  *  - `events`: K copies; event_id/user_id remapped, timestamps KEPT —
  *    K× event density over the same wall-clock window, which is how the
  *    driver's own sf ladder scales events (sessions-per-user invariant,
  *    windows get denser).
  *  - `documents`: K copies; doc_id remapped and every whitespace token of
  *    copy k>0 salted with a per-copy suffix. Token/shingle COUNTS are
  *    identical per copy while shingle VALUES are disjoint across copies,
  *    so near-dup cluster structure, shingle df shape, and LSH bucket
  *    sizes replicate exactly K× — cross-copy Jaccard is 0, never an
  *    accidental quadratic corpus. n_chars recomputed from the new text.
  *  - `embeddings`: K copies; vec_id remapped, vector circularly rotated
  *    by k dims (norm-preserving; within-copy distances exact, cross-copy
  *    scrambled), label kept so IVF cell counts scale linearly.
  *
  * Determinism: pure column transforms of the source image, no RNG — the
  * same (src, K) always produces byte-identical content.
  */
object ScaleUp {

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  private def copies(k: Int): DataFrame => DataFrame = df =>
    df.crossJoin(
      org.apache.spark.sql.SparkSession.active.range(k.toLong).select(col("id").as("cpy")))

  def run(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    val out = new java.io.File(dst)
    out.mkdirs()
    def write(name: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    // fixed dims
    write("nation", Tables.nation(spark, src), 1)
    write("region", Tables.region(spark, src), 1)

    val cust = Tables.customer(spark, src)
    val supp = Tables.supplier(spark, src)
    val part = Tables.part(spark, src)
    val ord = Tables.orders(spark, src)
    val li = Tables.lineitem(spark, src)
    val (sc, ss, sp, so) =
      (stride(cust, "c_custkey"), stride(supp, "s_suppkey"),
        stride(part, "p_partkey"), stride(ord, "o_orderkey"))

    write("customer", copies(k)(cust)
      .withColumn("c_custkey", col("c_custkey") + col("cpy") * sc)
      .drop("cpy"), k)
    write("supplier", copies(k)(supp)
      .withColumn("s_suppkey", col("s_suppkey") + col("cpy") * ss)
      .drop("cpy"), 1)
    write("part", copies(k)(part)
      .withColumn("p_partkey", col("p_partkey") + col("cpy") * sp)
      .drop("cpy"), k)
    write("orders", copies(k)(ord)
      .withColumn("o_orderkey", col("o_orderkey") + col("cpy") * so)
      .withColumn("o_custkey", col("o_custkey") + col("cpy") * sc)
      .drop("cpy"), k)
    write("lineitem", copies(k)(li)
      .withColumn("l_orderkey", col("l_orderkey") + col("cpy") * so)
      .withColumn("l_partkey", col("l_partkey") + col("cpy") * sp)
      .withColumn("l_suppkey", col("l_suppkey") + col("cpy") * ss)
      .drop("cpy"), k * 4)

    val ev = Tables.events(spark, src)
    val (se, su) = (stride(ev, "event_id"), stride(ev, "user_id"))
    write("events", copies(k)(ev)
      .withColumn("event_id", col("event_id") + col("cpy") * se)
      .withColumn("user_id", col("user_id") + col("cpy") * su)
      .drop("cpy"), k * 2)

    val docs = Tables.documents(spark, src)
    val sd = stride(docs, "doc_id")
    // Copy 0 keeps the source text byte-identical; copy k>0 suffixes every
    // token (fixture text is single-space separated, no tabs/newlines —
    // asserted below) so shingles are disjoint across copies.
    val noWs = docs.filter(col("text").rlike("[\\t\\n\\r]")).limit(1).count()
    require(noWs == 0, "documents contain non-space whitespace; token salt would leak")
    write("documents", copies(k)(docs)
      .withColumn("text",
        when(col("cpy") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "),
              t => when(t === "", t).otherwise(concat(t, lit("q"), col("cpy")))),
            " ")))
      .withColumn("doc_id", col("doc_id") + col("cpy") * sd)
      .withColumn("n_chars", length(col("text")))
      .drop("cpy"), k)

    val emb = Tables.embeddings(spark, src)
    val sv = stride(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    write("embeddings", copies(k)(emb)
      .withColumn("embedding",
        when(col("cpy") === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), (col("cpy") % dim + 1).cast("int"),
            lit(dim) - (col("cpy") % dim).cast("int")),
          slice(col("embedding"), lit(1), (col("cpy") % dim).cast("int")))))
      .withColumn("vec_id", col("vec_id") + col("cpy") * sv)
      .drop("cpy"), k)
    ()
  }

  /** args: srcDir dstDir factor */
  def main(args: Array[String]): Unit = {
    val Array(src, dst, kStr) = args.take(3)
    val spark = graft.Sessions.local(LocalTool.cpus)
    run(spark, src, dst, kStr.toInt)
    println(s"[scaleup] wrote ${dst} at ${kStr}x of ${src}")
    spark.stop()
  }
}
