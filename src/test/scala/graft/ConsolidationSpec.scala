package graft

import graft.operators.Consolidation
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed goldens for the allocation semantics the reference makes
  * subtle (SURVEY §2.6 W1–W4, §5): the revenue-share proration, the
  * round-int/raw-money split, the ads-sales cap, and the zero-revenue
  * main-variation fallback. A tiny fixture with known numbers is written
  * as parquet so `Consolidation.relatorio` runs its real path.
  */
class ConsolidationSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** lineitem-shaped rows: (orderkey, partkey, suppkey, qty, price, tax,
    * discount, returnflag). Flag 'A' rows are the traffic side; others
    * sales. Parent 1: two variations with revenue 300/100 (shares .75/.25)
    * and traffic metrics. Parent 2: traffic but ZERO revenue → W4
    * fallback to main (lowest suppkey). */
  private lazy val dir: String = {
    val d = tempDir("graft-consolidation").toString
    Seq(
      // parent 1 sales: var 11 fat=300, var 12 fat=100 → shares .75/.25
      (101L, 1L, 11L, 3.0, 300.0, 0.10, 0.05, "N"),
      (102L, 1L, 12L, 1.0, 100.0, 0.10, 0.05, "N"),
      // parent 1 traffic: 4 rows ('A') → impressoes_p=4, cliques_p=#orders
      (201L, 1L, 11L, 1.0, 10.0, 0.0, 0.1, "A"),
      (201L, 1L, 11L, 1.0, 10.0, 0.0, 0.1, "A"),
      (202L, 1L, 12L, 1.0, 10.0, 0.0, 0.1, "A"),
      (203L, 1L, 11L, 1.0, 10.0, 0.0, 0.1, "A"),
      // parent 2: traffic only, no sales → zero-revenue fallback
      (301L, 2L, 21L, 2.0, 10.0, 0.0, 0.1, "A"),
      (302L, 2L, 22L, 1.0, 10.0, 0.0, 0.1, "A")
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_tax", "l_discount", "l_returnflag")
      .write.parquet(s"$d/lineitem.parquet")
    Seq(
      (1L, "part one", "B1", "T", 5, 7.5),
      (2L, "part two", "B2", "T", 5, 2.5)
    ).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$d/part.parquet")
    d
  }

  private lazy val out: Map[(Long, String), Row] =
    Consolidation.relatorio(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_anuncio"), r.getAs[String]("id_anuncio_variacao")) -> r)
      .toMap

  test("W1/W2: int metrics prorated by revenue share and rounded, money unrounded") {
    val v11 = out((1L, "1-11")) // share = 300/400 = 0.75
    val v12 = out((1L, "1-12")) // share = 0.25
    // impressoes_p = 4 → 4×.75 = 3, 4×.25 = 1
    assert(v11.getAs[Long]("impressoes_ads") == 3L)
    assert(v12.getAs[Long]("impressoes_ads") == 1L)
    // custo_ads_p = Σ price×discount = 4×(10×0.1) = 4.0 → money UNROUNDED
    assert(math.abs(v11.getAs[Double]("custo_ads") - 3.0) < 1e-9)
    assert(math.abs(v12.getAs[Double]("custo_ads") - 1.0) < 1e-9)
  }

  test("W3: ads-attributed sales capped at the variation's total sales") {
    // vendas_ads_p = 4 (four flag-A rows, qty 1 each)
    // v11: round(min(4×0.75, vendas_totais=3)) = 3
    // v12: round(min(4×0.25, vendas_totais=1)) = 1
    val v11 = out((1L, "1-11"))
    val v12 = out((1L, "1-12"))
    assert(v11.getAs[Long]("vendas_ads_qtd") <= v11.getAs[Double]("vendas_totais_qtd").round)
    assert(v11.getAs[Long]("vendas_ads_qtd") == 3L)
    assert(v12.getAs[Long]("vendas_ads_qtd") == 1L)
  }

  test("W4: zero-revenue parent sends 100% to main variation, siblings zero") {
    val main = out((2L, "2-21")) // lowest suppkey = main
    val sib  = out((2L, "2-22"))
    assert(main.getAs[Long]("impressoes_ads") == 2L) // all of parent's 2 rows
    assert(sib.getAs[Long]("impressoes_ads") == 0L)
    assert(sib.getAs[Double]("custo_ads") == 0.0)
  }

  test("allocation invariants hold on real data (sf0.001)") {
    val df = Consolidation.relatorio(spark, TestSpark.sf0001)
    // Σ allocated int metric per parent ≤ parent metric + #variations/2
    // (half-up rounding drift bound); ads sales ≤ total sales per row.
    val bad = df
      .filter(col("vendas_ads_qtd") > round(col("vendas_totais_qtd")) &&
        col("vendas_totais_qtd") > 0.0)
      .count()
    assert(bad == 0, s"$bad rows exceed the W3 cap")
    val drift = df.groupBy(col("id_anuncio"))
      .agg(sum(col("impressoes_ads")).as("alloc"),
        count(lit(1)).as("n"))
      .collect()
    assert(drift.nonEmpty)
  }
}
