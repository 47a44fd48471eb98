package graft.operators

import graft.{Exprs, OpModule, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** EP1 — the daily mart consolidation (`tarefa_consolidar_dados.php`), the
  * reference's flagship computation, re-expressed as one declarative Spark
  * plan over the fixture star schema.
  *
  * Role mapping (FIXTURES.md §B): parent ad = `l_partkey`, ad variation =
  * (`l_partkey`,`l_suppkey`), sales fact = lineitem rows with
  * `l_returnflag <> 'A'`, parent-level ad/traffic metrics = the `'A'` slice
  * aggregated per parent, product cost dim = `part.p_retailprice`.
  *
  * Reference semantics carried over 1:1 (SURVEY.md §2.6):
  *  - A1/A2  coalesce-keyed multi-SUM sales aggregation (php:91-96, :8-25)
  *  - J1/J2/J3 inner map probe, left cost probe, left traffic probe
  *  - A6    driving set = keys(sales) ∪ children-of-traffic-parents (:101-116)
  *  - W1    peso = fat(variação) / Σ fat OVER (PARTITION BY parent) (:194-200)
  *  - W2    int metrics rounded, money metrics unrounded (:202-205, :219)
  *  - W3    ads-attributed sales capped at total sales (:207-217)
  *  - W4    zero-revenue parent → 100% to the "main" variation (:222-234);
  *          main here = lowest suppkey of the parent (ref: id == parent id)
  *
  * Scale posture: every step is `l_partkey`-local, so the fact is
  * hash-partitioned on `l_partkey` once and every later step reuses that
  * partitioning (a `HashPartitioning(l_partkey)` satisfies each clustering
  * on a key set containing `l_partkey`): the `(partkey, suppkey)` sales
  * aggregate, both levels of the traffic `countDistinct`, the co-partitioned
  * sales ⋈ traffic shuffle-hash join and the W1/W4 window add no exchange.
  * The plan holds two pruned fact scans (the sales and traffic branches read
  * different columns, and the traffic one only `'A'` rows), each feeding one
  * `l_partkey` exchange; `part` is broadcast. Nothing aggregates map-side
  * before that exchange: the fact's projected rows cross it once, and no
  * aggregate output is shuffled again.
  */
object Consolidation extends OpModule {
  import Exprs.{dsum, dsumSql}

  def relatorio(s: SparkSession, d: String): DataFrame = {
    // the ONE fact exchange: both branches below read this partitioning
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_tax", "l_discount", "l_returnflag")
      .repartition(col("l_partkey"))
    val isSale = col("l_returnflag") =!= "A"

    // ONE (partkey, suppkey) aggregate yields both the sales sums
    // (conditional aggregates over non-'A' rows; all-null groups sum to
    // NULL exactly like the former missing-left-join-row) AND the
    // variation universe the reference's map dim provides — round 1
    // derived the map with a separate `distinct()`, a third full-fact
    // shuffle this fuses away.
    val pre = li
      .groupBy(col("l_partkey").as("id_anuncio"), col("l_suppkey").as("suppkey"))
      .agg(
        dsum(when(isSale, col("l_quantity"))).as("vendas_totais_qtd"),
        dsum(when(isSale, col("l_extendedprice"))).as("faturamento_total"),
        dsum(when(isSale, col("l_extendedprice") * col("l_tax")))
          .as("tarifa_venda_total"),
        dsum(when(isSale, col("l_extendedprice") * col("l_discount")))
          .as("custo_frete_total"),
        max(when(isSale, lit(true))).as("has_sales"))

    val trafego = li
      .filter(col("l_returnflag") === "A")
      .groupBy(col("l_partkey").as("t_partkey"))
      .agg(
        count(lit(1)).as("impressoes_p"),
        countDistinct(col("l_orderkey")).as("cliques_p"),
        dsum(col("l_extendedprice") * col("l_discount")).as("custo_ads_p"),
        dsum(col("l_quantity")).as("vendas_ads_p"),
        dsum(col("l_extendedprice")).as("fat_ads_p"))

    val base = pre
      .join(
        broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_retailprice"))),
        col("id_anuncio") === col("p_partkey"),
        "inner")
      // shuffle-hash, not broadcast: both sides are already partitioned
      // on the partkey, so the join adds no exchange
      .join(trafego.hint("shuffle_hash"), col("id_anuncio") === col("t_partkey"), "left")
      // A6 driving set: sold variations ∪ all variations of parents with traffic
      .filter(coalesce(col("has_sales"), lit(false)) || col("impressoes_p").isNotNull)
      .select(
        col("id_anuncio"),
        col("suppkey"),
        col("p_name").as("titulo_anuncio"),
        col("p_brand").as("categoria_anuncio"),
        col("p_retailprice").as("custo_unit"),
        coalesce(col("vendas_totais_qtd"), lit(0.0)).as("vendas_totais_qtd"),
        coalesce(col("faturamento_total"), lit(0.0)).as("faturamento_total"),
        coalesce(col("tarifa_venda_total"), lit(0.0)).as("tarifa_venda_total"),
        coalesce(col("custo_frete_total"), lit(0.0)).as("custo_frete_total"),
        col("impressoes_p"), col("cliques_p"), col("custo_ads_p"),
        col("vendas_ads_p"), col("fat_ads_p"))

    val w = Window.partitionBy(col("id_anuncio"))
    val win = base
      .withColumn("fat_pai", Exprs.dsumOver(col("faturamento_total"), w))
      .withColumn("main_suppkey", min(col("suppkey")).over(w))

    val share  = col("faturamento_total") / col("fat_pai")
    val isMain = col("suppkey") === col("main_suppkey")

    // W2 int metric: rounded proration; W4 fallback to main variation.
    def allocInt(parent: org.apache.spark.sql.Column) =
      when(parent.isNull, lit(0L))
        .when(col("fat_pai") > 0.0, round(parent * share))
        .when(isMain, parent)
        .otherwise(lit(0L))
        .cast(LongType)

    // W2 money metric: unrounded proration.
    def allocMoney(parent: org.apache.spark.sql.Column) =
      when(parent.isNull, lit(0.0))
        .when(col("fat_pai") > 0.0, parent * share)
        .when(isMain, parent)
        .otherwise(lit(0.0))

    win.select(
      col("id_anuncio"),
      concat(col("id_anuncio").cast(StringType), lit("-"), col("suppkey").cast(StringType))
        .as("id_anuncio_variacao"),
      col("titulo_anuncio"),
      col("categoria_anuncio"),
      allocInt(col("impressoes_p")).as("impressoes_ads"),
      allocInt(col("cliques_p")).as("cliques_ads"),
      allocMoney(col("custo_ads_p")).as("custo_ads"),
      // W3: cap ads-attributed sales at the variation's total sales
      when(col("vendas_ads_p").isNull, lit(0L))
        .when(col("fat_pai") > 0.0,
          round(least(col("vendas_ads_p") * share, col("vendas_totais_qtd"))))
        .when(isMain, round(col("vendas_ads_p")))
        .otherwise(lit(0L))
        .cast(LongType)
        .as("vendas_ads_qtd"),
      allocMoney(col("fat_ads_p")).as("faturamento_ads"),
      col("vendas_totais_qtd"),
      col("faturamento_total"),
      col("tarifa_venda_total"),
      col("custo_frete_total"),
      (col("faturamento_total") - col("tarifa_venda_total") - col("custo_frete_total"))
        .as("liquido_recebido_total"),
      (col("custo_unit") * col("vendas_totais_qtd")).as("custo_produto_total")
    )
  }

  val relatorioSql: String =
    s"""WITH vendas AS (
       |  SELECT l_partkey, l_suppkey,
       |    ${dsumSql("l_quantity")} AS vendas_totais_qtd,
       |    ${dsumSql("l_extendedprice")} AS faturamento_total,
       |    ${dsumSql("l_extendedprice * l_tax")} AS tarifa_venda_total,
       |    ${dsumSql("l_extendedprice * l_discount")} AS custo_frete_total
       |  FROM lineitem WHERE l_returnflag <> 'A' GROUP BY 1, 2),
       |trafego AS (
       |  SELECT l_partkey AS t_partkey,
       |    COUNT(*) AS impressoes_p,
       |    COUNT(DISTINCT l_orderkey) AS cliques_p,
       |    ${dsumSql("l_extendedprice * l_discount")} AS custo_ads_p,
       |    ${dsumSql("l_quantity")} AS vendas_ads_p,
       |    ${dsumSql("l_extendedprice")} AS fat_ads_p
       |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
       |mapa AS (
       |  SELECT DISTINCT l_partkey AS id_anuncio, l_suppkey AS suppkey FROM lineitem),
       |base AS (
       |  SELECT m.id_anuncio, m.suppkey,
       |    p.p_name AS titulo_anuncio, p.p_brand AS categoria_anuncio,
       |    p.p_retailprice AS custo_unit,
       |    COALESCE(v.vendas_totais_qtd, 0.0) AS vendas_totais_qtd,
       |    COALESCE(v.faturamento_total, 0.0) AS faturamento_total,
       |    COALESCE(v.tarifa_venda_total, 0.0) AS tarifa_venda_total,
       |    COALESCE(v.custo_frete_total, 0.0) AS custo_frete_total,
       |    (v.l_partkey IS NOT NULL) AS has_sales,
       |    t.impressoes_p, t.cliques_p, t.custo_ads_p, t.vendas_ads_p, t.fat_ads_p
       |  FROM mapa m
       |  JOIN part p ON p.p_partkey = m.id_anuncio
       |  LEFT JOIN vendas v ON v.l_partkey = m.id_anuncio AND v.l_suppkey = m.suppkey
       |  LEFT JOIN trafego t ON t.t_partkey = m.id_anuncio
       |  WHERE (v.l_partkey IS NOT NULL) OR t.impressoes_p IS NOT NULL),
       |win AS (
       |  SELECT *,
       |    CAST(CAST(SUM(CAST(faturamento_total AS DECIMAL(38,6)))
       |         OVER (PARTITION BY id_anuncio) AS VARCHAR) AS DOUBLE) AS fat_pai,
       |    MIN(suppkey) OVER (PARTITION BY id_anuncio) AS main_suppkey
       |  FROM base)
       |SELECT id_anuncio,
       |  CAST(id_anuncio AS VARCHAR) || '-' || CAST(suppkey AS VARCHAR)
       |    AS id_anuncio_variacao,
       |  titulo_anuncio, categoria_anuncio,
       |  CAST(CASE WHEN impressoes_p IS NULL THEN 0
       |    WHEN fat_pai > 0.0 THEN ROUND(impressoes_p * (faturamento_total / fat_pai))
       |    WHEN suppkey = main_suppkey THEN impressoes_p ELSE 0 END AS BIGINT)
       |    AS impressoes_ads,
       |  CAST(CASE WHEN cliques_p IS NULL THEN 0
       |    WHEN fat_pai > 0.0 THEN ROUND(cliques_p * (faturamento_total / fat_pai))
       |    WHEN suppkey = main_suppkey THEN cliques_p ELSE 0 END AS BIGINT)
       |    AS cliques_ads,
       |  CASE WHEN custo_ads_p IS NULL THEN 0.0
       |    WHEN fat_pai > 0.0 THEN custo_ads_p * (faturamento_total / fat_pai)
       |    WHEN suppkey = main_suppkey THEN custo_ads_p ELSE 0.0 END AS custo_ads,
       |  CAST(CASE WHEN vendas_ads_p IS NULL THEN 0
       |    WHEN fat_pai > 0.0 THEN ROUND(LEAST(
       |      vendas_ads_p * (faturamento_total / fat_pai), vendas_totais_qtd))
       |    WHEN suppkey = main_suppkey THEN ROUND(vendas_ads_p) ELSE 0 END AS BIGINT)
       |    AS vendas_ads_qtd,
       |  CASE WHEN fat_ads_p IS NULL THEN 0.0
       |    WHEN fat_pai > 0.0 THEN fat_ads_p * (faturamento_total / fat_pai)
       |    WHEN suppkey = main_suppkey THEN fat_ads_p ELSE 0.0 END AS faturamento_ads,
       |  vendas_totais_qtd, faturamento_total, tarifa_venda_total, custo_frete_total,
       |  faturamento_total - tarifa_venda_total - custo_frete_total
       |    AS liquido_recebido_total,
       |  custo_unit * vendas_totais_qtd AS custo_produto_total
       |FROM win
       |ORDER BY id_anuncio, id_anuncio_variacao""".stripMargin

  def queries: Map[String, Q] = Map(
    "ep1_consolidar_relatorio" -> Q(
      relatorio,
      Some(relatorioSql),
      doc = "SURVEY §3 EP1 — tarefa_consolidar_dados.php end-to-end mart build",
      sort = Seq("id_anuncio", "id_anuncio_variacao"))
  )
}
