package graft.operators

import graft.{Exprs, OpModule, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operator inventory (SURVEY.md §2.1–2.8) re-expressed over
  * the driver's TPC-H-ish fixtures. Query names carry the SURVEY operator id
  * they cover. Every query is a declarative DataFrame plan — scans project
  * only needed columns (parquet column pruning), filters sit directly above
  * scans (pushdown), dims are broadcast, and money sums go through
  * [[graft.Exprs.dsum]] so results are shuffle-order independent.
  */
object RelationalOps extends OpModule {
  import Exprs.{dsum, dsumSql}

  def queries: Map[String, Q] = Map(
    // ── S1/F1: projected scan (column pruning to the parquet reader). ──
    "s1_scan_project" -> Q(
      (s, d) =>
        Tables
          .lineitem(s, d)
          .select($("l_orderkey"), $("l_linenumber"), $("l_partkey"), $("l_quantity")),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      doc = "SURVEY S1/F1 — tarefa_consolidar_dados.php:56 projected scan",
      sort = Seq("l_orderkey", "l_linenumber")
    ),

    // ── S2/F2/F3: date-truncating filtered scan (predicate pushdown). ──
    "s2_filter_date" -> Q(
      (s, d) =>
        Tables
          .orders(s, d)
          .withColumn("data_pedido", to_date($("o_orderdate")))
          .filter(
            $("data_pedido") >= lit("1995-06-01").cast(DateType) &&
              $("data_pedido") < lit("1995-07-01").cast(DateType))
          .select($("o_orderkey"), $("o_custkey"), $("o_totalprice"), $("data_pedido")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |       CAST(o_orderdate AS DATE) AS data_pedido
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE) >= DATE '1995-06-01'
             |  AND CAST(o_orderdate AS DATE) <  DATE '1995-07-01'
             |ORDER BY o_orderkey""".stripMargin),
      doc = "SURVEY S2/F3 — WHERE DATE(data_venda)=? tarefa_consolidar_dados.php:87",
      sort = Seq("o_orderkey")
    ),

    // ── F4/F5/F6: compound predicate preserving the reference's MySQL
    // precedence quirk — `a AND b AND c AND t='S' OR t='K'` binds as
    // `(a∧b∧c∧t='S') ∨ t='K'` (tarefa_popular_fila_estoque.php:10). ──
    "f6_filter_quirk" -> Q(
      (s, d) =>
        Tables
          .part(s, d)
          .filter(
            ($("p_size") > 25 && !$("p_name").startsWith("a") &&
              $("p_name").isNotNull && $("p_name") =!= "" &&
              $("p_type") === "STANDARD") ||
              $("p_brand") === "Brand#13")
          .select($("p_partkey"), $("p_name"), $("p_brand"), $("p_type"), $("p_size")),
      Some("""SELECT p_partkey, p_name, p_brand, p_type, p_size
             |FROM part
             |WHERE (p_size > 25 AND p_name NOT LIKE 'a%'
             |       AND p_name IS NOT NULL AND p_name != ''
             |       AND p_type = 'STANDARD')
             |   OR p_brand = 'Brand#13'
             |ORDER BY p_partkey""".stripMargin),
      doc = "SURVEY F4/F5/F6 — precedence quirk + non-empty guard kept verbatim",
      sort = Seq("p_partkey")
    ),

    // ── A1/A2: COALESCE-keyed multi-SUM hash aggregate (the sales
    // pre-aggregation of tarefa_consolidar_dados.php:91-96 + :8-25). ──
    "a2_agg_sales" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.groupBy(
            coalesce(when($("l_returnflag") === "N", lit(null)).otherwise($("l_returnflag")),
              $("l_linestatus")).as("grp"))
          .agg(
            dsum($("l_quantity")).as("sum_qty"),
            dsum($("l_extendedprice")).as("sum_fat"),
            dsum($("l_extendedprice") * $("l_tax")).as("sum_tarifa"),
            dsum($("l_extendedprice") * $("l_discount")).as("sum_frete"),
            dsum($("l_extendedprice") * (lit(1.0) - $("l_tax") - $("l_discount")))
              .as("sum_liquido"),
            count(lit(1)).as("n_rows"))
      },
      Some(s"""SELECT COALESCE(NULLIF(l_returnflag, 'N'), l_linestatus) AS grp,
              |  ${dsumSql("l_quantity")} AS sum_qty,
              |  ${dsumSql("l_extendedprice")} AS sum_fat,
              |  ${dsumSql("l_extendedprice * l_tax")} AS sum_tarifa,
              |  ${dsumSql("l_extendedprice * l_discount")} AS sum_frete,
              |  ${dsumSql("l_extendedprice * (1.0 - l_tax - l_discount)")} AS sum_liquido,
              |  COUNT(*) AS n_rows
              |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "SURVEY A1/A2 — groupBy(coalesce(id_variacao,id_anuncio)) + 6 SUMs",
      sort = Seq("grp")
    ),

    // ── A3: second-level rollup by parent key. ──
    "a3_rollup_parent" -> Q(
      (s, d) =>
        Tables
          .lineitem(s, d)
          .groupBy($("l_partkey"))
          .agg(dsum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue")),
      Some(s"""SELECT l_partkey,
              |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "SURVEY A3 — faturamento_total_por_pai tarefa_consolidar_dados.php:118-138",
      sort = Seq("l_partkey")
    ),

    // ── Quantiles per group: exact interpolated median/p90 (both engines
    // use the same (n−1)·q linear interpolation; outputs quantized to
    // 1e-6 through a LONG so a last-ulp difference can't flip the hash).
    // At 100 TB the exact sort-based percentile gives way to
    // approx_percentile (t-digest, mergeable partial aggs) — approx
    // results are engine-specific, so the oracle-gated query keeps the
    // exact form. ──
    "a8_quantiles" -> Q(
      (s, d) => {
        def q6(c: org.apache.spark.sql.Column) =
          round(c * 1e6).cast(LongType).cast(DoubleType) / 1e6
        Tables
          .lineitem(s, d)
          .groupBy($("l_returnflag"))
          .agg(
            percentile($("l_quantity"), lit(0.5)).as("raw_med"),
            percentile($("l_quantity"), lit(0.9)).as("raw_p90"),
            count(lit(1)).as("n_rows"))
          .select($("l_returnflag"),
            q6($("raw_med")).as("median_qty"),
            q6($("raw_p90")).as("p90_qty"),
            $("n_rows"))
      },
      Some("""SELECT l_returnflag,
             |  CAST(round(quantile_cont(l_quantity, 0.5) * 1e6) AS BIGINT) / 1e6
             |    AS median_qty,
             |  CAST(round(quantile_cont(l_quantity, 0.9) * 1e6) AS BIGINT) / 1e6
             |    AS p90_qty,
             |  COUNT(*) AS n_rows
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "Extension: exact interpolated quantiles per group (approx_percentile is the 100 TB path)",
      sort = Seq("l_returnflag")
    ),

    // ── ROLLUP: grouping-set subtotals + grand total in one pass — the
    // OLAP mart staple (per-flag-and-status rows, per-flag subtotals,
    // grand total), one Expand-backed aggregate instead of three
    // unioned scans. ──
    "a9_rollup" -> Q(
      (s, d) =>
        Tables
          .lineitem(s, d)
          .rollup($("l_returnflag"), $("l_linestatus"))
          .agg(dsum($("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n_rows
              |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      doc = "Extension: ROLLUP grouping sets (subtotals + grand total in one aggregate)",
      sort = Seq("l_returnflag", "l_linestatus")
    ),

    // ── Data-quality audit: the constraint checks every mart load runs
    // before publishing — referential integrity via anti-joins (the
    // reference implicitly assumes FK integrity when it probes its hash
    // maps; a miss there IS this violation) and null-rate probes, one
    // tagged row per check. Anti-joins broadcast the dim key set. ──
    "dq1_referential_audit" -> Q(
      (s, d) => {
        def check(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("violations"))
            .select(lit(name).as("check"), $("violations"))
        val li = Tables.lineitem(s, d)
        val orphanParts = li.join(
          Tables.part(s, d).select($("p_partkey")),
          $("l_partkey") === $("p_partkey"), "left_anti")
        val orphanCust = Tables.orders(s, d).join(
          Tables.customer(s, d).select($("c_custkey")),
          $("o_custkey") === $("c_custkey"), "left_anti")
        check("lineitem_orphan_parts", orphanParts)
          .unionByName(check("orders_orphan_customers", orphanCust))
          .unionByName(check("lineitem_null_partkey",
            li.filter($("l_partkey").isNull)))
      },
      Some("""SELECT 'lineitem_orphan_parts' AS check, COUNT(*)::BIGINT AS violations
             |FROM lineitem l
             |WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
             |UNION ALL
             |SELECT 'orders_orphan_customers', COUNT(*)::BIGINT
             |FROM orders o
             |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
             |UNION ALL
             |SELECT 'lineitem_null_partkey', COUNT(*)::BIGINT
             |FROM lineitem WHERE l_partkey IS NULL
             |ORDER BY 1""".stripMargin),
      doc = "Extension: data-quality audit (referential integrity + null probes)",
      sort = Seq("check")
    ),

    // ── Join-key skew audit: per candidate join key, cardinality, the
    // hottest key's row count, and its share of the table — the
    // operational readout you run BEFORE deciding a join needs salting
    // (`j10_salted_skew_join` is the cure; this is the diagnosis; the
    // wiring between them is [[SkewTools.autoSaltedJoin]], which picks
    // the salt factor from this measurement). One
    // map-side-combined aggregate per key, each collapsing to a single
    // row — exchange volume is #distinct-keys × partitions, the same
    // envelope as any hash agg, at any corpus size. ──
    "dq3_skew_audit" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        def stats(keyCol: String) = li
          .groupBy($(keyCol).as("k"))
          .agg(count(lit(1)).as("cnt"))
          .agg(count(lit(1)).as("n_keys"), max($("cnt")).as("max_rows"),
            sum($("cnt")).as("total_rows"))
          .select(lit(keyCol).as("join_key"), $("n_keys"), $("max_rows"),
            ($("max_rows").cast(DoubleType) /
              $("total_rows").cast(DoubleType)).as("max_share"))
        stats("l_orderkey")
          .unionByName(stats("l_partkey"))
          .unionByName(stats("l_suppkey"))
      },
      Some("""SELECT join_key, n_keys, max_rows,
             |  max_rows::DOUBLE / total_rows::DOUBLE AS max_share
             |FROM (
             |  SELECT 'l_orderkey' AS join_key, count(*)::BIGINT AS n_keys,
             |    max(cnt)::BIGINT AS max_rows, sum(cnt)::BIGINT AS total_rows
             |  FROM (SELECT count(*) AS cnt FROM lineitem GROUP BY l_orderkey)
             |  UNION ALL
             |  SELECT 'l_partkey', count(*)::BIGINT, max(cnt)::BIGINT, sum(cnt)::BIGINT
             |  FROM (SELECT count(*) AS cnt FROM lineitem GROUP BY l_partkey)
             |  UNION ALL
             |  SELECT 'l_suppkey', count(*)::BIGINT, max(cnt)::BIGINT, sum(cnt)::BIGINT
             |  FROM (SELECT count(*) AS cnt FROM lineitem GROUP BY l_suppkey))
             |ORDER BY join_key""".stripMargin),
      doc = "Extension: join-key skew audit (hottest-key share per candidate key — the pre-salting diagnosis)",
      sort = Seq("join_key")
    ),

    // ── Exact weighted median: the price at which half the QUANTITY
    // (not half the rows) has been sold, per part — inventory/pricing's
    // actual "typical price". No built-in exists in either engine; the
    // shape is a running weighted cumsum over a pinned total order,
    // then the first crossing of half the total. Quantities are
    // integral doubles (TPC-H), so LONG-cast weights make every cumsum
    // and the crossing test pure integer arithmetic — engine-exact with
    // no quantize step. The window keys on l_partkey — HIGH cardinality,
    // bounded group size (the scalable per-key-window envelope; a
    // per-flag variant would be the low-cardinality window-over-the-
    // fact anti-pattern this suite bans). ──
    "a17_weighted_median" -> Q(
      (s, d) => {
        val ord = Window.partitionBy($("l_partkey"))
          .orderBy($("l_extendedprice"), $("l_orderkey"), $("l_linenumber"))
        val tot = Window.partitionBy($("l_partkey"))
        val ranked = Tables.lineitem(s, d)
          .select($("l_partkey"), $("l_extendedprice"),
            $("l_orderkey"), $("l_linenumber"),
            $("l_quantity").cast(LongType).as("w"))
          .withColumn("cumw", sum($("w")).over(
            ord.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("totw", sum($("w")).over(tot))
          .where($("cumw") * 2 >= $("totw"))
        val first = Window.partitionBy($("l_partkey"))
          .orderBy($("cumw"), $("l_extendedprice"), $("l_orderkey"), $("l_linenumber"))
        ranked
          .withColumn("rn", row_number().over(first))
          .where($("rn") === 1)
          .select($("l_partkey"),
            $("l_extendedprice").as("weighted_median_price"),
            $("totw").as("total_qty"))
      },
      Some("""SELECT l_partkey,
             |  l_extendedprice AS weighted_median_price, totw AS total_qty
             |FROM (
             |  SELECT l_partkey, l_extendedprice, cumw, totw,
             |    row_number() OVER (PARTITION BY l_partkey
             |      ORDER BY cumw, l_extendedprice, l_orderkey, l_linenumber)
             |      AS rn
             |  FROM (
             |    SELECT l_partkey, l_extendedprice, l_orderkey, l_linenumber,
             |      SUM(CAST(l_quantity AS BIGINT)) OVER (
             |        PARTITION BY l_partkey
             |        ORDER BY l_extendedprice, l_orderkey, l_linenumber
             |        ROWS UNBOUNDED PRECEDING)::BIGINT AS cumw,
             |      SUM(CAST(l_quantity AS BIGINT)) OVER (
             |        PARTITION BY l_partkey)::BIGINT AS totw
             |    FROM lineitem)
             |  WHERE cumw * 2 >= totw)
             |WHERE rn = 1 ORDER BY l_partkey""".stripMargin),
      doc = "Extension: exact weighted median per part (integer cumsum crossing; high-cardinality key, small groups)",
      sort = Seq("l_partkey")
    ),

    // ── Row provenance via `input_file_name()` — the lineage readout
    // for "which file contributed what" (skew hunts, bad-file
    // quarantine, ingest reconciliation). Map-side only: the filename
    // is scan metadata, the count map-combines. The per-FILE breakdown
    // ([[fileProvenance]]) can't be oracle-pinned — part-file names are
    // engine-generated, and the DuckDB twin only sees table views — so
    // the gate checks the reconciliation INVARIANT instead: the
    // per-file tallies, re-folded per table, must re-add to the table
    // totals exactly, and the file count must be ≥ 1. That contract
    // holds for any layout (the sf1 probe corpus is 20 parts/table,
    // production tables are always multi-file); a broken
    // input_file_name (null/empty/shared across scans) breaks the
    // re-fold and fails the gate. The file-level granularity is
    // spec-gated on a genuinely multi-part table (ProvenanceSpec). ──
    "meta1_file_provenance" -> Q(
      (s, d) => {
        def perTable(t: String) = fileProvenance(Tables.load(s, d, t))
          .agg(count(lit(1)).as("nf"), sum($("n_rows")).as("n_rows"))
          .select(lit(t).as("tbl"),
            // layout-free gate: any file count ≥ 1 normalizes to true
            ($("nf") >= 1).as("has_files"), $("n_rows"))
        perTable("lineitem")
          .unionByName(perTable("orders"))
          .unionByName(perTable("part"))
      },
      Some("""SELECT 'lineitem' AS tbl, TRUE AS has_files,
             |  count(*)::BIGINT AS n_rows FROM lineitem
             |UNION ALL SELECT 'orders', TRUE, count(*)::BIGINT FROM orders
             |UNION ALL SELECT 'part', TRUE, count(*)::BIGINT FROM part
             |ORDER BY tbl""".stripMargin),
      doc = "Extension: row provenance reconciliation via input_file_name (per-file tallies re-add to table totals; layout-independent gate)",
      sort = Seq("tbl")
    ),

    // ── Column-pair correlation profile: Pearson r between quantity
    // and price per return flag — the data-profiling op (with dq1/dq3)
    // that catches broken joins and unit drifts. Built-in `corr` sums
    // raw doubles (shuffle-order-dependent low bits → engine drift);
    // here every moment (Σx, Σy, Σxy, Σx², Σy²) is an EXACT dsum, and r
    // assembles from those five exact doubles in one identically-
    // written expression — deterministic IEEE on both engines. One
    // map-combined aggregate; five accumulators per group. ──
    "dq4_column_corr" -> Q(
      (s, d) => {
        val m = Tables.lineitem(s, d)
          .groupBy($("l_returnflag"))
          .agg(
            count(lit(1)).cast(DoubleType).as("n"),
            dsum($("l_quantity")).as("sx"),
            dsum($("l_extendedprice")).as("sy"),
            dsum($("l_quantity") * $("l_extendedprice")).as("sxy"),
            dsum($("l_quantity") * $("l_quantity")).as("sxx"),
            dsum($("l_extendedprice") * $("l_extendedprice")).as("syy"))
        // 1e-6 quantization through a LONG (the ann_topk pattern): the
        // moment-assembly arithmetic is identical on both sides, but
        // DuckDB's codegen may CONTRACT a·b − c·d into an FMA (one
        // rounding instead of two) — a last-ulp drift the quantize
        // absorbs
        m.select($("l_returnflag"),
          (round((($("n") * $("sxy") - $("sx") * $("sy")) /
            (sqrt($("n") * $("sxx") - $("sx") * $("sx")) *
              sqrt($("n") * $("syy") - $("sy") * $("sy")))) * 1e6)
            .cast(LongType).cast(DoubleType) / 1e6).as("corr_qty_price"),
          $("n").cast(LongType).as("n_rows"))
      },
      Some(s"""SELECT l_returnflag,
              |  CAST(round((n * sxy - sx * sy)
              |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
              |    * 1e6) AS BIGINT) / 1e6 AS corr_qty_price,
              |  CAST(n AS BIGINT) AS n_rows
              |FROM (
              |  SELECT l_returnflag,
              |    count(*)::DOUBLE AS n,
              |    ${dsumSql("l_quantity")} AS sx,
              |    ${dsumSql("l_extendedprice")} AS sy,
              |    ${dsumSql("l_quantity * l_extendedprice")} AS sxy,
              |    ${dsumSql("l_quantity * l_quantity")} AS sxx,
              |    ${dsumSql("l_extendedprice * l_extendedprice")} AS syy
              |  FROM lineitem GROUP BY 1)
              |ORDER BY l_returnflag""".stripMargin),
      doc = "Extension: column-pair Pearson correlation from exact moments (profiling; engine-exact where built-in corr drifts)",
      sort = Seq("l_returnflag")
    ),

    // ── Benford first-digit audit: the distribution of leading digits
    // of order totals — the fraud/synthetic-data screen (natural
    // multiplicative amounts follow log10(1+1/d); fabricated ones
    // don't). The digit comes from an integer CASE chain over
    // magnitude thresholds — NO log10 call (libm, last-ulp per engine)
    // and no double→string round-trip (formatting differs per engine):
    // v = trunc to BIGINT, then v div its power of ten. One map-side
    // combined 9-row aggregate; the share's single division is the
    // only double op. The expected Benford mass is left to the
    // consumer — it needs a log, and the OBSERVED distribution is the
    // audit artifact. ──
    "dq5_benford_digits" -> Q(
      (s, d) => {
        // totals are < 10^7 in any fixture and the chain extends by one
        // WHEN per magnitude decade — explicit bound keeps it honest
        val digitCase = (6 to 0 by -1).map(p =>
          s"WHEN v >= ${math.pow(10, p).toLong} THEN v div ${math.pow(10, p).toLong}")
          .mkString("CASE ", " ", " ELSE NULL END")
        // floor, not a bare cast: Spark's double→BIGINT cast TRUNCATES
        // where DuckDB's ROUNDS — floor is identical in both (and equals
        // trunc on the positive domain)
        Tables.orders(s, d)
          .filter($("o_totalprice") >= 1.0)
          .select(floor($("o_totalprice")).cast(LongType).as("v"))
          .selectExpr(s"$digitCase AS digit")
          .groupBy($("digit"))
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(
            Tables.orders(s, d).filter($("o_totalprice") >= 1.0)
              .agg(count(lit(1)).as("total"))))
          .select($("digit"), $("n"),
            ($("n").cast(DoubleType) / $("total").cast(DoubleType)).as("share"))
      },
      Some("""SELECT digit, n, n::DOUBLE / total::DOUBLE AS share
             |FROM (
             |  SELECT digit, count(*)::BIGINT AS n,
             |    (SELECT count(*) FROM orders WHERE o_totalprice >= 1.0)::BIGINT
             |      AS total
             |  FROM (
             |    SELECT CASE WHEN v >= 1000000 THEN v // 1000000
             |                WHEN v >= 100000 THEN v // 100000
             |                WHEN v >= 10000 THEN v // 10000
             |                WHEN v >= 1000 THEN v // 1000
             |                WHEN v >= 100 THEN v // 100
             |                WHEN v >= 10 THEN v // 10
             |                WHEN v >= 1 THEN v
             |                ELSE NULL END AS digit
             |    FROM (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v
             |          FROM orders WHERE o_totalprice >= 1.0))
             |  GROUP BY 1)
             |ORDER BY digit""".stripMargin),
      doc = "Extension: Benford leading-digit audit (integer CASE-chain digit extraction — no log10, no string round-trip)",
      sort = Seq("digit")
    ),

    // ── Keyset pagination: page N of a ranked listing fetched by an
    // anchor PREDICATE, not OFFSET — the scalable twin of the
    // reference's offset-paged API loops (SURVEY §2.1 S3: offset+=limit
    // until total; deep offsets re-rank everything they skip). The
    // anchor (last row of the previous page) comes from a two-step
    // top-k — both steps are TakeOrdered over k rows, never a global
    // sort — and the page scan is a plain filtered top-k below it.
    // Ties are impossible by construction: the key joins the sort. ──
    "l3_keyset_page" -> Q(
      (s, d) => {
        val parts = Tables.part(s, d)
          .select($("p_partkey"), $("p_retailprice"))
        val anchor = parts
          .orderBy($("p_retailprice").desc, $("p_partkey").asc)
          .limit(40)
          .orderBy($("p_retailprice").asc, $("p_partkey").desc)
          .limit(1)
          .select($("p_retailprice").as("a_price"), $("p_partkey").as("a_key"))
        parts
          .crossJoin(broadcast(anchor))
          .where($("p_retailprice") < $("a_price") ||
            ($("p_retailprice") === $("a_price") && $("p_partkey") > $("a_key")))
          .orderBy($("p_retailprice").desc, $("p_partkey").asc)
          .limit(20)
          .select($("p_partkey"), $("p_retailprice"))
      },
      Some("""WITH page1and2 AS (
             |  SELECT p_retailprice, p_partkey FROM part
             |  ORDER BY p_retailprice DESC, p_partkey LIMIT 40),
             |anchor AS (
             |  SELECT p_retailprice AS a_price, p_partkey AS a_key
             |  FROM page1and2 ORDER BY p_retailprice ASC, p_partkey DESC LIMIT 1)
             |SELECT p_partkey, p_retailprice FROM part, anchor
             |WHERE p_retailprice < a_price
             |   OR (p_retailprice = a_price AND p_partkey > a_key)
             |ORDER BY p_retailprice DESC, p_partkey LIMIT 20""".stripMargin),
      doc = "Extension: keyset pagination (anchor-predicate page fetch — the scalable form of S3's offset paging)",
      sort = Nil
    ),

    // ── Six-table star join (the TPC-H Q5 shape): local-supplier
    // revenue by nation for one region-year — the widest join tree in
    // the suite, exercising multi-way join ordering. Plan economy: the
    // date predicate pushes to the orders SCAN (row-group pruning
    // before any join); nation and region are bounded dims and
    // broadcast explicitly; customer/supplier/orders stay shuffle
    // joins, which is what survives when those relations are
    // 100-TB-scale (Catalyst/AQE may still elect to broadcast them at
    // fixture size — the plan leaves that choice free). The
    // c_nationkey = s_nationkey equi-condition rides the supplier join
    // — "local" means buyer and seller share a nation. ──
    "j11_star_join_volume" -> Q(
      (s, d) => {
        val nations = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).where($("r_name") === "ASIA")),
            $("n_regionkey") === $("r_regionkey"))
          .select($("n_nationkey"), $("n_name"))
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .where($("o_orderdate") >= "1996-01-01" &&
              $("o_orderdate") < "1998-01-01"),
            $("l_orderkey") === $("o_orderkey"))
          .join(Tables.customer(s, d), $("o_custkey") === $("c_custkey"))
          .join(Tables.supplier(s, d),
            $("l_suppkey") === $("s_suppkey") &&
              $("c_nationkey") === $("s_nationkey"))
          .join(broadcast(nations), $("s_nationkey") === $("n_nationkey"))
          .groupBy($("n_name"))
          .agg(
            dsum($("l_extendedprice") * (lit(1.0) - $("l_discount")))
              .as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT n_name,
              |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
              |  count(*)::BIGINT AS n_items
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |              AND c_nationkey = s_nationkey
              |JOIN nation   ON s_nationkey = n_nationkey
              |JOIN region   ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND o_orderdate >= TIMESTAMP '1996-01-01'
              |  AND o_orderdate < TIMESTAMP '1998-01-01'
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "Extension: six-table star join (Q5 shape — local-supplier revenue by nation, date pushdown + bounded-dim broadcasts)",
      sort = Seq("n_name")
    ),

    // ── CUBE: all 2^n grouping combinations (per-pair, per-flag,
    // per-status, grand total) — the slice-and-dice companion of A9's
    // ROLLUP, one Expand-backed aggregate. ──
    "a11_cube" -> Q(
      (s, d) =>
        Tables
          .lineitem(s, d)
          .cube($("l_returnflag"), $("l_linestatus"))
          .agg(dsum($("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n_rows
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      doc = "Extension: CUBE grouping sets (all slice-and-dice combinations)",
      sort = Seq("l_returnflag", "l_linestatus")
    ),

    // ── UNPIVOT (melt): wide metric columns → (key, metric, value) rows,
    // the inverse of F11's pivot and the standard mart-to-long-form
    // reshape. Narrow (Expand-backed), no shuffle beyond the feeding
    // aggregate. ──
    "f12_unpivot" -> Q(
      (s, d) =>
        Tables
          .lineitem(s, d)
          .groupBy($("l_returnflag"))
          .agg(
            dsum($("l_quantity")).as("sum_qty"),
            dsum($("l_extendedprice")).as("sum_fat"))
          .unpivot(
            Array($("l_returnflag")),
            Array($("sum_qty"), $("sum_fat")),
            "metric", "value"),
      Some(s"""UNPIVOT (
              |  SELECT l_returnflag,
              |    ${dsumSql("l_quantity")} AS sum_qty,
              |    ${dsumSql("l_extendedprice")} AS sum_fat
              |  FROM lineitem GROUP BY 1)
              |ON sum_qty, sum_fat
              |INTO NAME metric VALUE value
              |ORDER BY l_returnflag, metric""".stripMargin),
      doc = "Extension: UNPIVOT/melt (wide metrics to long form, inverse of F11 pivot)",
      sort = Seq("l_returnflag", "metric")
    ),

    // ── String aggregation: ordered, delimited concat per group (the
    // GROUP_CONCAT the reference's MySQL would use for report columns).
    // Ordered collect keeps it deterministic across engines. ──
    "a10_string_agg" -> Q(
      (s, d) =>
        Tables
          .orders(s, d)
          .groupBy($("o_orderstatus"))
          .agg(
            concat_ws(",",
              sort_array(collect_set($("o_orderpriority")))).as("priorities"),
            count(lit(1)).as("n_rows")),
      Some("""SELECT o_orderstatus,
             |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             |    AS priorities,
             |  COUNT(*) AS n_rows
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "Extension: ordered string aggregation (GROUP_CONCAT) per group",
      sort = Seq("o_orderstatus")
    ),

    // ── GROUPING SETS: disjoint per-dimension subtotals in one
    // Expand-backed aggregate — the grouping-set shape ROLLUP (a9) and
    // CUBE (a11) can't express (each dimension alone, no combined or
    // grand-total rows). `grouping_id` disambiguates which set a row
    // came from; both engines share the leftmost-column-is-MSB bitmask
    // convention. ──
    "a12_grouping_sets" -> Q(
      (s, d) =>
        Tables
          .lineitem(s, d)
          .groupingSets(
            Seq(Seq($("l_returnflag")), Seq($("l_linestatus"))),
            $("l_returnflag"), $("l_linestatus"))
          .agg(
            grouping_id().cast(LongType).as("gid"),
            dsum($("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_rows")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  GROUPING(l_returnflag, l_linestatus) AS gid,
              |  ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n_rows
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin),
      doc = "Extension: GROUPING SETS (disjoint per-dimension subtotals + grouping_id)",
      sort = Seq("l_returnflag", "l_linestatus")
    ),

    // ── Rank-function family over a HIGH-CARDINALITY partition key:
    // ntile quartiles, percent_rank, cume_dist per order. Partitioning
    // by l_orderkey means millions of small independent partitions at
    // scale — each window sorts ≤ 7 rows, hash-distributed across the
    // cluster; contrast w6's two-phase global top-k, which this family
    // deliberately is not. The (l_linenumber) ordering is unique within
    // an order, so rank ≡ row_number and every emitted fraction is
    // deterministic. ──
    "w10_rank_family" -> Q(
      (s, d) => {
        val w = Window.partitionBy($("l_orderkey")).orderBy($("l_linenumber"))
        Tables
          .lineitem(s, d)
          .select($("l_orderkey"), $("l_linenumber"))
          .withColumn("quartile", ntile(4).over(w).cast(LongType))
          .withColumn("pct_rank", percent_rank().over(w))
          .withColumn("cume", cume_dist().over(w))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
             |  PERCENT_RANK() OVER w AS pct_rank,
             |  CUME_DIST() OVER w AS cume
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
             |ORDER BY l_orderkey, l_linenumber, quartile""".stripMargin),
      // quartile joins the determinism sort: the fixture carries duplicate
      // (l_orderkey, l_linenumber) pairs, and ntile splits such ties across
      // tiles positionally — the multiset is deterministic, the tie order
      // isn't.
      doc = "Extension: rank-function family (ntile/percent_rank/cume_dist, per-key windows)",
      sort = Seq("l_orderkey", "l_linenumber", "quartile")
    ),

    // ── Sketch: HyperLogLog distinct counts — the 100 TB path for A5/
    // A7-style cardinalities (mergeable fixed-size state, no distinct
    // shuffle). ENGINE-EXACT since round 5: [[HllExact]] computes the
    // registers from the portable md5-derived phash with integer-only
    // register sums, so the DuckDB twin replays the identical sketch and
    // the row is fully oracle-gated (was rows-only with Spark's HLL++,
    // whose registers are engine-specific). `SketchSpec` still pins the
    // estimate-vs-exact accuracy contract. ──
    "sk1_hll_distinct" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val orders = HllExact.estimate(
          HllExact.registers(li, Seq("l_returnflag"), $("l_orderkey")),
          Seq("l_returnflag"), "approx_orders")
        val parts = HllExact.estimate(
          HllExact.registers(li, Seq("l_returnflag"), $("l_partkey")),
          Seq("l_returnflag"), "approx_parts")
        orders.join(parts, Seq("l_returnflag"))
      },
      Some(s"""WITH ${HllExact.chainSql("o", "lineitem", Seq("l_returnflag"), "l_orderkey", "approx_orders")},
              |${HllExact.chainSql("p", "lineitem", Seq("l_returnflag"), "l_partkey", "approx_parts")}
              |SELECT o_e.l_returnflag, approx_orders, approx_parts
              |FROM o_e JOIN p_e ON o_e.l_returnflag = p_e.l_returnflag
              |ORDER BY 1""".stripMargin),
      doc = "Extension: engine-exact HLL distinct counts (md5 registers, integer sums — DuckDB replays the sketch)",
      sort = Seq("l_returnflag")
    ),

    // ── Sketch: the md5-FREE HLL — sk1's register pipeline with the
    // portable 60-bit INTEGER hash ([[HllExact.hash60]]: a 4-round
    // Feistel permutation with multiply-shift round functions)
    // instead of the md5-derived phash. The sketch's one pass over the
    // data is hash-dominated at scale, and id-typed keys don't need a
    // string digest; the DuckDB twin replays the integer hash
    // bit-for-bit, so this row is as oracle-gated as sk1. `SketchSpec`
    // pins the fast hash's estimate-vs-exact accuracy separately (a
    // weak hash would show up there as bias). ──
    "sk9_hll_fast_distinct" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val orders = HllExact.estimate(
          HllExact.registersFast(li, Seq("l_returnflag"), $("l_orderkey")),
          Seq("l_returnflag"), "approx_orders")
        val parts = HllExact.estimate(
          HllExact.registersFast(li, Seq("l_returnflag"), $("l_partkey")),
          Seq("l_returnflag"), "approx_parts")
        orders.join(parts, Seq("l_returnflag"))
      },
      Some(s"""WITH ${HllExact.chainSqlFast("o", "lineitem", Seq("l_returnflag"), "l_orderkey", "approx_orders")},
              |${HllExact.chainSqlFast("p", "lineitem", Seq("l_returnflag"), "l_partkey", "approx_parts")}
              |SELECT o_e.l_returnflag, approx_orders, approx_parts
              |FROM o_e JOIN p_e ON o_e.l_returnflag = p_e.l_returnflag
              |ORDER BY 1""".stripMargin),
      doc = "Extension: md5-free HLL distinct counts (portable Feistel integer hash — the fast-scan form for integer keys)",
      sort = Seq("l_returnflag")
    ),

    // ── Sketch: approximate quantiles — the 100 TB path for a8's exact
    // interpolated percentiles. percentile_approx's GK sketch is
    // mergeable fixed-size state (map-side partials, one tiny shuffle)
    // where exact percentile must materialize each group's values.
    // Engine-specific by design → rows-only check; `SketchSpec` pins the
    // rank-error contract against the exact values. ──
    "sk3_approx_quantiles" -> Q(
      (s, d) =>
        Tables
          .lineitem(s, d)
          .groupBy($("l_returnflag"))
          .agg(
            percentile_approx($("l_extendedprice"), lit(0.5), lit(10000))
              .as("approx_median"),
            percentile_approx($("l_extendedprice"), lit(0.9), lit(10000))
              .as("approx_p90"),
            count(lit(1)).as("n_rows")),
      None,
      doc = "Extension: GK approximate quantiles (rows-only check; rank error pinned in SketchSpec)",
      sort = Seq("l_returnflag")
    ),

    // ── Sketch: KMV bottom-k quantiles — the ENGINE-EXACT companion to
    // sk3 (GK is engine-specific by design; this row is the oracle-gated
    // twin of the same capability, the `HllExact` playbook applied to
    // quantiles). The sketch is a KMV sample: the k = 256 rows with the
    // smallest portable-hash values per group — deterministic,
    // content-stable, and MERGEABLE (bottom-k of a union = bottom-k of
    // the unioned bottom-ks, pinned in `SketchSpec`). The readout is
    // exact-rank SELECTION over the sample — the value at integer rank
    // ceil(q·k) computed with `div`, never float multiply-then-ceil
    // (0.9·k in double vs DuckDB's decimal literal can straddle an
    // integer) — so both engines pick the identical sample row. Shape:
    // the rank filter plans as a two-phase WindowGroupLimit — Spark 4
    // prunes row_number ≤ k MAP-SIDE before the exchange, so no
    // hand-rolled salt phase is needed (a salt window would ADD a
    // full-data shuffle the engine's partial prune makes redundant) and
    // the single exchange carries ≤ k rows per group per input partition
    // at ANY input size — fixed-size sample state, the 100 TB posture
    // for quantiles over groups. `PlanAuditSpec` pins the one-exchange,
    // partial-prune plan. ──
    "sk7_kmv_quantiles" -> Q(
      (s, d) => {
        val k = 256
        // the full tie-break chain MUST be a total order on the actual
        // fixture, not on TPC-H's paper schema: the driver's generator
        // emits DUPLICATE (l_orderkey, l_linenumber) pairs (~24% of
        // rows at every sf), so (h, okey, line) alone leaves real ties
        // — harmless until a tie straddles the k boundary, which first
        // happened at the ×100 corpus (ranks 256/257 shared a key pair
        // and the two engines kept different rows, shifting the
        // rank-128 readout). The value columns complete the order; a
        // residual tie would then be a value-identical row, which
        // cannot change any readout.
        val ord = Seq($("h").asc, $("l_orderkey").asc, $("l_linenumber").asc,
          $("l_extendedprice").asc, $("l_quantity").asc,
          $("l_discount").asc, $("l_tax").asc)
        val wGroup = Window.partitionBy($("l_returnflag")).orderBy(ord: _*)
        val wVal = Window.partitionBy($("l_returnflag"))
          .orderBy($("l_extendedprice").asc, $("rh").asc)
        Tables
          .lineitem(s, d)
          .select($("l_returnflag"), $("l_orderkey"), $("l_linenumber"),
            $("l_extendedprice"), $("l_quantity"), $("l_discount"),
            $("l_tax"),
            // pmix2, not phash: the md5 hex round-trip dominated this
            // scan (3.2 s isolated at sf0.1 → the integer mix trims it);
            // 31-bit output is plenty for a k=256 bottom-k whose ties
            // break on the row chain below anyway
            Exprs.pmix2($("l_orderkey"), $("l_linenumber")).as("h"))
          .withColumn("rh", row_number().over(wGroup)).filter($("rh") <= k)
          .withColumn("rv", row_number().over(wVal))
          .withColumn("ks", count(lit(1)).over(Window.partitionBy($("l_returnflag"))))
          .groupBy($("l_returnflag"))
          .agg(
            max(when($("rv") === expr("(ks + 1) div 2"), $("l_extendedprice")))
              .as("approx_median"),
            max(when($("rv") === expr("(ks * 9 + 9) div 10"), $("l_extendedprice")))
              .as("approx_p90"),
            max($("ks")).as("n_sample"))
      },
      Some(s"""WITH s AS (
              |  SELECT * FROM (
              |    SELECT l_returnflag, l_extendedprice,
              |      ROW_NUMBER() OVER (PARTITION BY l_returnflag
              |        ORDER BY ${Exprs.pmix2Sql("l_orderkey", "l_linenumber")},
              |          l_orderkey, l_linenumber, l_extendedprice,
              |          l_quantity, l_discount, l_tax) AS rh
              |    FROM lineitem)
              |  WHERE rh <= 256),
              |r AS (
              |  SELECT l_returnflag, l_extendedprice,
              |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
              |      ORDER BY l_extendedprice, rh) AS rv,
              |    count(*) OVER (PARTITION BY l_returnflag) AS ks
              |  FROM s)
              |SELECT l_returnflag,
              |  max(CASE WHEN rv = (ks + 1) // 2 THEN l_extendedprice END) AS approx_median,
              |  max(CASE WHEN rv = (ks * 9 + 9) // 10 THEN l_extendedprice END) AS approx_p90,
              |  max(ks) AS n_sample
              |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "Extension: engine-exact KMV bottom-k quantiles (oracle-gated twin of sk3; mergeable fixed-size sample, integer-rank readout)",
      sort = Seq("l_returnflag")
    ),

    // ── Sketch: HLL rollup via MERGEABLE state — per-(flag, status)
    // register tables built in one pass, then UNIONED per flag (sketch
    // merge = max per register) without touching the raw data again.
    // This is the property that makes sketches the 100 TB answer: the
    // fine-grain sketch table is tiny and re-aggregates to any coarser
    // grain (day→month, SKU→brand) at sketch-merge cost. ENGINE-EXACT
    // since round 5 ([[HllExact]]) → fully oracle-gated: the DuckDB twin
    // replays the fine registers AND the max-merge. ──
    "sk4_hll_merge_rollup" -> Q(
      (s, d) => {
        val fine = HllExact.registers(Tables.lineitem(s, d),
          Seq("l_returnflag", "l_linestatus"), $("l_orderkey"))
        // sketch UNION: register-wise max across the statuses of a flag
        val coarse = fine.groupBy($("l_returnflag"), $("idx"))
          .agg(max($("mj")).as("mj"))
        val est = HllExact.estimate(coarse, Seq("l_returnflag"), "approx_orders")
        val nsk = fine.select($("l_returnflag"), $("l_linestatus")).distinct()
          .groupBy($("l_returnflag")).agg(count(lit(1)).as("n_sketches"))
        est.join(nsk, Seq("l_returnflag"))
      },
      Some(s"""WITH ${HllExact.registersSql("f", "lineitem",
                 Seq("l_returnflag", "l_linestatus"), "l_orderkey")},
              |c_r AS (
              |  SELECT l_returnflag, idx, max(mj) AS mj
              |  FROM f_r GROUP BY 1, 2),
              |${HllExact.estimateSql("c", "c_r", Seq("l_returnflag"), "approx_orders")},
              |n AS (
              |  SELECT l_returnflag, count(*)::BIGINT AS n_sketches
              |  FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM f_r)
              |  GROUP BY 1)
              |SELECT c_e.l_returnflag, approx_orders, n_sketches
              |FROM c_e JOIN n ON n.l_returnflag = c_e.l_returnflag
              |ORDER BY 1""".stripMargin),
      doc = "Extension: mergeable engine-exact HLL rollup (fine register tables max-merge to coarse grain)",
      sort = Seq("l_returnflag")
    ),

    // ── Sketch: set-OVERLAP estimation by inclusion–exclusion over
    // mergeable HLLs — |A∩B| ≈ |A| + |B| − |A∪B|, the audience-overlap
    // readout ("how many customers do two segments share") computed
    // WITHOUT ever joining the raw sets: per-segment sketches are
    // fixed-size state, the union is a sketch merge (register max), and
    // at 100 TB the segment sketches are precomputed and the overlap
    // question costs three estimates. ENGINE-EXACT since round 5
    // ([[HllExact]]) → fully oracle-gated; `SketchSpec` still pins the
    // estimate against the exact overlap. ──
    "sk6_hll_overlap" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
        def regs(y: Int) = HllExact.registers(
          o.filter(year($("o_orderdate")) === y), Nil, $("o_custkey"))
        val (ra, rb) = (regs(1996), regs(1997))
        val estA = HllExact.estimate(ra, Nil, "est_a")
        val estB = HllExact.estimate(rb, Nil, "est_b")
        val estU = HllExact.estimate(
          ra.unionByName(rb).groupBy($("idx")).agg(max($("mj")).as("mj")),
          Nil, "est_union")
        estA.crossJoin(estB).crossJoin(estU)
          .select($("est_a"), $("est_b"), $("est_union"),
            ($("est_a") + $("est_b") - $("est_union")).as("est_overlap"))
      },
      Some {
        def cohortFrom(y: Int) =
          s"(SELECT o_custkey FROM orders WHERE year(o_orderdate) = $y)"
        s"""WITH ${HllExact.chainSql("a", cohortFrom(1996), Nil, "o_custkey", "est_a")},
           |${HllExact.chainSql("b", cohortFrom(1997), Nil, "o_custkey", "est_b")},
           |u_r AS (
           |  SELECT idx, max(mj) AS mj
           |  FROM (SELECT idx, mj FROM a_r UNION ALL SELECT idx, mj FROM b_r)
           |  GROUP BY 1),
           |${HllExact.estimateSql("u", "u_r", Nil, "est_union")}
           |SELECT est_a, est_b, est_union,
           |  est_a + est_b - est_union AS est_overlap
           |FROM a_e, b_e, u_e""".stripMargin
      },
      doc = "Extension: engine-exact HLL set-overlap via inclusion-exclusion (register max-merge union, replayed in DuckDB)",
      sort = Nil
    ),

    // ── Data-quality: two-pass z-score outlier detection. Pass 1 is one
    // hash aggregate producing engine-exact moment sums (n, Σx, Σx²
    // through the dsum decimal path); mean/σ derive from them in
    // identical double arithmetic on both engines — NOT the built-in
    // stddev, whose streaming update order is engine- and
    // partition-dependent — then quantize to 1e-6 through a LONG
    // intermediate (DuckDB's double→decimal conversion can sit 1 ulp
    // off Spark's exact path on rare Σx² addends, and the quantized
    // stats feed both the output AND the 3σ comparison, so a last-ulp
    // σ can never flip a borderline row). Pass 2 re-scans with the
    // tiny moments table broadcast and counts |x − μ| > 3σ. Two scans,
    // zero wide shuffles of the fact. ──
    "dq2_zscore_outliers" -> Q(
      (s, d) => {
        def q6(c: org.apache.spark.sql.Column) =
          round(c * 1e6).cast(LongType).cast(DoubleType) / 1e6
        val li = Tables.lineitem(s, d)
        val moments = li.groupBy($("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            dsum($("l_extendedprice")).as("s1"),
            dsum($("l_extendedprice") * $("l_extendedprice")).as("s2"))
          .withColumn("mean", q6($("s1") / $("n")))
          .withColumn("sigma",
            q6(sqrt(($("s2") - $("s1") * $("s1") / $("n")) / ($("n") - 1))))
        li.select($("l_returnflag"), $("l_extendedprice"))
          .join(broadcast(moments.select($("l_returnflag"), $("mean"), $("sigma"))),
            Seq("l_returnflag"))
          .groupBy($("l_returnflag"), $("mean"), $("sigma"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(abs($("l_extendedprice") - $("mean")) > lit(3.0) * $("sigma"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .select($("l_returnflag"), $("n"), $("mean"), $("sigma"), $("n_outliers"))
      },
      Some(s"""WITH moments AS (
              |  SELECT l_returnflag, COUNT(*) AS n,
              |    ${dsumSql("l_extendedprice")} AS s1,
              |    ${dsumSql("l_extendedprice * l_extendedprice")} AS s2
              |  FROM lineitem GROUP BY 1),
              |m2 AS (
              |  SELECT l_returnflag, n,
              |    CAST(round(s1 / n * 1e6) AS BIGINT) / 1e6 AS mean,
              |    CAST(round(sqrt((s2 - s1 * s1 / n) / (n - 1)) * 1e6) AS BIGINT)
              |      / 1e6 AS sigma
              |  FROM moments)
              |SELECT l.l_returnflag, m.n, m.mean, m.sigma,
              |  CAST(SUM(CASE WHEN abs(l.l_extendedprice - m.mean) > 3.0 * m.sigma
              |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
              |FROM lineitem l JOIN m2 m ON m.l_returnflag = l.l_returnflag
              |GROUP BY 1, 2, 3, 4
              |ORDER BY 1""".stripMargin),
      doc = "Extension: two-pass z-score outlier audit (exact moment sums, broadcast stats)",
      sort = Seq("l_returnflag")
    ),

    // ── 2-D skyline (pareto front): parts minimizing price while
    // maximizing size — no other part is cheaper-or-equal AND
    // bigger-or-equal with one strict. The Spark plan is the
    // SORT-BASED skyline, never the quadratic dominance join: per-price
    // max-size (one hash agg), strict-prefix max over prices computed
    // hierarchically — within constant-width price buckets first
    // (windows partitioned by bucket), then one window over the
    // BUCKET-level maxima, a constant-size relation (bucket count is a
    // plan constant, independent of row count, so the single-partition
    // window is bounded by construction — and it's hash-, not
    // range-partitioned, keeping every plan free of global sorts). The
    // DuckDB twin runs the textbook NOT-EXISTS dominance predicate —
    // same rows from a structurally different algorithm, which is the
    // strongest kind of oracle. ──
    "sky1_pareto_front" -> Q(
      (s, d) => {
        val p = Tables.part(s, d).select(col("p_partkey"),
          col("p_retailprice").as("price"),
          col("p_size").cast(LongType).as("size"))
        val perPrice = p.groupBy(col("price"))
          .agg(max(col("size")).as("ms"))
          .withColumn("bkt", floor(col("price") / 100.0))
        val wIn = Window.partitionBy(col("bkt")).orderBy(col("price"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val within = perPrice
          .withColumn("in_prev", max(col("ms")).over(wIn))
        val wB = Window.partitionBy(lit(0)).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val bPrev = perPrice.groupBy(col("bkt")).agg(max(col("ms")).as("bm"))
          .withColumn("b_prev", max(col("bm")).over(wB))
          .select(col("bkt"), col("b_prev"))
        val pref = within.join(bPrev, Seq("bkt"))
          .withColumn("strict_prev", greatest(col("in_prev"), col("b_prev")))
          .select(col("price"), col("ms"), col("strict_prev"))
        p.join(pref, Seq("price"))
          .filter(col("size") === col("ms") &&
            (col("strict_prev").isNull || col("strict_prev") < col("ms")))
          .select(col("p_partkey"), col("price"), col("size"))
      },
      Some("""SELECT p.p_partkey, p.p_retailprice AS price,
             |  p.p_size::BIGINT AS size
             |FROM part p
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM part q
             |  WHERE q.p_retailprice <= p.p_retailprice
             |    AND q.p_size >= p.p_size
             |    AND (q.p_retailprice < p.p_retailprice
             |         OR q.p_size > p.p_size))
             |ORDER BY p.p_partkey""".stripMargin),
      doc = "Extension: sort-based 2-D skyline vs the oracle's quadratic dominance predicate",
      sort = Seq("p_partkey")
    ),

    // ── String-function kit: the library's scalar string surface in one
    // oracle-gated pass — length/case/reverse/position/edit-distance/
    // pad/translate/repeat, each chosen because Spark and DuckDB define
    // it identically (levenshtein is the classic DP; strpos≡instr are
    // 1-based with 0-absent). Map-only, whole-stage codegen. ──
    "c9_string_kit" -> Q(
      (s, d) =>
        Tables.part(s, d).select(
          $("p_partkey"),
          length($("p_name")).cast(LongType).as("len"),
          upper($("p_name")).as("up"),
          reverse($("p_name")).as("rev"),
          instr($("p_name"), " ").cast(LongType).as("sp"),
          levenshtein($("p_name"), reverse($("p_name"))).cast(LongType)
            .as("lev"),
          lpad($("p_name"), 20, ".").as("pad"),
          translate($("p_name"), "aeiou", "_____").as("tr"),
          repeat(substring($("p_name"), 1, 2), 3).as("rep")),
      Some("""SELECT p_partkey, length(p_name)::BIGINT AS len,
             |  upper(p_name) AS up, reverse(p_name) AS rev,
             |  strpos(p_name, ' ')::BIGINT AS sp,
             |  levenshtein(p_name, reverse(p_name))::BIGINT AS lev,
             |  lpad(p_name, 20, '.') AS pad,
             |  translate(p_name, 'aeiou', '_____') AS tr,
             |  repeat(p_name[1:2], 3) AS rep
             |FROM part ORDER BY p_partkey""".stripMargin),
      doc = "Extension: scalar string-function surface (engine-identical subset, map-only)",
      sort = Seq("p_partkey")
    ),

    // ── Date-function kit: the calendar scalar surface — day-of-week
    // (Spark's 1=Sunday convention, oracle shifts DuckDB's 0-based),
    // ISO week, quarter, day-of-year, month-end, add_months (both
    // engines clamp Jan 31 + 1m → Feb 28/29), Monday week truncation.
    // Map-only. ──
    "c10_date_kit" -> Q(
      (s, d) =>
        Tables.orders(s, d).select(
          $("o_orderkey"),
          dayofweek($("o_orderdate")).cast(LongType).as("dow"),
          weekofyear($("o_orderdate")).cast(LongType).as("woy"),
          quarter($("o_orderdate")).cast(LongType).as("q"),
          dayofyear($("o_orderdate")).cast(LongType).as("doy"),
          last_day($("o_orderdate")).as("eom"),
          add_months(to_date($("o_orderdate")), 2).as("plus2m"),
          date_trunc("week", $("o_orderdate")).cast(DateType).as("wk")),
      Some("""SELECT o_orderkey,
             |  (dayofweek(o_orderdate) + 1)::BIGINT AS dow,
             |  weekofyear(o_orderdate)::BIGINT AS woy,
             |  quarter(o_orderdate)::BIGINT AS q,
             |  dayofyear(o_orderdate)::BIGINT AS doy,
             |  last_day(o_orderdate::DATE) AS eom,
             |  (o_orderdate::DATE + INTERVAL 2 MONTH)::DATE AS plus2m,
             |  date_trunc('week', o_orderdate)::DATE AS wk
             |FROM orders ORDER BY o_orderkey""".stripMargin),
      doc = "Extension: calendar scalar surface (dow/week/quarter/eom/add_months, clamping verified)",
      sort = Seq("o_orderkey")
    ),

    // ── NULL-semantics kit: the null-handling surface pinned
    // engine-identical in one pass — coalesce chains, NULLIF,
    // null-propagating arithmetic, IS DISTINCT FROM (the null-safe
    // comparison that never returns NULL), concat_ws's skip-nulls
    // contract, and CASE-on-IS-NULL. The reference leans on PHP's
    // `?? null` everywhere (C1); this is the engine-side contract that
    // behavior rests on. Deliberately EXCLUDES greatest/least over
    // NULLs — the one spot the engines' null conventions genuinely
    // diverge, documented here rather than papered over. ──
    "c11_null_kit" -> Q(
      (s, d) => {
        val base = Tables.nation(s, d).select(
          $("n_nationkey").as("k"),
          when(pmod($("n_nationkey"), lit(3)) === 0, lit(null))
            .otherwise($("n_name")).as("s"),
          when(pmod($("n_nationkey"), lit(4)) === 0, lit(null))
            .otherwise($("n_regionkey")).as("v"))
        base.select(
          $("k"),
          coalesce($("s"), lit("missing")).as("s_filled"),
          ($("v") + 1).cast(LongType).as("v_plus"),
          nullif(pmod($("k"), lit(5)), lit(0)).cast(LongType).as("nz"),
          expr("s IS DISTINCT FROM 'BRAZIL'").as("not_brazil"),
          concat_ws("|", $("s"), lit("x")).as("joined"),
          when($("v").isNull, lit("missing")).otherwise(lit("present"))
            .as("v_status"))
      },
      Some("""SELECT k,
             |  coalesce(s, 'missing') AS s_filled,
             |  CAST(v + 1 AS BIGINT) AS v_plus,
             |  CAST(nullif(k % 5, 0) AS BIGINT) AS nz,
             |  (s IS DISTINCT FROM 'BRAZIL') AS not_brazil,
             |  concat_ws('|', s, 'x') AS joined,
             |  CASE WHEN v IS NULL THEN 'missing' ELSE 'present' END
             |    AS v_status
             |FROM (
             |  SELECT n_nationkey AS k,
             |    CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_name END AS s,
             |    CASE WHEN n_nationkey % 4 = 0 THEN NULL ELSE n_regionkey END
             |      AS v
             |  FROM nation)
             |ORDER BY k""".stripMargin),
      doc = "Extension: NULL-semantics kit (coalesce/nullif/propagation/IS DISTINCT FROM/concat_ws, engine-identical)",
      sort = Seq("k")
    ),

    // ── Equi-depth histogram: quartile boundaries from one exact
    // percentile aggregate (1e-6-quantized through a LONG, the compare
    // trick `a8_quantiles` proved engine-exact), broadcast back over
    // the fact for a single map-side bucket classification + count.
    // Two passes over the data, no sort, no per-row shuffle — the
    // optimizer-statistics shape (equi-depth bins are what a CBO's
    // histograms are). At 100 TB pass 1 becomes approx_percentile;
    // the plan shape is unchanged. ──
    "a13_equidepth_hist" -> Q(
      (s, d) => {
        def q6(c: org.apache.spark.sql.Column) =
          round(c * 1e6).cast(LongType).cast(DoubleType) / 1e6
        val o = Tables.orders(s, d).select($("o_totalprice").as("x"))
        val bounds = o.agg(
          q6(percentile($("x"), lit(0.25))).as("q1"),
          q6(percentile($("x"), lit(0.5))).as("q2"),
          q6(percentile($("x"), lit(0.75))).as("q3"))
        o.crossJoin(broadcast(bounds))
          .select(
            when($("x") <= $("q1"), 0L)
              .when($("x") <= $("q2"), 1L)
              .when($("x") <= $("q3"), 2L)
              .otherwise(3L).as("bucket"),
            $("x"))
          .groupBy($("bucket"))
          .agg(count(lit(1)).as("n"),
            min($("x")).as("lo"), max($("x")).as("hi"))
      },
      Some("""WITH b AS (
             |  SELECT
             |    CAST(round(quantile_cont(o_totalprice, 0.25)*1e6) AS BIGINT)/1e6 AS q1,
             |    CAST(round(quantile_cont(o_totalprice, 0.5)*1e6) AS BIGINT)/1e6 AS q2,
             |    CAST(round(quantile_cont(o_totalprice, 0.75)*1e6) AS BIGINT)/1e6 AS q3
             |  FROM orders)
             |SELECT CASE WHEN o_totalprice <= q1 THEN 0
             |            WHEN o_totalprice <= q2 THEN 1
             |            WHEN o_totalprice <= q3 THEN 2
             |            ELSE 3 END::BIGINT AS bucket,
             |  count(*)::BIGINT AS n,
             |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
             |FROM orders, b GROUP BY 1 ORDER BY bucket""".stripMargin),
      doc = "Extension: equi-depth histogram (exact quantile cuts broadcast over a map-side bucket count)",
      sort = Seq("bucket")
    ),

    // ── Exact per-group MODE with a deterministic tie-break (highest
    // count, then smallest value — both engines replay the same rank).
    // Plan: one hash agg on (group, value) with map-side combine, then
    // a row_number window over the already-aggregated (tiny) counts —
    // the window never sees fact rows, so the shape is two bounded
    // shuffles at any scale. ──
    "a14_mode" -> Q(
      (s, d) => {
        val counts = Tables.part(s, d)
          .groupBy($("p_brand"), $("p_size"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy($("p_brand"))
          .orderBy($("cnt").desc, $("p_size").asc)
        counts
          .withColumn("rn", row_number().over(w))
          .where($("rn") === 1)
          .select($("p_brand"), $("p_size").as("mode_size"),
            $("cnt").as("mode_count"))
      },
      Some("""SELECT p_brand, mode_size, mode_count FROM (
             |  SELECT p_brand, p_size AS mode_size,
             |    count(*)::BIGINT AS mode_count,
             |    row_number() OVER (PARTITION BY p_brand
             |      ORDER BY count(*) DESC, p_size) AS rn
             |  FROM part GROUP BY p_brand, p_size)
             |WHERE rn = 1 ORDER BY p_brand""".stripMargin),
      doc = "Extension: exact per-group mode (deterministic tie-break, window over pre-aggregated counts)",
      sort = Seq("p_brand")
    ),

    // ── Sketch: bloom-filter join pruning — the 100 TB path for a
    // selective dim⋈fact join. Catalyst's InjectRuntimeFilter does this
    // automatically when thresholds line up; this query is the explicit,
    // always-on form. The dim's join keys fold into ONE fixed-size bloom
    // sketch (scalar subquery → broadcast to every scan task), the fact
    // is pre-filtered BEFORE its shuffle — at 1% dim selectivity that's
    // ~99% of the fact's shuffle volume dropped — and the exact semi-join
    // afterwards removes bloom false positives, so the result is
    // value-identical to the plain semi-join oracle. bloom_agg /
    // bloom_might_contain are Spark's own runtime-filter expressions
    // surfaced as SQL functions (see Functions.all). ──
    "sk2_bloom_prune_join" -> Q(
      (s, d) => {
        Tables.orders(s, d)
          .filter($("o_orderpriority") === "1-URGENT" && $("o_orderstatus") === "F")
          .select($("o_orderkey"))
          .createOrReplaceTempView("sk2_dim_keys")
        Tables.lineitem(s, d)
          .select($("l_orderkey"), $("l_returnflag"), $("l_extendedprice"))
          .createOrReplaceTempView("sk2_fact")
        s.sql("""
          WITH pruned AS (
            SELECT l_orderkey, l_returnflag, l_extendedprice
            FROM sk2_fact
            WHERE bloom_might_contain(
                    (SELECT bloom_agg(o_orderkey) FROM sk2_dim_keys),
                    l_orderkey)
          )
          SELECT l_returnflag,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
          FROM pruned
          WHERE EXISTS (SELECT 1 FROM sk2_dim_keys k
                        WHERE k.o_orderkey = pruned.l_orderkey)
          GROUP BY 1
        """)
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
             |FROM lineitem
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_orderkey = l_orderkey
             |                AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'F')
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "Extension: explicit bloom runtime filter + exact semi-join ≡ plain semi-join",
      sort = Seq("l_returnflag")
    ),

    // ── Set operators: INTERSECT / EXCEPT (distinct set semantics in
    // both engines) — shuffle-on-key set algebra, emitted as one tagged
    // relation. ──
    "set1_except_intersect" -> Q(
      (s, d) => {
        val sold = Tables.lineitem(s, d)
          .filter($("l_returnflag") === "A")
          .select($("l_partkey").as("partkey")).distinct()
        val small = Tables.part(s, d)
          .filter($("p_size") < 10)
          .select($("p_partkey").as("partkey")).distinct()
        sold.intersect(small).withColumn("op", lit("intersect"))
          .unionByName(sold.except(small).withColumn("op", lit("except")))
      },
      Some("""SELECT partkey, 'intersect' AS op FROM (
             |  SELECT DISTINCT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'A'
             |  INTERSECT
             |  SELECT DISTINCT p_partkey FROM part WHERE p_size < 10)
             |UNION ALL
             |SELECT partkey, 'except' AS op FROM (
             |  SELECT DISTINCT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'A'
             |  EXCEPT
             |  SELECT DISTINCT p_partkey FROM part WHERE p_size < 10)
             |ORDER BY op, partkey""".stripMargin),
      doc = "Extension: INTERSECT/EXCEPT set algebra (distinct semantics both engines)",
      sort = Seq("op", "partkey")
    ),

    // ── A5: DISTINCT. ──
    "a5_distinct" -> Q(
      (s, d) =>
        Tables
          .orders(s, d)
          .select($("o_orderpriority"), $("o_orderstatus"))
          .distinct(),
      Some("""SELECT DISTINCT o_orderpriority, o_orderstatus
             |FROM orders ORDER BY 1, 2""".stripMargin),
      doc = "SURVEY A5 — SELECT DISTINCT tarefa_popular_fila_trafego.php:32",
      sort = Seq("o_orderpriority", "o_orderstatus")
    ),

    // ── A6: key-set union driving set (keys(sales) ∪ traffic children). ──
    "a6_keyset_union" -> Q(
      (s, d) => {
        val sold = Tables
          .lineitem(s, d)
          .filter($("l_returnflag") === "A")
          .select($("l_partkey").as("partkey"))
        val small =
          Tables.part(s, d).filter($("p_size") < 10).select($("p_partkey").as("partkey"))
        sold.union(small).distinct()
      },
      Some("""SELECT DISTINCT partkey FROM (
             |  SELECT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'A'
             |  UNION ALL
             |  SELECT p_partkey AS partkey FROM part WHERE p_size < 10
             |) ORDER BY partkey""".stripMargin),
      doc = "SURVEY A6 — variacoes_a_processar tarefa_consolidar_dados.php:101-116",
      sort = Seq("partkey")
    ),

    // ── J1: inner equi-join against a broadcast dim. ──
    "j1_join_map_inner" -> Q(
      (s, d) =>
        Tables
          .lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), $("l_partkey") === $("p_partkey"), "inner")
          .groupBy($("p_brand"))
          .agg(count(lit(1)).as("n_rows"), dsum($("l_extendedprice")).as("fat")),
      Some(s"""SELECT p_brand, COUNT(*) AS n_rows,
              |  ${dsumSql("l_extendedprice")} AS fat
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "SURVEY J1 — inner map probe tarefa_consolidar_dados.php:156 (broadcast)",
      sort = Seq("p_brand")
    ),

    // ── J2: left join to a cost dim with null→0 default. ──
    "j2_join_cost_left" -> Q(
      (s, d) => {
        val sales = Tables
          .lineitem(s, d)
          .groupBy($("l_partkey"))
          .agg(dsum($("l_quantity")).as("qtd"))
        val costs = broadcast(
          Tables.part(s, d).filter($("p_size") > 10).select($("p_partkey"), $("p_retailprice")))
        sales
          .join(costs, $("l_partkey") === $("p_partkey"), "left")
          .select(
            $("l_partkey"),
            $("qtd"),
            coalesce($("p_retailprice"), lit(0.0)).as("custo_unit"))
      },
      Some(s"""SELECT l_partkey, qtd, COALESCE(p_retailprice, 0.0) AS custo_unit
              |FROM (SELECT l_partkey, ${dsumSql("l_quantity")} AS qtd
              |      FROM lineitem GROUP BY 1) v
              |LEFT JOIN (SELECT p_partkey, p_retailprice FROM part WHERE p_size > 10) c
              |  ON l_partkey = p_partkey
              |ORDER BY l_partkey""".stripMargin),
      doc = "SURVEY J2 — left cost probe with ?? 0.00 default tarefa_consolidar_dados.php:176",
      sort = Seq("l_partkey")
    ),

    // ── J6: anti-join side output (unmapped SKU alerts). ──
    "j6_join_anti_alerts" -> Q(
      (s, d) =>
        Tables
          .part(s, d)
          .join(
            Tables.lineitem(s, d).filter($("l_quantity") >= 48.0),
            $("p_partkey") === $("l_partkey"),
            "left_anti")
          .select($("p_partkey"), $("p_name"), $("p_brand")),
      Some("""SELECT p_partkey, p_name, p_brand FROM part p
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
             |                  WHERE p.p_partkey = l.l_partkey AND l.l_quantity >= 48.0)
             |ORDER BY p_partkey""".stripMargin),
      doc = "SURVEY J6/K7 — anti-join alert branch tarefa_consolidar_mapa.php:75-78",
      sort = Seq("p_partkey")
    ),

    // ── J7: semi-join (exists filter). ──
    "j7_join_semi" -> Q(
      (s, d) =>
        Tables
          .customer(s, d)
          .join(
            Tables.orders(s, d).filter($("o_orderstatus") === "F"),
            $("c_custkey") === $("o_custkey"),
            "left_semi")
          .select($("c_custkey"), $("c_name"), $("c_mktsegment")),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin),
      doc = "SURVEY J7 — grouped-multimap probe as semi-join worker_processar_estoque.php:16-19",
      sort = Seq("c_custkey")
    ),

    // ── J8: left self-join for a parent lookup. ──
    "j8_self_join_parent" -> Q(
      (s, d) => {
        val p = Tables.part(s, d)
        val child = p.select(
          $("p_partkey").as("partkey"),
          $("p_name").as("name"),
          ($("p_partkey") - ($("p_partkey") % 10)).as("parentkey"))
        val parent = p.select($("p_partkey").as("pk"), $("p_name").as("parent_name"))
        child
          .join(parent, $("parentkey") === $("pk"), "left")
          .select($("partkey"), $("name"), $("parentkey"), $("parent_name"))
      },
      Some("""SELECT c.p_partkey AS partkey, c.p_name AS name,
             |       c.p_partkey - (c.p_partkey % 10) AS parentkey,
             |       p.p_name AS parent_name
             |FROM part c
             |LEFT JOIN part p ON p.p_partkey = c.p_partkey - (c.p_partkey % 10)
             |ORDER BY partkey""".stripMargin),
      doc = "SURVEY J8 — Tiny parent-SKU self-join tarefa_sincronizar_catalogo_tiny.php:76-79",
      sort = Seq("partkey")
    ),

    // ── W1: revenue share over a partition (exact windowed denominator). ──
    "w1_window_share" -> Q(
      (s, d) => {
        val w = Window.partitionBy($("l_orderkey"))
        Tables
          .lineitem(s, d)
          .select(
            $("l_orderkey"),
            $("l_linenumber"),
            ($("l_extendedprice") / Exprs.dsumOver($("l_extendedprice"), w)).as("peso"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
             |      OVER (PARTITION BY l_orderkey) AS VARCHAR) AS DOUBLE) AS peso
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      doc = "SURVEY W1 — peso = fat/Σfat over parent tarefa_consolidar_dados.php:194-200",
      sort = Seq("l_orderkey", "l_linenumber")
    ),

    // ── W5: per-order freight proration with zero-revenue guard. ──
    "w5_freight_proration" -> Q(
      (s, d) => {
        val w = Window.partitionBy($("l_orderkey"))
        val li = Tables.lineitem(s, d)
        val o  = Tables.orders(s, d).select($("o_orderkey"), $("o_totalprice"))
        li.join(o, $("l_orderkey") === $("o_orderkey"), "inner")
          .withColumn("fat_ordem", Exprs.dsumOver($("l_extendedprice"), w))
          .select(
            $("l_orderkey"),
            $("l_linenumber"),
            when(
              $("fat_ordem") > 0.0,
              ($("o_totalprice") * lit(0.1)) * ($("l_extendedprice") / $("fat_ordem")))
              .otherwise(lit(0.0))
              .as("custo_frete_rateado"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  CASE WHEN fat_ordem > 0.0
             |       THEN (o_totalprice * 0.1) * (l_extendedprice / fat_ordem)
             |       ELSE 0.0 END AS custo_frete_rateado
             |FROM (
             |  SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice,
             |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
             |        OVER (PARTITION BY l_orderkey) AS VARCHAR) AS DOUBLE) AS fat_ordem
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      doc = "SURVEY W5/A4 — custo_frete_rateado tarefa_coletar_financas.php:134-135",
      sort = Seq("l_orderkey", "l_linenumber")
    ),

    // ── W6/L3: rank + top-k per partition — TWO-PHASE. `l_returnflag` has
    // 3 distinct values, so a single window would shuffle the whole fact
    // into 3 tasks that each sort everything. Phase 1 ranks within
    // (flag, salt-of-64) — 192 well-spread partitions — and keeps each
    // bucket's top-3 (any global top-3 row necessarily survives its own
    // bucket's top-3); phase 2 re-ranks the ≤ 192×3 survivors. Output is
    // identical to the naive single window at any scale. ──
    "w6_rank_topk" -> Q(
      (s, d) => {
        // Top-k per group: one rank window. Spark 4 plans the
        // row_number <= 3 filter as a two-phase WindowGroupLimit whose
        // Partial phase prunes to 3 rows per group per input partition
        // BEFORE the exchange — the engine's native two-phase top-k, so
        // a hand-rolled salt pre-rank would only add a full-data
        // shuffle (removed round 5; plan pinned in `PlanAuditSpec`).
        val ord = Seq(
          $("l_extendedprice").desc, $("l_orderkey").asc, $("l_linenumber").asc)
        val wGlobal = Window.partitionBy($("l_returnflag")).orderBy(ord: _*)
        Tables
          .lineitem(s, d)
          .withColumn("posicao", row_number().over(wGlobal))
          .filter($("posicao") <= 3)
          .select($("l_returnflag"), $("posicao"), $("l_orderkey"), $("l_linenumber"),
            $("l_extendedprice"))
      },
      Some("""SELECT l_returnflag, posicao, l_orderkey, l_linenumber, l_extendedprice
             |FROM (
             |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS posicao
             |  FROM lineitem)
             |WHERE posicao <= 3 ORDER BY l_returnflag, posicao""".stripMargin),
      doc = "SURVEY W6/F12 — posicao rank tarefa_coletar_posicionamento.php:74-81",
      sort = Seq("l_returnflag", "posicao")
    ),

    // ── K1: keyed upsert final state = keep-latest per key. ──
    "k1_upsert_latest" -> Q(
      (s, d) => {
        val w = Window
          .partitionBy($("o_custkey"))
          .orderBy($("o_orderdate").desc, $("o_orderkey").desc)
        Tables
          .orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter($("rn") === 1)
          .select(
            $("o_custkey"),
            $("o_orderkey"),
            to_date($("o_orderdate")).as("data_ultimo"),
            $("o_totalprice"))
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS data_ultimo,
             |       o_totalprice
             |FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |  FROM orders)
             |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
      doc = "SURVEY K1 — INSERT..ON DUPLICATE KEY UPDATE as keep-latest dedup",
      sort = Seq("o_custkey")
    ),

    // ── K1 through the REAL bucketed write path: the same keep-latest
    // state as `k1_upsert_latest`, but reached by two
    // [[graft.sinks.UpsertWriter.upsertBucketed]] merges into a
    // hash-bucket-partitioned parquet table (even o_orderkey = batch 0,
    // odd = batch 1) — the scale form where a batch rewrites touched
    // buckets, not the corpus. The version is a total order per key
    // (days(o_orderdate)·10¹³ + o_orderkey — the 10¹³ shift keeps
    // date-major ordering intact up to orderkey 10¹³, i.e. every TPC-H
    // SF; a 10⁸ shift would let a large orderkey on an earlier date
    // outrank a later date from SF ≈ 17 up), so the merged table IS
    // the keep-latest row per customer and the oracle is the same one
    // window k1 replays. The derived __bucket column is dropped at
    // read — it is layout, not data. ──
    "k1b_upsert_bucketed" -> Q(
      (s, d) => {
        // the result reads the table lazily: deleted at JVM exit
        val wh = graft.Fixtures.tempDirDeletedAtExit("graft-k1b")
          .resolve("t").toString
        k1bState(s, d, wh, numBuckets = 8)
        // the footer schema, so the read runs no inference job; the
        // reader still discovers the bucket column from the paths
        s.read.schema(Tables.footerSchema(s, wh)).parquet(wh).select(
          $("o_custkey"), $("o_orderkey"),
          to_date($("o_orderdate")).as("data_ultimo"), $("o_totalprice"))
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS data_ultimo,
             |       o_totalprice
             |FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |  FROM orders)
             |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
      doc = "SURVEY K1 at scale — keep-latest state reached through two hash-bucketed keyed merges (touched-bucket-only rewrites)",
      sort = Seq("o_custkey")
    ),

    // ── L2: first-of-list — the reference reads `resultados[0]` of each
    // API response list (worker_processar_estoque.php:61,
    // tarefa_atualizar_custos_erp.php:43); relationally, the FIRST row
    // per group in the group's natural order. Window rn=1 on the
    // high-cardinality group key — the same scalable shape as k1. ──
    "l2_first_of_list" -> Q(
      (s, d) => {
        // the synthetic fixture duplicates (orderkey, linenumber) rows;
        // ordering by every emitted column makes the winner value-unique
        val w = Window
          .partitionBy($("l_orderkey"))
          .orderBy($("l_linenumber").asc, $("l_partkey").asc, $("l_quantity").asc)
        Tables
          .lineitem(s, d)
          .withColumn("rn", row_number().over(w))
          .filter($("rn") === 1)
          .select($("l_orderkey"), $("l_partkey"), $("l_linenumber"), $("l_quantity"))
      },
      Some("""SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
             |FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
             |    ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
             |  FROM lineitem)
             |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin),
      doc = "SURVEY L2 — first element of each response list worker_processar_estoque.php:61",
      sort = Seq("l_orderkey")
    ),

    // ── K2: INSERT IGNORE queue populate = anti-join append. ──
    "k2_insert_if_absent" -> Q(
      (s, d) => {
        val existing = Tables
          .orders(s, d)
          .filter($("o_orderstatus") === "F")
          .select($("o_custkey").as("custkey"))
          .distinct()
          .withColumn("status", lit("concluido"))
        val inserted = Tables
          .customer(s, d)
          .select($("c_custkey").as("custkey"))
          .join(existing.select($("custkey")), Seq("custkey"), "left_anti")
          .withColumn("status", lit("pendente"))
        existing.union(inserted)
      },
      Some("""SELECT c_custkey AS custkey,
             |  CASE WHEN EXISTS (SELECT 1 FROM orders o
             |                    WHERE o.o_custkey = c.c_custkey
             |                      AND o.o_orderstatus = 'F')
             |       THEN 'concluido' ELSE 'pendente' END AS status
             |FROM customer c ORDER BY custkey""".stripMargin),
      doc = "SURVEY K2 — INSERT IGNORE tarefa_popular_fila_trafego.php:42",
      sort = Seq("custkey")
    ),

    // ── K3: searched update = join + coalesce(new, old). ──
    "k3_update_searched" -> Q(
      (s, d) => {
        val newCost = Tables
          .lineitem(s, d)
          .groupBy($("l_partkey"))
          .agg((dsum($("l_extendedprice")) / count(lit(1))).as("custo_novo"))
        Tables
          .part(s, d)
          .join(broadcast(newCost), $("p_partkey") === $("l_partkey"), "left")
          .select($("p_partkey"), coalesce($("custo_novo"), $("p_retailprice")).as("custo"))
      },
      Some(s"""SELECT p_partkey, COALESCE(custo_novo, p_retailprice) AS custo
              |FROM part LEFT JOIN (
              |  SELECT l_partkey, ${dsumSql("l_extendedprice")} / COUNT(*) AS custo_novo
              |  FROM lineitem GROUP BY 1) n
              |ON p_partkey = l_partkey ORDER BY p_partkey""".stripMargin),
      doc = "SURVEY K3 — UPDATE..SET custo WHERE sku tarefa_atualizar_custos_erp.php:26",
      sort = Seq("p_partkey")
    ),

    // ── L1/K4: deterministic batch claim (LIMIT 50 + status transition). ──
    "l1_limit_claim" -> Q(
      (s, d) =>
        Tables
          .events(s, d)
          .filter($("event_type") === "error")
          .select($("event_id"), $("user_id"), lit("processando").as("status"))
          .orderBy($("event_id"))
          .limit(50),
      Some("""SELECT event_id, user_id, 'processando' AS status
             |FROM events WHERE event_type = 'error'
             |ORDER BY event_id LIMIT 50""".stripMargin),
      doc = "SURVEY L1/K4/K6 — batch claim worker_processar_trafego.php:16"
    ),

    // ── F11: pivot exploded deposits into fixed columns. ──
    "f11_pivot_inventory" -> Q(
      (s, d) =>
        Tables
          .events(s, d)
          .groupBy($("user_id"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(dsum($("value")))
          .na.fill(0.0, Seq("click", "error", "purchase", "signup", "view")),
      Some(s"""SELECT user_id,
              |  COALESCE(${pivotSql("click")}, 0.0)    AS "click",
              |  COALESCE(${pivotSql("error")}, 0.0)    AS "error",
              |  COALESCE(${pivotSql("purchase")}, 0.0) AS "purchase",
              |  COALESCE(${pivotSql("signup")}, 0.0)   AS "signup",
              |  COALESCE(${pivotSql("view")}, 0.0)     AS "view"
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "SURVEY F11 — deposito Geral/Direct pivot worker_processar_estoque.php:71-80",
      sort = Seq("user_id")
    ),

    // ── J10: skew-mitigated fact⋈dim join via key salting. ──
    // The 100 TB problem: one hot join key (a mega-order, a bot user)
    // lands every matching fact row in ONE shuffle partition and the
    // stage runs at the speed of that task. AQE's skew-join split covers
    // the sort-merge case at runtime; explicit salting is the structural
    // fix that also works under shuffled-hash joins and inside
    // aggregations. Shape: the fact side gets a deterministic salt in
    // [0,S) derived from NON-join columns (spreading each hot key over S
    // partitions); the dim side is replicated ×S with an exploded
    // sequence; the join adds `salt = rep` to the key. Results are
    // value-identical to the unsalted join — the oracle below IS the
    // plain join — while the hottest key's rows now hash to S partitions
    // instead of one. Cost model: dim shuffle volume ×S, so pick
    // S ≈ ceil(hottest-key rows / rows-per-healthy-task), not 1000 —
    // [[SkewTools.autoSaltedJoin]] computes exactly that S from the
    // dq3 audit, so library users never hand-tune the constant (this
    // registered query keeps S = 8 literal for oracle replayability).
    "j10_salted_skew_join" -> Q(
      (s, d) => {
        val S = 8
        val fact = Tables
          .lineitem(s, d)
          .select(
            $("l_orderkey"),
            ($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue"),
            pmod(hash($("l_partkey"), $("l_suppkey"), $("l_linenumber")), lit(S)).as("salt"))
        val dim = Tables
          .orders(s, d)
          .select($("o_orderkey"), $("o_orderpriority"))
          .withColumn("rep", explode(sequence(lit(0), lit(S - 1))))
        fact
          .join(dim, $("l_orderkey") === $("o_orderkey") && $("salt") === $("rep"))
          .groupBy($("o_orderpriority"))
          .agg(dsum($("revenue")).as("revenue"), count(lit(1)).as("n"))
      },
      Some(s"""SELECT o_orderpriority,
              |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
              |  COUNT(*) AS n
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "Skew-salted join ≡ plain join; spreads a hot o_orderkey over 8 partitions",
      sort = Seq("o_orderpriority")
    ),

    // ── J10b: the MEASURED-S twin of j10 — the full diagnose→cure path
    // through [[SkewTools.autoSaltedJoin]] (audit the fact side, derive
    // S ≈ ceil(hottest-key rows / healthy-task rows), salt only when
    // warranted), oracle-gated instead of just spec'd. The fixture is
    // deterministically skewed: every l_orderkey not divisible by 4
    // collapses onto hot key 1 (~75% of the fact on one join key — the
    // bot-user shape), so the audit measures a real hot key and the
    // executed plan carries the replicated-dim join (`SkewToolsSpec`
    // pins plan shape in both regimes; the driver's plan audit sees the
    // salted form). The dim side folds orders onto the same derived key
    // (min priority per key — deterministic, unique per key), so the
    // salted join's oracle is the PLAIN join over the same mapping. ──
    "j10b_auto_salted" -> Q(
      (s, d) => {
        val hotOf = (c: Column) =>
          when(pmod(c, lit(4)) =!= 0, lit(1L)).otherwise(c)
        val fact = Tables
          .lineitem(s, d)
          .select(hotOf($("l_orderkey")).as("hot_key"),
            $("l_partkey"), $("l_suppkey"), $("l_linenumber"),
            ($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue"))
        val dim = Tables
          .orders(s, d)
          .groupBy(hotOf($("o_orderkey")).as("hot_key"))
          .agg(min($("o_orderpriority")).as("priority"))
        SkewTools
          .autoSaltedJoin(fact, dim, "hot_key",
            saltCols = Seq("l_partkey", "l_suppkey", "l_linenumber"))
          .groupBy($("priority"))
          .agg(dsum($("revenue")).as("revenue"), count(lit(1)).as("n"))
      },
      Some(s"""WITH fact AS (
              |  SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 1
              |              ELSE l_orderkey END AS hot_key,
              |         l_extendedprice * (1.0 - l_discount) AS revenue
              |  FROM lineitem),
              |dim AS (
              |  SELECT CASE WHEN o_orderkey % 4 <> 0 THEN 1
              |              ELSE o_orderkey END AS hot_key,
              |         min(o_orderpriority) AS priority
              |  FROM orders GROUP BY 1)
              |SELECT priority, ${dsumSql("revenue")} AS revenue, COUNT(*) AS n
              |FROM fact JOIN dim USING (hot_key)
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "Measured-S auto-salted join (SkewTools audit → salt factor) ≡ plain join on a planted 75%-hot key",
      sort = Seq("priority")
    )
  )

  /** Per-input-file row tallies for any scanned DataFrame: (file,
    * n_rows), `file` = basename of the scan split's source file. The
    * building block for `meta1_file_provenance`'s reconciliation gate
    * and the ops readout for skew hunts / bad-file quarantine. Purely
    * map-side until the (tiny: one row per FILE) count shuffle. */
  def fileProvenance(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // substring_index, not regexp_extract (r16): same basename — the
    // segment after the last '/', the whole string when none — without
    // compiling/running a regex per scan row on the hot map side
    df.select(substring_index(input_file_name(), "/", -1).as("file"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"))

  /** The `k1b_upsert_bucketed` state at `wh`: the orders, versioned so
    * the version is a total order per key, merged into a
    * `numBuckets`-way bucketed table by two
    * [[graft.sinks.UpsertWriter.upsertBucketed]] batches (even, then odd
    * orderkeys). Returns the versioned orders. */
  private[graft] def k1bState(
      s: SparkSession, d: String, wh: String, numBuckets: Int): DataFrame = {
    val src = Tables.orders(s, d).select(
      $("o_custkey"), $("o_orderkey"), $("o_orderdate"), $("o_totalprice"),
      (unix_date(to_date($("o_orderdate"))).cast(LongType) * 10000000000000L +
        $("o_orderkey")).as("__ver"))
    for (parity <- 0 to 1)
      graft.sinks.UpsertWriter.upsertBucketed(s, wh,
        src.filter($("o_orderkey") % 2 === parity),
        keys = Seq("o_custkey"), versionCol = "__ver", numBuckets = numBuckets)
    src
  }

  private def pivotSql(v: String): String =
    s"CAST(CAST(SUM(CASE WHEN event_type = '$v' THEN CAST(value AS DECIMAL(38,6)) END) AS VARCHAR) AS DOUBLE)"

  private def $(name: String) = col(name)
}
