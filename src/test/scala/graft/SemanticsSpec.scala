package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Goldens for the reference quirks SURVEY §5 calls out: the F6 MySQL
  * precedence bug, C5 timezone day-bucketing, C6 decimal-comma parse,
  * and the F10 attribute-fallback chain. */
class SemanticsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("range join: the ±1h interval is inclusive at exactly the boundary") {
    // purchases at exactly -1h, +1h (kept), and 1µs beyond (dropped)
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-05-01 12:00:00")
    def shifted(us: Long) = new Timestamp(t0.getTime + us / 1000) // ms grain here
    val rows = Seq(
      (1L, 9L, "error", t0),
      (2L, 9L, "purchase", shifted(-3600L * 1000 * 1000)),  // exactly -1h
      (3L, 9L, "purchase", shifted(3600L * 1000 * 1000)),   // exactly +1h
      (4L, 9L, "purchase", shifted(3600L * 1000 * 1000 + 1000)), // +1h +1ms
      (5L, 8L, "purchase", t0) // other user: never counted
    ).toDF("event_id", "user_id", "event_type", "ts")
    val tmp = tempDir("graft-range").toString
    rows.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("range_join_purchases_1h")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 2L), s"boundary purchases must count once each: $out")
  }

  test("F6: `a AND b AND t='S' OR t='K'` keeps kit rows that fail every other filter") {
    // Mirror of the quirk shape in f6_filter_quirk / the reference's
    // tarefa_popular_fila_estoque.php:10 — kit ('K') bypasses all guards.
    val df = Seq(
      ("SKU1", "S", 30),  // passes the S-branch
      ("SKU2", "S", 10),  // fails size guard
      ("EMB3", "K", 10),  // kit: would fail prefix+size guards, KEPT
      ("SKU4", "V", 30)   // wrong type, dropped
    ).toDF("sku", "tipo", "size")
    val kept = df.filter(
      (!$"sku".startsWith("EMB") && $"size" > 25 && $"tipo" === "S") ||
        $"tipo" === "K")
      .select("sku").as[String].collect().toSet
    assert(kept == Set("SKU1", "EMB3"))
  }

  test("F4: `sku IS NOT NULL AND sku != ''` drops empty strings AND nulls") {
    // The literal guard pair of tarefa_consolidar_mapa.php:22 /
    // tarefa_popular_fila_estoque.php:10 — empty string and NULL are
    // distinct values in MySQL and both must be excluded; `!= ''` alone
    // would leave NULL rows in 3-valued-logic limbo (filtered, but only
    // because UNKNOWN is not TRUE — the explicit IS NOT NULL is the
    // reference's belt and braces, kept verbatim).
    val df = Seq(
      (1L, Some("SKU-A")), // kept
      (2L, Some("")),      // empty string: dropped by != ''
      (3L, None),          // NULL: dropped by IS NOT NULL
      (4L, Some(" "))      // whitespace is NOT empty in MySQL's !=: kept
    ).toDF("id", "sku_produto")
    val kept = df.filter($"sku_produto".isNotNull && $"sku_produto" =!= "")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("C5: UTC timestamps land on the São Paulo calendar day (-03:00)") {
    val df = Seq(
      "2024-05-10 02:59:00", // 23:59 previous day in São Paulo
      "2024-05-10 03:00:00", // exactly midnight local
      "2024-05-10 12:00:00"
    ).toDF("ts_str").select(to_timestamp($"ts_str").as("ts"))
    val days = df
      .select(to_date(from_utc_timestamp($"ts", "America/Sao_Paulo")).as("d"))
      .as[java.sql.Date].collect().map(_.toString)
    assert(days.sameElements(Array("2024-05-09", "2024-05-10", "2024-05-10")))
  }

  test("C6: decimal-comma parse round-trips Tiny-style money strings") {
    val df = Seq("1234,56", "0,99", "100", "7,5").toDF("brl")
    val parsed = df
      .select(translate($"brl", ",", ".").cast(DoubleType).as("v"))
      .as[Double].collect()
    assert(parsed.sameElements(Array(1234.56, 0.99, 100.0, 7.5)))
  }

  test("F10: SELLER_SKU extracted when present, falls back to custom field") {
    val df = Seq(
      (1L, true),  // has SELLER_SKU attr
      (2L, false)  // missing → fallback
    ).toDF("id", "has_sku")
      .withColumn("attributes",
        when($"has_sku",
          expr("array(named_struct('id', 'BRAND', 'val', 'b'), " +
            "named_struct('id', 'SELLER_SKU', 'val', 'SKU-X'))"))
          .otherwise(expr("array(named_struct('id', 'BRAND', 'val', 'b'))")))
      .withColumn("fallback", lit("CUSTOM"))
    val out = df.select($"id",
      coalesce(
        expr("try_element_at(filter(attributes, a -> a.id = 'SELLER_SKU'), 1).val"),
        $"fallback").as("sku"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "SKU-X")
    assert(out(2L) == "CUSTOM")
  }
}
