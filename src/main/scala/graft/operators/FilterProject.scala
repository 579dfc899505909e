package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** §2-B: projection, derived columns, composite predicates, 3-valued logic.
  * All predicates are plain Catalyst expressions so they push down to the
  * parquet scan (PushedFilters) — at 100 TB these prune row groups. */
object FilterProject extends QueryModule {

  val queries: Map[String, Q] = Map(
    // B1: select + derived columns (decimal disc price, string concat key).
    "project_derive" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select(
          $"l_orderkey", $"l_linenumber",
          Tables.e6((Tables.dec($"l_extendedprice") * (lit(1) - Tables.dec($"l_discount")))
            .cast("decimal(18,6)")).as("disc_price_e6"),
          concat($"l_returnflag", lit("-"), $"l_linestatus").as("flag_status"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // B2: composite predicate — AND/OR, IN, BETWEEN, LIKE, date bound.
    "filter_multi" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .filter(
          $"o_orderstatus".isin("F", "O") &&
          $"o_totalprice".between(1000.0, 150000.0) &&
          ($"o_orderpriority".like("1%") || $"o_orderpriority".like("2%")) &&
          $"o_orderdate" >= expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // B3: 3-valued logic — NULLIF-synthesized nulls, IS NULL, null-safe
    // equality (<=> vs IS NOT DISTINCT FROM), COALESCE.
    "filter_null_semantics" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .withColumn("st", expr("nullif(o_orderstatus, 'P')"))
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_rows"),
          count($"st").as("n_nonnull"),
          sum(when($"st".isNull, 1).otherwise(0)).as("n_null"),
          sum(when(expr("st <=> CAST(NULL AS STRING)"), 1).otherwise(0)).as("n_nullsafe_null"),
          count(coalesce($"st", expr("nullif(o_orderstatus,'F')"))).as("n_coalesce"))
        .orderBy("o_orderpriority")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "project_derive" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS disc_price_e6,
        |  l_returnflag || '-' || l_linestatus AS flag_status
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "filter_multi" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('F','O')
        |  AND o_totalprice BETWEEN 1000.0 AND 150000.0
        |  AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |ORDER BY o_orderkey""".stripMargin,
    "filter_null_semantics" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_rows,
        |  COUNT(NULLIF(o_orderstatus,'P')) AS n_nonnull,
        |  CAST(SUM(CASE WHEN NULLIF(o_orderstatus,'P') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CASE WHEN NULLIF(o_orderstatus,'P') IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_null,
        |  COUNT(COALESCE(NULLIF(o_orderstatus,'P'), NULLIF(o_orderstatus,'F'))) AS n_coalesce
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
