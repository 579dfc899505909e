package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** Classic TPC-H composition shapes (Q3/Q5/Q10 adapted to the testdata's
  * simplified column sets) — multi-join + decimal aggregation + top-k in
  * one plan, the canonical end-to-end analytics stress of the relational
  * core. Q5 exercises the supplier dimension (local-supplier condition
  * c_nationkey = s_nationkey). */
object TpchQueries extends QueryModule {

  private def discPrice = (Tables.dec(col("l_extendedprice")) *
    (lit(1) - Tables.dec(col("l_discount")))).cast("decimal(18,6)")

  val queries: Map[String, Q] = Map(
    // Q3: shipping-priority — revenue of unshipped orders for a segment.
    "tpch_q3_shipping" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
        .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey")
        .filter($"o_orderdate" < expr("TIMESTAMP_NTZ '1996-03-15 00:00:00'"))
        .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
        .filter($"l_shipdate" > expr("TIMESTAMP_NTZ '1996-03-15 00:00:00'"))
        .groupBy($"l_orderkey",
          $"o_orderdate".cast("date").cast("string").as("orderdate"),
          $"o_orderpriority")
        .agg(sum(discPrice).cast("decimal(18,6)").as("revenue"))
        .select($"l_orderkey", $"orderdate", $"o_orderpriority",
          Tables.e6($"revenue").as("revenue_e6"))
        .orderBy($"revenue_e6".desc, $"l_orderkey".asc)
        .limit(10)
    }),

    // Q5: local-supplier volume per nation within a region and year.
    "tpch_q5_local_supplier" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey")
        .filter($"o_orderdate" >= expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
          $"o_orderdate" < expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
        // supplier is the smallest non-tiny table (10x smaller than
        // customer in TPC-H proportions) — broadcast it to save the third
        // shuffle; at extreme scale AQE's size estimate would make the call
        .join(broadcast(Tables.supplier(s, d)),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA")
        .groupBy($"n_name")
        .agg(sum(discPrice).cast("decimal(18,6)").as("revenue"))
        .select($"n_name", Tables.e6($"revenue").as("revenue_e6"))
        .orderBy($"revenue_e6".desc, $"n_name".asc)
    }),

    // Q10: returned-item reporting — top customers by lost revenue.
    "tpch_q10_returns" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey")
        .filter($"o_orderdate" >= expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
          $"o_orderdate" < expr("TIMESTAMP_NTZ '1996-07-01 00:00:00'"))
        .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
        .filter($"l_returnflag" === "R")
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"n_name")
        .agg(sum(discPrice).cast("decimal(18,6)").as("revenue"))
        .select($"c_custkey", $"c_name", $"n_name", Tables.e6($"revenue").as("revenue_e6"))
        .orderBy($"revenue_e6".desc, $"c_custkey".asc)
        .limit(20)
    }),

    // Q7: volume shipping — bilateral trade flow between two nations per
    // ship year (supplier nation → customer nation, both directions).
    // Two broadcast hops resolve both nation names from one dim; the
    // OR-pair predicate stays an equi-join prefix on the keys.
    "tpch_q7_volume" -> ((s, d) => {
      import s.implicits._
      val n1 = Tables.nation(s, d)
        .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
          $"l_shipdate" < expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
        .filter(($"s_nationkey" === 2 && $"c_nationkey" === 3) ||
                ($"s_nationkey" === 3 && $"c_nationkey" === 2))
        .join(broadcast(n1), $"s_nationkey" === $"s_nk")
        .join(broadcast(n2), $"c_nationkey" === $"c_nk")
        .groupBy($"supp_nation", $"cust_nation",
          year($"l_shipdate").cast("long").as("ship_year"))
        .agg(sum(discPrice).cast("decimal(18,6)").as("revenue"))
        .select($"supp_nation", $"cust_nation", $"ship_year",
          Tables.e6($"revenue").as("revenue_e6"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    }),

    // Q14: promo revenue share in a ship year — the conditional-sum /
    // total-sum ratio emitted as exact parts-per-million (the decimal
    // ratio rides one DECIMAL(38,0) lift, R7 stepwise).
    "tpch_q14_promo" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'") &&
          $"l_shipdate" < expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
        .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
        .agg(
          // post-sum funnel at (28,6), not (18,6): the year's total revenue
          // passes 1e12 at sf30, and DuckDB's SUM widens to (38,6) — an
          // 18,6 cap here overflows Spark alone (ANSI error at scale)
          sum(when($"p_type" === "PROMO", discPrice).otherwise(lit(0))
            .cast("decimal(18,6)")).cast("decimal(28,6)").as("promo"),
          sum(discPrice).cast("decimal(28,6)").as("total"))
        .select(Tables.e6($"promo").as("promo_rev_e6"),
          Tables.e6($"total").as("total_rev_e6"))
        .withColumn("promo_ppm",
          expr("cast(cast(promo_rev_e6 as decimal(38,0)) * 1000000 div total_rev_e6 as bigint)"))
    }),

    // Q4: order-priority checking — orders in a quarter with at least one
    // line shipped after the order date (the testdata's late-ship proxy for
    // commitdate < receiptdate). The EXISTS lowers to a LEFT SEMI join whose
    // condition mixes the equi key with a non-equi date comparison — the
    // semi probe still hashes on the equi prefix, so no row of lineitem is
    // ever duplicated into the aggregation (the point of Q4's shape).
    "tpch_q4_priority" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .filter($"o_orderdate" >= expr("TIMESTAMP_NTZ '1996-07-01 00:00:00'") &&
          $"o_orderdate" < expr("TIMESTAMP_NTZ '1996-10-01 00:00:00'"))
        .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_shipdate"),
          $"l_orderkey" === $"o_orderkey" && $"l_shipdate" > $"o_orderdate",
          "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Q6: forecasting-revenue change — pure scan + conjunctive filter +
    // ungrouped sum. The whole WHERE clause (date range, discount band,
    // quantity cap) is pushable; .explain shows every predicate inside
    // PushedFilters on the parquet scan, so at 100 TB this reads only the
    // row groups whose min/max straddle the bands. Discount compares run in
    // DECIMAL (R2) — 0.05/0.07 are exact decimal literals on both engines.
    "tpch_q6_forecast" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'") &&
          $"l_shipdate" < expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'") &&
          Tables.dec($"l_discount").between(expr("0.05"), expr("0.07")) &&
          Tables.dec($"l_quantity") < 24)
        .agg(count(lit(1)).as("n_lines"),
          sum((Tables.dec($"l_extendedprice") * Tables.dec($"l_discount"))
            .cast("decimal(18,6)")).cast("decimal(18,6)").as("rev"))
        .select($"n_lines", Tables.e6($"rev").as("forecast_rev_e6"))
    }),

    // Q17: small-quantity-order revenue — lines of one brand whose quantity
    // is below 20% of that part's average. The correlated AVG subquery is a
    // per-part aggregate joined back on partkey: at 100 TB both sides
    // co-partition on l_partkey so the join adds no extra shuffle beyond
    // the aggregation's own. The 0.2·avg threshold is exact integer
    // cross-multiplication (5·n·qty < Σqty in cents) — no division at all.
    "tpch_q17_small_qty" -> ((s, d) => {
      import s.implicits._
      // The correlated AVG only matters for parts that survive the brand
      // filter, so push the (broadcast) brand restriction BELOW the
      // per-part aggregate: the avg of a part is computed from that part's
      // own lines only, which the restriction doesn't touch. This turns
      // "aggregate the whole fact table, then join" into "aggregate ~1/9
      // of it" — and the surviving per-part table is small enough to
      // broadcast back, so the probe side never shuffles at all.
      // (Measured sf0.1: 3.7 s → sub-second.)
      val brandParts = broadcast(Tables.part(s, d)
        .filter($"p_brand" === "Brand#7").select($"p_partkey"))
      val liBrand = Tables.lineitem(s, d)
        .select($"l_partkey", $"l_extendedprice",
          // double cents, not DECIMAL: the column is exact 2dp data, so
          // round(x*100) is the same integer on both engines, and the
          // decimal cast+mul+round chain costs ~0.25 s per 600k rows of
          // generated code (the q19 find) — at 60M rows that is most of
          // the query. Same change in q18/q20/q2/q11.
          round($"l_quantity" * 100).cast("long").as("qty_c"))
        .join(brandParts, $"l_partkey" === $"p_partkey")
      val perPart = liBrand.groupBy($"l_partkey".as("pk"))
        .agg(count(lit(1)).as("n_li"), sum($"qty_c").as("sum_qty_c"))
      liBrand
        .join(broadcast(perPart), $"l_partkey" === $"pk")
        .filter($"qty_c" * $"n_li" * 5 < $"sum_qty_c")
        .agg(count(lit(1)).as("n_small"),
          sum(Tables.dec($"l_extendedprice")).cast("decimal(18,6)").as("rev"))
        .select($"n_small", Tables.e6($"rev").as("small_rev_e6"))
    }),

    // Q18: large-volume orders — per-order quantity totals over the whole
    // fact table, HAVING-filtered to the extreme tail, then joined back to
    // orders and customer for reporting. The aggregation runs FIRST so the
    // join probes only the ~1% surviving orderkeys (semi-join-sized build
    // side); ordering by the aggregate with a key tie-break keeps top-100
    // deterministic.
    "tpch_q18_large_orders" -> ((s, d) => {
      import s.implicits._
      val big = Tables.lineitem(s, d)
        .select($"l_orderkey".as("lok"),
          round($"l_quantity" * 100).cast("long").as("qty_c"))
        .groupBy($"lok")
        .agg(sum($"qty_c").as("sum_qty_c"))
        .filter($"sum_qty_c" > 25000)
      Tables.orders(s, d)
        .join(big, $"o_orderkey" === $"lok")
        .join(Tables.customer(s, d).select($"c_custkey", $"c_name"),
          $"o_custkey" === $"c_custkey")
        .select($"c_name", $"c_custkey", $"o_orderkey",
          $"o_orderdate".cast("date").cast("string").as("orderdate"),
          Tables.e6(Tables.dec($"o_totalprice")).as("totalprice_e6"),
          $"sum_qty_c")
        .orderBy($"sum_qty_c".desc, $"o_orderkey".asc)
        .limit(100)
    }),

    // Q19: discounted-revenue brackets — the classic OR-of-ANDs predicate
    // (three disjoint brand/size/quantity brackets). The part join is a
    // broadcast on the equi key; the bracket disjunction stays a residual
    // filter that whole-stage codegen compiles to one branch chain. The
    // per-bracket breakdown keeps the output shape informative (bracket id
    // is the CASE over the same disjuncts).
    "tpch_q19_bracket" -> ((s, d) => {
      import s.implicits._
      // Superset predicates hoisted out of the OR and pushed BELOW the
      // join (Catalyst extracts only exact common factors from a
      // disjunction, and these differ per bracket): every disjunct needs
      // p_brand ∈ {1,2,3} ∧ p_size ≤ 15 (smaller broadcast AND fewer join
      // hits) and qty_c ∈ [100, 3000] (probe rows cut before the join).
      // The exact per-bracket OR still applies after — same rows survive.
      // qty_c is DOUBLE math, not DECIMAL: Catalyst's CNF partial pushdown
      // substitutes the qty_c expression into every derived disjunct below
      // the Project (8 copies in the pre-join filter), and each decimal
      // cast·mul·round instance cost ~0.25 s per 600k rows — 1.0 s of the
      // query was recomputed decimal rounding. A scalar double round is
      // order-free and bit-identical on any engine (same IEEE ops), so the
      // R2 decimal discipline — which guards cross-row SUMS — isn't needed
      // for this per-row bracket key; the revenue SUM stays DECIMAL.
      val pt = Tables.part(s, d).select($"p_partkey", $"p_brand", $"p_size")
        .filter($"p_brand".isin("Brand#1", "Brand#2", "Brand#3") &&
          $"p_size".between(1, 15))
      Tables.lineitem(s, d)
        .select($"l_partkey", $"l_extendedprice", $"l_discount",
          round($"l_quantity" * 100).cast("long").as("qty_c"))
        .filter($"qty_c".between(100, 3000))
        .join(broadcast(pt), $"l_partkey" === $"p_partkey")
        .filter(
          ($"p_brand" === "Brand#1" && $"p_size".between(1, 5) &&
            $"qty_c".between(100, 1100)) ||
          ($"p_brand" === "Brand#2" && $"p_size".between(1, 10) &&
            $"qty_c".between(1000, 2000)) ||
          ($"p_brand" === "Brand#3" && $"p_size".between(1, 15) &&
            $"qty_c".between(2000, 3000)))
        .groupBy(when($"p_brand" === "Brand#1", 1L)
          .when($"p_brand" === "Brand#2", 2L).otherwise(3L).as("bracket"))
        .agg(count(lit(1)).as("n_lines"),
          sum(discPrice).cast("decimal(18,6)").as("rev"))
        .select($"bracket", $"n_lines", Tables.e6($"rev").as("revenue_e6"))
        .orderBy("bracket")
    }),

    // Q2: minimum-cost supplier — the classic correlated-MIN subquery,
    // decorrelated into per-(part,supplier) cost aggregation + a per-part
    // min joined back on (part, cost). The testdata has no partsupp table;
    // the cheapest lineitem offer per (part, supplier) stands in for
    // ps_supplycost. The part slice is pushed BELOW the cost aggregation
    // (q17's lesson) and supplier ties resolve to the lowest suppkey.
    "tpch_q2_min_cost" -> ((s, d) => {
      import s.implicits._
      val slice = broadcast(Tables.part(s, d)
        .filter($"p_size".between(10, 15))
        .select($"p_partkey", $"p_brand", $"p_size"))
      val ps = Tables.lineitem(s, d)
        .join(slice, $"l_partkey" === $"p_partkey")
        .groupBy($"l_partkey".as("pk"), $"l_suppkey".as("sk"),
          $"p_brand", $"p_size")
        .agg(min(round($"l_extendedprice" * 100).cast("long"))
          .as("cost_c"))
      // Per-part minimum as a WINDOW over the aggregated (pk, sk) table,
      // not a groupBy + self-join: the self-join form planned TWO full
      // lineitem scans + pre-aggregations (the implied not-null filters
      // differ per branch, so ReuseExchange never fired) and met them with
      // a sort-merge join — 5 exchanges. The window form scans once and
      // reuses its own hash(pk) exchange for the final aggregate (2
      // exchanges); the window sort is partition-local over 3 narrow
      // columns. The explicit pk/cost not-null filter reproduces the old
      // inner join's semantics exactly (a null key never matched).
      val wPk = org.apache.spark.sql.expressions.Window.partitionBy($"pk")
      ps.withColumn("best_c", min($"cost_c").over(wPk))
        .filter($"pk".isNotNull && $"cost_c" === $"best_c")
        .groupBy($"pk", $"p_brand", $"p_size", $"cost_c")
        .agg(min($"sk").as("sel_supp"))
        .join(broadcast(Tables.supplier(s, d)
          .select($"s_suppkey", $"s_name")), $"sel_supp" === $"s_suppkey")
        .select($"pk".as("p_partkey"), $"p_brand", $"p_size",
          $"s_name", $"cost_c")
        .orderBy($"cost_c".asc, $"p_partkey".asc)
        .limit(100)
    }),

    // Q8: national market share — NATION_2 suppliers' slice of PROMO-part
    // revenue sold to ASIA customers, per order year. The conditional-sum /
    // total-sum ratio rides exact decimal internally and emits ppm via one
    // HUGEINT stepwise division; five dimension broadcasts, one fact chain.
    "tpch_q8_market_share" -> ((s, d) => {
      import s.implicits._
      val custNation = Tables.nation(s, d)
        .select($"n_nationkey".as("cn_key"), $"n_regionkey".as("cn_region"))
      val suppNation = Tables.nation(s, d)
        .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(custNation), $"c_nationkey" === $"cn_key")
        .join(broadcast(Tables.region(s, d)), $"cn_region" === $"r_regionkey")
        .filter($"r_name" === "ASIA")
        .join(broadcast(Tables.part(s, d).filter($"p_type" === "PROMO")
          .select($"p_partkey")), $"l_partkey" === $"p_partkey")
        .join(broadcast(Tables.supplier(s, d)
          .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(suppNation), $"s_nationkey" === $"sn_key")
        .groupBy(year($"o_orderdate").cast("long").as("yr"))
        .agg(
          sum(when($"supp_nation" === "NATION_2", discPrice)
            .otherwise(lit(0)).cast("decimal(18,6)")).cast("decimal(18,6)")
            .as("nat_rev"),
          sum(discPrice).cast("decimal(18,6)").as("tot_rev"))
        .select($"yr", Tables.e6($"nat_rev").as("nat_rev_e6"),
          Tables.e6($"tot_rev").as("tot_rev_e6"))
        .withColumn("share_ppm", expr(
          "cast(cast(nat_rev_e6 as decimal(38,0)) * 1000000 div tot_rev_e6 as bigint)"))
        .orderBy("yr")
    }),

    // Q13: customer order-count distribution — LEFT join keeps the
    // zero-order customers (the point of Q13), count(o_orderkey) skips the
    // null matches, then a second aggregation histograms the counts.
    // Urgent orders are excluded in the JOIN condition, not a WHERE (a
    // WHERE would silently turn the outer join inner).
    "tpch_q13_custdist" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d).select($"c_custkey")
        .join(Tables.orders(s, d)
          .filter(!$"o_orderpriority".like("1%"))
          .select($"o_custkey", $"o_orderkey"),
          $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    }),

    // Q15: top supplier — quarterly revenue per supplier, then the
    // supplier(s) hitting the global maximum via a one-row broadcast
    // scalar (the decorrelated form of Q15's view + MAX subquery).
    "tpch_q15_top_supplier" -> ((s, d) => {
      import s.implicits._
      val rev = Tables.lineitem(s, d)
        .filter($"l_shipdate" >= expr("TIMESTAMP_NTZ '1996-04-01 00:00:00'") &&
          $"l_shipdate" < expr("TIMESTAMP_NTZ '1996-07-01 00:00:00'"))
        .groupBy($"l_suppkey")
        .agg(sum(discPrice).cast("decimal(18,6)").as("rev"))
        .select($"l_suppkey", Tables.e6($"rev").as("total_rev_e6"))
      val mx = rev.agg(max($"total_rev_e6").as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter($"total_rev_e6" === $"mx")
        .join(broadcast(Tables.supplier(s, d).select($"s_suppkey", $"s_name")),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"total_rev_e6")
        .orderBy("s_suppkey")
    }),

    // Q9: product-type profit — revenue minus supply cost per supplier
    // nation and order year. No partsupp table exists, so the cheapest
    // line price per (part, supplier) stands in for ps_supplycost (the
    // same pseudo-cost as Q2): profit = disc price − that floor. Two
    // passes over lineitem co-partitioned on (partkey, suppkey); dims
    // broadcast.
    "tpch_q9_profit" -> ((s, d) => {
      import s.implicits._
      val eco = broadcast(Tables.part(s, d)
        .filter($"p_type" === "ECONOMY").select($"p_partkey"))
      val li = Tables.lineitem(s, d).join(eco, $"l_partkey" === $"p_partkey")
      val ps = li.groupBy($"l_partkey".as("pk"), $"l_suppkey".as("sk"))
        .agg(min(round($"l_extendedprice" * 100).cast("long"))
          .as("cost_c"))
      li
        .select($"l_partkey", $"l_suppkey", $"l_orderkey",
          // product narrowed back to DECIMAL(18,6) BEFORE the cents
          // rounding — the same double-round on both engines (DuckDB's
          // wide product would overflow DECIMAL(18) on the ×100)
          expr("""cast(round(cast(cast(l_extendedprice as decimal(18,6)) *
                 |(1 - cast(l_discount as decimal(18,6))) as decimal(18,6))
                 |* 100) as bigint)"""
            .stripMargin.replaceAll("\n", " ")).as("disc_c"))
        .join(ps, $"l_partkey" === $"pk" && $"l_suppkey" === $"sk")
        .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.supplier(s, d)
          .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name", year($"o_orderdate").cast("long").as("yr"))
        .agg(sum($"disc_c" - $"cost_c").as("profit_c"))
        .orderBy($"n_name".asc, $"yr".desc)
    }),

    // Q11: important stock — parts whose inventory value through one
    // nation's suppliers exceeds 1/1000 of that nation's total, the
    // global threshold being a one-row broadcast compared by integer
    // cross-multiplication (no division at all).
    "tpch_q11_important_stock" -> ((s, d) => {
      import s.implicits._
      val natSupp = broadcast(Tables.supplier(s, d)
        .filter($"s_nationkey" < 5).select($"s_suppkey"))
      val pv = Tables.lineitem(s, d)
        .join(natSupp, $"l_suppkey" === $"s_suppkey")
        .groupBy($"l_partkey".as("pk"))
        .agg(sum(round($"l_extendedprice" * 100).cast("long"))
          .as("value_c"))
      val tot = pv.agg(sum($"value_c").as("tot_c"))
      pv.crossJoin(broadcast(tot))
        .filter($"value_c" * 1000 > $"tot_c")
        .select($"pk", $"value_c")
        .orderBy($"value_c".desc, $"pk".asc)
    }),

    // Q12: shipping-mode service levels — the testdata has no l_shipmode,
    // so the return flag plays the mode; lines late against the order
    // date in a ship-year window, split into critical vs ordinary
    // priority counts. One fact join, conditional sums.
    "tpch_q12_priority_mix" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
          $"l_shipdate" < expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate",
          $"o_orderpriority"), $"l_orderkey" === $"o_orderkey")
        .filter(datediff($"l_shipdate".cast("date"),
          $"o_orderdate".cast("date")) > 90)
        .groupBy($"l_returnflag")
        .agg(
          sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // Q16: supplier diversity per brand/size — distinct suppliers able to
    // serve each (brand, size) bucket, excluding a deterministic
    // "complaints" supplier set via NOT IN (left anti). The (part,supp)
    // pairs come from lineitem distinct — the Q16 partsupp stand-in.
    "tpch_q16_supplier_cnt" -> ((s, d) => {
      import s.implicits._
      val excl = Tables.supplier(s, d)
        .filter($"s_suppkey" % 7 === 0).select($"s_suppkey")
      Tables.lineitem(s, d)
        .select($"l_partkey", $"l_suppkey").distinct()
        .join(broadcast(excl), $"l_suppkey" === $"s_suppkey", "left_anti")
        .join(broadcast(Tables.part(s, d)
          .filter($"p_brand" =!= "Brand#5" &&
            $"p_size".isin(1, 5, 9, 13, 17, 21))
          .select($"p_partkey", $"p_brand", $"p_size")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"p_size")
        .agg(count_distinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand".asc, $"p_size".asc)
    }),

    // Q20: dominant suppliers — suppliers shipping >1.5× the per-supplier
    // mean volume of some part (the excess-stock test as an integer
    // cross-multiply), reported for a nation slice via LEFT SEMI (the
    // supplier list, not the pairs, is the answer — Q20's shape).
    "tpch_q20_excess_stock" -> ((s, d) => {
      import s.implicits._
      val ps = Tables.lineitem(s, d)
        .groupBy($"l_partkey".as("pk"), $"l_suppkey".as("sk"))
        .agg(sum(round($"l_quantity" * 100).cast("long")).as("q"))
      // Per-part totals as a WINDOW over the aggregated (pk, sk) table,
      // not a groupBy + join back: the join form planned TWO full lineitem
      // scans + (pk,sk) pre-aggregations (their implied not-null filters
      // differ, so ReuseExchange never fired) plus the totals aggregation
      // — 4 exchanges and double the fact-table work. The window form
      // scans once: agg → exchange(pk) → partition-local sort of 3 narrow
      // long columns → count/sum over the pk frame (2 exchanges). This
      // also retires the old SHJ-vs-SMJ sort concern — nothing joins on
      // pk anymore. The explicit pk not-null filter reproduces the old
      // inner join's semantics exactly (a null key never matched).
      val wPk = org.apache.spark.sql.expressions.Window.partitionBy($"pk")
      val dominant = ps
        .withColumn("ns", count(lit(1)).over(wPk))
        .withColumn("sq", sum($"q").over(wPk))
        .filter($"pk".isNotNull && $"q" * $"ns" * 2 > $"sq" * 3)
        .select($"sk")
      Tables.supplier(s, d)
        .filter($"s_nationkey" < 10)
        .join(dominant, $"s_suppkey" === $"sk", "left_semi")
        .select($"s_suppkey", $"s_name")
        .orderBy("s_suppkey")
    }),

    // Q21: suppliers who kept orders waiting — for finished multi-supplier
    // orders, the supplier who was the ONLY late one (>90 days after the
    // order date; the testdata's commit/receipt stand-in). The
    // EXISTS/NOT-EXISTS pair decorrelates into per-order distinct counts:
    // ns > 1 (another supplier exists) and nl = 1 (no OTHER late
    // supplier), then a per-supplier order count, top 20.
    "tpch_q21_waiting" -> ((s, d) => {
      import s.implicits._
      // shuffle_hash on the filtered orders side: SMJ would sort all 60M
      // lineitem rows for the fact-fact join; SHJ streams them against a
      // per-partition hash of the (orderkey, orderdate) pairs.
      val b = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter($"o_orderstatus" === "F")
          .select($"o_orderkey", $"o_orderdate").hint("shuffle_hash"),
          $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk"),
          (datediff($"l_shipdate".cast("date"), $"o_orderdate".cast("date")) > 90)
            .as("late"))
      // ONE (ok, sk) pre-aggregate replaces the twin count_distincts —
      // those planned as an Expand that doubled the 60M joined rows into
      // the distinct-aggregate (12.2 GB of sf10 spill). `late` here means
      // "any line late", so ns = pair count, nl = late-pair count, and
      // the late-pair slice IS the old b.filter(late).distinct — the
      // identical relation, reusing the same shuffle.
      val pairs = b.groupBy($"ok", $"sk").agg(max($"late").as("late"))
      val st = pairs.groupBy($"ok".as("sok"))
        .agg(count(lit(1)).as("ns"),
          sum(when($"late", 1L).otherwise(0L)).as("nl"))
      pairs.filter($"late").select($"ok", $"sk")
        .join(st, $"ok" === $"sok")
        .filter($"ns" > 1 && $"nl" === 1)
        .groupBy($"sk")
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(s, d).select($"s_suppkey", $"s_name")),
          $"sk" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"numwait")
        .orderBy($"numwait".desc, $"s_suppkey".asc)
        .limit(20)
    }),

    // Q22: global-sales opportunity — above-average-balance customers gone
    // idle (no order in the trailing 13 months), grouped by nation (the
    // testdata's country-code stand-in). The global positive-balance average
    // is a one-row aggregate cross-joined in (broadcast, no shuffle) and
    // compared by integer cross-multiplication (bal·n > Σbal); the idle
    // test is a LEFT ANTI join against the date-filtered orders slice —
    // the anti side shrinks to the recent window BEFORE the join, which is
    // the order-of-operations that matters at 100 TB.
    "tpch_q22_idle_customers" -> ((s, d) => {
      import s.implicits._
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey",
          round(Tables.dec($"c_acctbal") * 100).cast("long").as("bal_c"))
      val globalPos = cust.filter($"bal_c" > 0)
        .agg(count(lit(1)).as("n_pos"), sum($"bal_c").as("sum_pos"))
      val recent = Tables.orders(s, d)
        .filter($"o_orderdate" >= expr("TIMESTAMP_NTZ '2000-07-01 00:00:00'"))
        .select($"o_custkey")
      cust
        .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .crossJoin(broadcast(globalPos))
        .filter($"bal_c" * $"n_pos" > $"sum_pos")
        .groupBy($"c_nationkey".cast("long").as("cntry"))
        .agg(count(lit(1)).as("numcust"), sum($"bal_c").as("totbal_c"))
        .orderBy("cntry")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "tpch_q3_shipping" ->
      """SELECT l_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
        |  o_orderpriority,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_e6
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue_e6 DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "tpch_q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_e6
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue_e6 DESC, n_name ASC""".stripMargin,
    "tpch_q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_e6
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_e6 DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "tpch_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_e6
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((s_nationkey = 2 AND c_nationkey = 3)
        |    OR (s_nationkey = 3 AND c_nationkey = 2))
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        |ORDER BY supp_nation, cust_nation, ship_year""".stripMargin,
    "tpch_q14_promo" ->
      """WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000 AS BIGINT) AS promo_rev_e6,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS total_rev_e6
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT promo_rev_e6, total_rev_e6,
        |  CAST(CAST(promo_rev_e6 AS HUGEINT) * 1000000 // total_rev_e6 AS BIGINT) AS promo_ppm
        |FROM a""".stripMargin,
    "tpch_q4_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "tpch_q6_forecast" ->
      """SELECT COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    CAST(l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |    AS forecast_rev_e6
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND CAST(l_discount AS DECIMAL(18,6)) BETWEEN 0.05 AND 0.07
        |  AND CAST(l_quantity AS DECIMAL(18,6)) < 24""".stripMargin,
    "tpch_q17_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey, l_extendedprice,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
        |  FROM lineitem),
        |pp AS (
        |  SELECT l_partkey AS pk, COUNT(*) AS n_li,
        |    CAST(SUM(qty_c) AS BIGINT) AS sum_qty_c
        |  FROM li GROUP BY l_partkey)
        |SELECT COUNT(*) AS n_small,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |    AS small_rev_e6
        |FROM li
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#7'
        |JOIN pp ON l_partkey = pk
        |WHERE qty_c * n_li * 5 < sum_qty_c""".stripMargin,
    "tpch_q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey AS lok,
        |    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
        |      AS BIGINT) AS sum_qty_c
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 25000)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS totalprice_e6,
        |  sum_qty_c
        |FROM orders
        |JOIN big ON o_orderkey = lok
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty_c DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "tpch_q19_bracket" ->
      """WITH li AS (
        |  SELECT l_partkey, l_extendedprice, l_discount,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
        |  FROM lineitem),
        |f AS (
        |  SELECT CASE WHEN p_brand = 'Brand#1' THEN 1
        |              WHEN p_brand = 'Brand#2' THEN 2 ELSE 3 END AS bracket,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS dp
        |  FROM li JOIN part ON l_partkey = p_partkey
        |  WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |          AND qty_c BETWEEN 100 AND 1100)
        |     OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |          AND qty_c BETWEEN 1000 AND 2000)
        |     OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |          AND qty_c BETWEEN 2000 AND 3000))
        |SELECT CAST(bracket AS BIGINT) AS bracket, COUNT(*) AS n_lines,
        |  CAST(SUM(dp) * 1000000 AS BIGINT) AS revenue_e6
        |FROM f GROUP BY bracket ORDER BY bracket""".stripMargin,
    "tpch_q2_min_cost" ->
      """WITH slice AS (
        |  SELECT p_partkey, p_brand, p_size FROM part
        |  WHERE p_size BETWEEN 10 AND 15),
        |ps AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk, p_brand, p_size,
        |    MIN(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS cost_c
        |  FROM lineitem JOIN slice ON l_partkey = p_partkey
        |  GROUP BY l_partkey, l_suppkey, p_brand, p_size),
        |best AS (SELECT pk AS bpk, MIN(cost_c) AS best_c FROM ps GROUP BY pk),
        |sel AS (
        |  SELECT pk, p_brand, p_size, cost_c, MIN(sk) AS sel_supp
        |  FROM ps JOIN best ON pk = bpk AND cost_c = best_c
        |  GROUP BY pk, p_brand, p_size, cost_c)
        |SELECT pk AS p_partkey, p_brand, p_size, s_name, cost_c
        |FROM sel JOIN supplier ON sel_supp = s_suppkey
        |ORDER BY cost_c ASC, p_partkey ASC LIMIT 100""".stripMargin,
    "tpch_q8_market_share" ->
      """WITH f AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, n2.n_name AS supp_nation,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS dp
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'),
        |a AS (
        |  SELECT yr,
        |    CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN dp
        |             ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000 AS BIGINT)
        |      AS nat_rev_e6,
        |    CAST(SUM(dp) * 1000000 AS BIGINT) AS tot_rev_e6
        |  FROM f GROUP BY yr)
        |SELECT yr, nat_rev_e6, tot_rev_e6,
        |  CAST(CAST(nat_rev_e6 AS HUGEINT) * 1000000 // tot_rev_e6 AS BIGINT)
        |    AS share_ppm
        |FROM a ORDER BY yr""".stripMargin,
    "tpch_q13_custdist" ->
      """WITH co AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1%'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "tpch_q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)))
        |      * 1000000 AS BIGINT) AS total_rev_e6
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-04-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev_e6
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_e6 = (SELECT MAX(total_rev_e6) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "tpch_q9_profit" ->
      """WITH eco AS (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY'),
        |li AS (
        |  SELECT l_partkey, l_suppkey, l_orderkey,
        |    CAST(round(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |      * 100) AS BIGINT) AS disc_c,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      AS price_c
        |  FROM lineitem JOIN eco ON l_partkey = p_partkey),
        |ps AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk, MIN(price_c) AS cost_c
        |  FROM li GROUP BY l_partkey, l_suppkey)
        |SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(SUM(disc_c - cost_c) AS BIGINT) AS profit_c
        |FROM li
        |JOIN ps ON l_partkey = pk AND l_suppkey = sk
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY n_name ASC, yr DESC""".stripMargin,
    "tpch_q11_important_stock" ->
      """WITH pv AS (
        |  SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(round(l_extendedprice * 100)
        |      AS BIGINT)) AS BIGINT) AS value_c
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey < 5
        |  GROUP BY l_partkey),
        |t AS (SELECT CAST(SUM(value_c) AS BIGINT) AS tot_c FROM pv)
        |SELECT pk, value_c FROM pv, t
        |WHERE value_c * 1000 > tot_c
        |ORDER BY value_c DESC, pk ASC""".stripMargin,
    "tpch_q12_priority_mix" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND date_diff('day', CAST(o_orderdate AS DATE),
        |        CAST(l_shipdate AS DATE)) > 90
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "tpch_q16_supplier_cnt" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0))
        |SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 9, 13, 17, 21)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC""".stripMargin,
    "tpch_q20_excess_stock" ->
      """WITH ps AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |    CAST(SUM(CAST(round(l_quantity * 100)
        |      AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |t AS (SELECT pk AS tpk, COUNT(*) AS ns, CAST(SUM(q) AS BIGINT) AS sq
        |      FROM ps GROUP BY pk),
        |dom AS (
        |  SELECT DISTINCT sk FROM ps JOIN t ON pk = tpk
        |  WHERE q * ns * 2 > sq * 3)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey < 10 AND s_suppkey IN (SELECT sk FROM dom)
        |ORDER BY s_suppkey""".stripMargin,
    "tpch_q21_waiting" ->
      """WITH b AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) > 90 AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |st AS (
        |  SELECT ok AS sok, COUNT(DISTINCT sk) AS ns,
        |    COUNT(DISTINCT CASE WHEN late THEN sk END) AS nl
        |  FROM b GROUP BY ok),
        |sole AS (
        |  SELECT DISTINCT ok, sk FROM b JOIN st ON ok = sok
        |  WHERE late AND ns > 1 AND nl = 1)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM sole JOIN supplier ON sk = s_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey ASC LIMIT 20""".stripMargin,
    "tpch_q22_idle_customers" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT) AS bal_c
        |  FROM customer),
        |g AS (
        |  SELECT COUNT(*) AS n_pos, CAST(SUM(bal_c) AS BIGINT) AS sum_pos
        |  FROM c WHERE bal_c > 0)
        |SELECT CAST(c_nationkey AS BIGINT) AS cntry, COUNT(*) AS numcust,
        |  CAST(SUM(bal_c) AS BIGINT) AS totbal_c
        |FROM c, g
        |WHERE bal_c * n_pos > sum_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
        |GROUP BY c_nationkey ORDER BY cntry""".stripMargin
  )
}
