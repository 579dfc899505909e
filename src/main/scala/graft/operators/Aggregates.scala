package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2-D: aggregation family.
  *
  * All measure aggregation runs in DECIMAL(18,6) (determinism rule R2 —
  * exact + associative, so map-side partial aggregation is safe at any
  * parallelism). Counts stay BIGINT. Distinct aggs use Spark's expand-based
  * RewriteDistinctAggregates plan; grouping sets / rollup / cube lower to
  * a single Expand + hash aggregate (one shuffle).
  */
object Aggregates extends QueryModule {

  val queries: Map[String, Q] = Map(
    // D1: TPC-H Q1-style pricing summary, all-decimal.
    "agg_q1_pricing" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select(
          $"l_returnflag", $"l_linestatus",
          Tables.dec($"l_quantity").as("qty"),
          Tables.dec($"l_extendedprice").as("price"),
          Tables.dec($"l_discount").as("disc"),
          Tables.dec($"l_tax").as("tax"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          // Post-sum carries are (28,6): ~5 (flag,status) groups over the
          // whole table put sum_base_price within 2× of the (18,6) cap at
          // sf10; the oracle's SUM is (38,6) so only Spark would fail.
          sum($"qty").cast("decimal(28,6)").as("sum_qty"),
          sum($"price").cast("decimal(28,6)").as("sum_base_price"),
          sum(($"price" * (lit(1) - $"disc")).cast("decimal(18,6)"))
            .cast("decimal(28,6)").as("sum_disc_price"),
          sum(($"price" * (lit(1) - $"disc") * (lit(1) + $"tax")).cast("decimal(18,6)"))
            .cast("decimal(28,6)").as("sum_charge"),
          count(lit(1)).as("count_order"))
        // R2': micro-scaled BIGINT at the output boundary, decimal internally.
        .select($"l_returnflag", $"l_linestatus",
          Tables.e6($"sum_qty").as("sum_qty_e6"),
          Tables.e6($"sum_base_price").as("sum_base_price_e6"),
          Tables.e6($"sum_disc_price").as("sum_disc_price_e6"),
          Tables.e6($"sum_charge").as("sum_charge_e6"),
          $"count_order")
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // D2: exact distinct customers per order priority.
    "agg_count_distinct" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_orderpriority")
        .agg(countDistinct($"o_custkey").as("n_cust"))
        .orderBy("o_orderpriority")
    }),

    // D3: two distinct aggregates in one pass (expand-based plan).
    "agg_multi_distinct" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(
          countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"))
        .orderBy("l_returnflag")
    }),

    // D4: grouping sets at two granularities; group cols coalesced to a
    // sentinel so NULLS-ordering dialect differences can't bite.
    "agg_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_gs")
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS priority,
          |       count(*) AS n,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_price_e6
          |FROM graft_orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority))
          |ORDER BY status, priority""".stripMargin)
    }),

    // D5: rollup region→nation totals over customers.
    "agg_rollup" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(Tables.dec($"c_acctbal")).cast("decimal(18,6)").as("sum_bal"))
        .select(
          coalesce($"r_name", lit("ALL")).as("region"),
          coalesce($"n_name", lit("ALL")).as("nation"),
          $"n_cust", Tables.e6($"sum_bal").as("sum_bal_e6"))
        .orderBy("region", "nation")
    }),

    // D6: cube on (returnflag, linestatus).
    "agg_cube" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(Tables.dec($"l_quantity")).cast("decimal(18,6)").as("sum_qty"))
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("rflag"),
          coalesce($"l_linestatus", lit("ALL")).as("lstatus"),
          $"n", Tables.e6($"sum_qty").as("sum_qty_e6"))
        .orderBy("rflag", "lstatus")
    }),

    // D7: HAVING — post-aggregation filter.
    "agg_having" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_lines"))
        .filter($"n_lines" > 5)
        .orderBy("l_orderkey")
    }),

    // D8: exact variance via integer arithmetic — quantities scaled ×100 to
    // BIGINT, numerator/denominator emitted separately (no float, no
    // division → bit-exact across engines). var = num / (den * 100^2).
    // The numerator is inherently Θ(n²·var) (~1e20 at sf1's 2M-row groups,
    // past int64), so the products run in DECIMAL(38,0) ↔ HUGEINT and the
    // output boundary is the exact digit STRING both engines agree on.
    "agg_variance_manual" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          round($"l_quantity" * 100).cast("long").as("x"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
        .select($"l_returnflag", $"n",
          ($"n".cast("decimal(38,0)") * $"sxx" - $"sx".cast("decimal(38,0)") * $"sx")
            .cast("decimal(38,0)").cast("string").as("var_num"),
          ($"n" * ($"n" - 1)).as("var_den"))
        .orderBy("l_returnflag")
    }),

    // Exact covariance via integer sums (the D8 technique on two vars):
    // cov = (n·Σxy − Σx·Σy) / (n·(n−1)) — numerator/denominator emitted
    // exactly. x = quantity units, y = whole-dollar price; n·Σxy only
    // clears int64 by ~1.7× at sf1, so same DECIMAL(38,0) ↔ HUGEINT
    // products + digit-string boundary as agg_variance_manual.
    "agg_covar_manual" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          round($"l_quantity").cast("long").as("x"),
          round($"l_extendedprice").cast("long").as("y"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"))
        .select($"l_returnflag", $"n",
          ($"n".cast("decimal(38,0)") * $"sxy" - $"sx".cast("decimal(38,0)") * $"sy")
            .cast("decimal(38,0)").cast("string").as("cov_num"),
          ($"n" * ($"n" - 1)).as("cov_den"))
        .orderBy("l_returnflag")
    }),

    // Exact median without float percentile machinery: the two middle
    // elements by rank (equal when n is odd), in integer cents — exact and
    // engine-agnostic where percentile_cont interpolation is not.
    // Evaluated by the HISTOGRAM method (the quantity domain is ~50
    // distinct values): the value at rank r is min x with cumcount(≤x) ≥ r
    // over the per-group value histogram, so the full-group sort the rank
    // form needs collapses to one map-side-combinable hash-agg plus a
    // window over ~50 histogram rows per group. The ORACLE still runs the
    // row-rank algorithm — the hash match is a cross-algorithm
    // equivalence proof (same pattern as agg_mad_exact; measured ~2x here).
    "agg_median_exact" -> ((s, d) => {
      import s.implicits._
      val p = Window.partitionBy($"l_returnflag")
      Tables.lineitem(s, d)
        .select($"l_returnflag", round($"l_quantity" * 100).cast("long").as("x"))
        .groupBy($"l_returnflag", $"x").agg(count(lit(1)).as("cnum"))
        .withColumn("cum", sum($"cnum").over(p.orderBy($"x".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum($"cnum").over(p))
        .groupBy($"l_returnflag")
        .agg(min(when($"cum" >= expr("(n + 1) div 2"), $"x")).as("med_lo_cents"),
          min(when($"cum" >= expr("n div 2 + 1"), $"x")).as("med_hi_cents"),
          max($"n").as("n"))
        .orderBy("l_returnflag")
    }),

    // Width-bucket histogram of order totals — the profiling pass before
    // choosing range-partition bounds. Pure integer bucket math, one
    // hash-agg; buckets with no rows are absent (no dense spine needed).
    "agg_histogram" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        // FLOOR before the BIGINT cast: Spark's double→long cast truncates
        // but DuckDB's rounds, so the floor pins both to the same integer
        .select(expr("CAST(FLOOR(o_totalprice) AS BIGINT) div 25000").as("bucket"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // Exact per-group mode with a total tie-break (highest count, then
    // lowest value) — two hash-aggs + one row_number window, the
    // deterministic replacement for any first()-based "most common" hack.
    "agg_mode_exact" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_orderstatus")
        .orderBy($"cnt".desc, $"o_orderpriority".asc)
      Tables.orders(s, d)
        .groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"), $"cnt")
        .orderBy("o_orderstatus")
    }),

    // D10: pivot event counts per user over event_type (explicit value list
    // → no extra distinct pass; absent combos coalesced to 0).
    "agg_pivot" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .select($"user_id",
          coalesce($"click", lit(0L)).as("n_click"),
          coalesce($"error", lit(0L)).as("n_error"),
          coalesce($"purchase", lit(0L)).as("n_purchase"),
          coalesce($"signup", lit(0L)).as("n_signup"),
          coalesce($"view", lit(0L)).as("n_view"))
        .orderBy("user_id")
    }),

    // SQL PIVOT clause (the parser surface, vs agg_pivot's DataFrame
    // .pivot API — same Expand-free plan with an explicit value list).
    "sql_pivot_clause" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_pv")
      s.sql(
        """SELECT o_orderstatus,
          |  coalesce(urgent, 0) AS urgent, coalesce(high, 0) AS high,
          |  coalesce(medium, 0) AS medium, coalesce(unspec, 0) AS unspec,
          |  coalesce(low, 0) AS low
          |FROM (
          |  SELECT * FROM (
          |    SELECT o_orderstatus, o_orderpriority FROM graft_orders_pv
          |  ) PIVOT (
          |    COUNT(1) FOR o_orderpriority IN (
          |      '1-URGENT' AS urgent, '2-HIGH' AS high, '3-MEDIUM' AS medium,
          |      '4-NOT SPECIFIED' AS unspec, '5-LOW' AS low)
          |  )
          |)
          |ORDER BY o_orderstatus""".stripMargin)
    }),

    // GROUPING()/GROUPING_ID() metadata over a cube — the standard way a
    // report distinguishes "NULL because subtotal" from "NULL in the
    // data"; the bitmask is engine-defined per spec and identical here.
    "agg_grouping_id" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_gid")
      s.sql(
        """SELECT coalesce(l_returnflag, '-') AS rflag,
          |  coalesce(l_linestatus, '-') AS lstatus,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rflag,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_lstatus,
          |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |  COUNT(*) AS n
          |FROM graft_li_gid
          |GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY gid, rflag, lstatus""".stripMargin)
    }),

    // Distributed moment sketch + deterministic finishers: each group
    // carries only (n, Σc, Σc², Σc³, Σc⁴) — algebraic and mergeable by
    // addition, so map-side partials do all the work and the shuffle is
    // one row per group (this IS the 100 TB shape for higher-order
    // stats). Power sums ride DECIMAL(38,0)/HUGEINT (c ≤ ~1e7 cents ⇒
    // Σc⁴ ≤ ~2e33 « 1e38), are truncated to int64 by R7 stepwise
    // division on BOTH engines, and the skewness/kurtosis finishers then
    // run the identical IEEE scalar formula over identical int64 inputs —
    // bit-equal doubles, exact hash match (zero-variance groups guarded
    // by the same CASE on both sides).
    "agg_moment_sketch" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          round(Tables.dec($"l_extendedprice") * 100).cast("long").as("c"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum($"c").as("s1"),
          sum(expr("cast(c as decimal(38,0)) * c")).as("s2"),
          sum(expr("cast(c as decimal(38,0)) * c * c")).as("s3"),
          sum(expr("cast(c as decimal(38,0)) * c * c * c")).as("s4"))
        .select($"l_returnflag", $"n", $"s1",
          expr("s2 div 1000000").as("s2_d6"),
          expr("s3 div 1000000000000").as("s3_d12"),
          expr("s4 div 1000000000000000000").as("s4_d18"))
        .withColumn("mu", expr("cast(s1 as double) / cast(n as double)"))
        .withColumn("s2f", expr("cast(s2_d6 as double) * 1e6 / cast(n as double)"))
        .withColumn("s3f", expr("cast(s3_d12 as double) * 1e12 / cast(n as double)"))
        .withColumn("s4f", expr("cast(s4_d18 as double) * 1e18 / cast(n as double)"))
        .withColumn("m2", expr("s2f - mu * mu"))
        .withColumn("skew_e3", expr(
          """CASE WHEN m2 <= 0 THEN 0 ELSE cast(round(
            |  (s3f - 3.0 * mu * s2f + 2.0 * mu * mu * mu)
            |  / (m2 * sqrt(m2)) * 1000) as bigint) END"""
            .stripMargin.replaceAll("\n", " ")))
        .withColumn("kurt_e3", expr(
          """CASE WHEN m2 <= 0 THEN 0 ELSE cast(round(
            |  ((s4f - 4.0 * mu * s3f + 6.0 * mu * mu * s2f - 3.0 * mu * mu * mu * mu)
            |   / (m2 * m2) - 3.0) * 1000) as bigint) END"""
            .stripMargin.replaceAll("\n", " ")))
        .select($"l_returnflag", $"n", $"s1", $"s2_d6", $"s3_d12", $"s4_d18",
          $"skew_e3", $"kurt_e3")
        .orderBy("l_returnflag")
    }),

    // Weighted median (price weighted by quantity) in exact integers: the
    // answer is the smallest value v where 2·cumweight(≤v) ≥ totalweight.
    // Tie-safety without ordering beyond the value column: a run of equal
    // values qualifies iff its END-of-run cumulative weight crosses the
    // threshold (the max cum inside a run is at its end), so min(c) over
    // qualifying rows is order-independent even though per-row cum under
    // ties is not.
    //
    // Evaluated TWO-PHASE (the distributed-quantile shape for unbounded
    // value domains, complementing agg_mad_exact's bounded-domain
    // histogram): pass 1 hash-aggregates weight per width-1e5 value
    // bucket (map-side partials carry it), a tiny per-group window finds
    // the bucket where the threshold lands plus its carry-in weight, and
    // pass 2 sorts ONLY that bucket's rows (~1/100th of the group) after
    // a broadcast join. No full-group sort ever happens — at 100 TB the
    // full sort is the cost that matters, here it shrinks to one bucket.
    // The ORACLE still runs the single-pass rank form, so the hash match
    // is a cross-algorithm equivalence proof (like agg_mad_exact).
    "agg_weighted_median" -> ((s, d) => {
      import s.implicits._
      val base = Tables.lineitem(s, d)
        .select($"l_returnflag",
          round(Tables.dec($"l_extendedprice") * 100).cast("long").as("c"),
          round(Tables.dec($"l_quantity")).cast("long").as("wt"))
      Quantiles.weightedMedian(base, "l_returnflag", "c", "wt", 100000L)
        .select($"l_returnflag", $"wmedian".as("wmedian_cents"))
        .orderBy("l_returnflag")
    }),

    // SQL FILTER clause surface — per-group conditional aggregates without
    // CASE scaffolding (each FILTER prunes its own input; Catalyst still
    // runs one two-phase hash aggregate over the scan).
    "agg_filter_clause" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_orderstatus")
        .agg(
          expr("count(1) FILTER (WHERE o_totalprice > 100000)").as("n_big"),
          expr("count(1) FILTER (WHERE o_orderpriority LIKE '1%')").as("n_urgent"),
          expr("""cast(coalesce(sum(cast(o_totalprice as decimal(18,6)))
                 |  FILTER (WHERE o_custkey % 2 = 0), 0) * 1000000 as bigint)"""
            .stripMargin.replaceAll("\n", " ")).as("even_rev_e6"))
        .orderBy("o_orderstatus")
    }),

    // Distinct counting via bitmap popcount: the event-type domain is
    // small and enumerable, so "distinct types per user" collapses to
    // bit_or of one-hot masks + bit_count — a single BIGINT per group
    // through the shuffle instead of a distinct-expand. This is the
    // roaring-bitmap idea at its smallest: for bounded ID domains,
    // distinct-count state is a fixed-width bitmask that merges by OR.
    "agg_bitmap_distinct" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .filter($"user_id" % 20 === 0)
        .groupBy($"user_id")
        .agg(expr(
          """bit_or(cast(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
            |  WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END as bigint))"""
            .stripMargin.replaceAll("\n", " ")).as("type_mask"))
        .select($"user_id", $"type_mask",
          bit_count($"type_mask").cast("long").as("n_types"))
        .orderBy("user_id")
    }),

    // Median absolute deviation — the robust dispersion estimate
    // (insensitive to the long price tail that inflates stddev), computed
    // by the HISTOGRAM method: the quantity domain is small, so the
    // median is "first value whose cumulative histogram count crosses
    // rank (n+1) div 2" over a ~50-row per-group histogram — one
    // hash-agg over the scan plus windows over histogram rows, instead
    // of sorting every row twice. Same lower-median convention as the
    // rank form; the ORACLE still runs the row-rank algorithm, so the
    // hash match is a cross-algorithm equivalence proof. This is the
    // 100 TB shape whenever the value domain is bounded: the full-sort
    // cost collapses to map-side counting.
    "agg_mad_exact" -> ((s, d) => {
      import s.implicits._
      val p = Window.partitionBy($"l_returnflag")
      val hist = Tables.lineitem(s, d)
        .select($"l_returnflag", round($"l_quantity" * 100).cast("long").as("x"))
        .groupBy($"l_returnflag", $"x").agg(count(lit(1)).as("c"))
      val med = hist
        .withColumn("cum", sum($"c").over(p.orderBy($"x".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum($"c").over(p))
        .filter(expr("cum >= (tot + 1) div 2"))
        .groupBy($"l_returnflag").agg(min($"x").as("med"))
        .select($"l_returnflag".as("mf"), $"med")
      val devHist = hist.join(broadcast(med), $"l_returnflag" === $"mf")
        .select($"l_returnflag", $"med", abs($"x" - $"med").as("dx"), $"c")
        .groupBy($"l_returnflag", $"med", $"dx").agg(sum($"c").as("c"))
      devHist
        .withColumn("cum", sum($"c").over(p.orderBy($"dx".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum($"c").over(p))
        .filter(expr("cum >= (tot + 1) div 2"))
        .groupBy($"l_returnflag", $"med").agg(min($"dx").as("mad"))
        .select($"l_returnflag", $"med".as("median_cents"), $"mad".as("mad_cents"))
        .orderBy("l_returnflag")
    }),

    // Robust outlier gate — the data-cleaning application of the MAD:
    // count rows whose deviation from the group median exceeds 5× the
    // median absolute deviation (the rule survives heavy tails that make
    // mean±kσ useless). Runs ENTIRELY on the value histogram: median,
    // MAD, and the outlier count are all reductions over the ~50-row
    // per-group histogram, so the scan is touched exactly once (the
    // counting hash-agg) — no second pass over the data at all.
    "agg_outlier_robust" -> ((s, d) => {
      import s.implicits._
      val p = Window.partitionBy($"l_returnflag")
      val hist = Tables.lineitem(s, d)
        .select($"l_returnflag", round($"l_quantity" * 100).cast("long").as("x"))
        .groupBy($"l_returnflag", $"x").agg(count(lit(1)).as("c"))
      val med = hist
        .withColumn("cum", sum($"c").over(p.orderBy($"x".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum($"c").over(p))
        .filter(expr("cum >= (tot + 1) div 2"))
        .groupBy($"l_returnflag").agg(min($"x").as("med"))
        .select($"l_returnflag".as("mf"), $"med")
      val devHist = hist.join(broadcast(med), $"l_returnflag" === $"mf")
        .select($"l_returnflag", $"med", abs($"x" - $"med").as("dx"), $"c")
        .groupBy($"l_returnflag", $"med", $"dx").agg(sum($"c").as("c"))
      val mad = devHist
        .withColumn("cum", sum($"c").over(p.orderBy($"dx".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum($"c").over(p))
        .filter(expr("cum >= (tot + 1) div 2"))
        .groupBy($"l_returnflag", $"med").agg(min($"dx").as("mad"))
        .select($"l_returnflag".as("gf"), $"med", $"mad")
      devHist.drop("med").join(broadcast(mad), $"l_returnflag" === $"gf")
        .groupBy($"l_returnflag")
        .agg(sum($"c").as("n"),
          sum(when($"dx" > $"mad" * 5, $"c").otherwise(0L)).as("n_outliers"),
          max($"med").as("median_cents"), max($"mad").as("mad_cents"))
        .orderBy("l_returnflag")
    }),

    // D9 graded through its error theorem (the agg_quantile_sketch_rank
    // pattern): the HLL estimate itself is ε-approximate and not
    // oracle-hashable, so the row emits the EXACT distinct count plus a
    // flag that |hll − exact| ≤ 4·rsd·exact (4 standard errors at
    // rsd=0.05 — a real gate: a broken sketch register merge trips it),
    // and the oracle pins the flag to 1 alongside the exact counts. The
    // OPERATOR under test is the one-pass mergeable HLL (map-side partial
    // registers, one ~kB state per group over the shuffle — the only
    // distinct-count shape that works at 100 TB); the exact pass exists
    // to verify it, same 2-scan check cost policy as the KLL row.
    "agg_hll_distinct_bound" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag".as("g"))
        .agg(approx_count_distinct($"l_partkey", 0.05).as("est"),
          countDistinct($"l_partkey").as("exact_distinct"))
        .select($"g", $"exact_distinct",
          when(abs($"est" - $"exact_distinct") <=
            greatest($"exact_distinct" * 0.2, lit(1.0)), 1L).otherwise(0L)
            .as("hll_ok"))
        .orderBy("g")
    }),

    // Batch Misra–Gries heavy hitters, graded through the MG theorems the
    // way stream_heavy_hitters is — but fully distributed (no driver
    // snapshot): sketch entries explode into rows, the exact-truth join
    // checks (a) every reported counter lies in [true − n/(k+1), true]
    // (MG never overestimates; bounded underestimate survives the
    // map-side partials and the (k+1)-largest-subtraction merge), and
    // (b) every key with true count > n/(k+1) was reported. Same skewed
    // key mix so the theorems BITE: ~2/3 of rows on 4 hot keys, 1/3
    // churning a 200-key tail that forces real decrements in the k=8
    // buffer. Oracle pins both flags to 1 plus exact group sizes.
    "agg_heavy_hitters_bound" -> ((s, d) => {
      import s.implicits._
      val keyExpr = expr(
        "CASE WHEN o_custkey % 3 = 0 THEN 100 + o_custkey % 200 ELSE o_custkey % 4 END")
      val base = Tables.orders(s, d)
        .select($"o_orderpriority".as("g"), keyExpr.as("key"))
      val sk = base.groupBy($"g")
        .agg(graft.plans.SpaceSavingAgg.heavyHitters($"key", 8).as("hh"),
          count(lit(1)).as("n"))
      val est = sk.select($"g", $"n", explode($"hh").as("e"))
        .select($"g", $"n", $"e.key".as("key"), $"e.cnt".as("est"))
      val truth = base.groupBy($"g", $"key").agg(count(lit(1)).as("tc"))
      val bounds = est.join(truth, Seq("g", "key"), "left")
        .groupBy($"g")
        .agg(min(expr(
          """CASE WHEN est <= coalesce(tc, 0)
            | AND est >= coalesce(tc, 0) - n div 9 THEN 1 ELSE 0 END"""
            .stripMargin.replaceAll("\n", " "))).as("bounds_ok"))
      val missing = truth
        .join(sk.select($"g", $"n"), "g")
        .filter(expr("tc > n div 9"))
        .join(est.select($"g".as("eg"), $"key".as("rep_key")),
          $"key" === $"rep_key" && $"g" === $"eg", "left_anti")
        .groupBy($"g").agg(count(lit(1)).as("n_missing"))
      sk.select($"g", $"n")
        .join(bounds, Seq("g"), "left")
        .join(missing, Seq("g"), "left")
        .select($"g", $"n",
          coalesce($"bounds_ok", lit(1L)).cast("long").as("bounds_ok"),
          when(coalesce($"n_missing", lit(0L)) === 0, 1L).otherwise(0L)
            .as("all_present"))
        .orderBy("g")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // The HLL estimate is ε-approximate (not hashable); the PROOF
    // OBLIGATION |est − exact| ≤ 4·rsd·exact is pinned to 1 and the exact
    // distinct counts are hashed — same policy as the sketch-rank rows.
    "agg_hll_distinct_bound" ->
      """SELECT l_returnflag AS g, COUNT(DISTINCT l_partkey) AS exact_distinct,
        |  CAST(1 AS BIGINT) AS hll_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // MG counters are encounter-order-dependent; the PROOF OBLIGATIONS
    // (presence of all true heavy keys, counter bounds) are pinned.
    "agg_heavy_hitters_bound" ->
      """SELECT o_orderpriority AS g, COUNT(*) AS n,
        |  CAST(1 AS BIGINT) AS bounds_ok, CAST(1 AS BIGINT) AS all_present
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_e6,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_base_price_e6,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_disc_price_e6,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) * (1 + CAST(l_tax AS DECIMAL(18,6))) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_charge_e6,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_count_distinct" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_multi_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_price_e6
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority))
        |ORDER BY status, priority""".stripMargin,
    "agg_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(n_name, 'ALL') AS nation,
        |  COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_bal_e6
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "agg_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_e6
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "agg_having" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 5
        |ORDER BY l_orderkey""".stripMargin,
    "agg_variance_manual" ->
      """WITH t AS (
        |  SELECT l_returnflag, CAST(round(l_quantity * 100) AS BIGINT) AS x
        |  FROM lineitem
        |), g AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM t GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR)
        |    AS var_num,
        |  n * (n - 1) AS var_den
        |FROM g ORDER BY l_returnflag""".stripMargin,
    "agg_covar_manual" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM t GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR)
        |    AS cov_num,
        |  n * (n - 1) AS cov_den
        |FROM g ORDER BY l_returnflag""".stripMargin,
    "agg_median_exact" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS x
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, x,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY x ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM t)
        |SELECT l_returnflag,
        |  MIN(x) AS med_lo_cents, MAX(x) AS med_hi_cents, MAX(n) AS n
        |FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice) AS BIGINT) // 25000 AS bucket,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "agg_mode_exact" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY cnt DESC, o_orderpriority ASC) AS rn FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    "agg_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "sql_pivot_clause" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
        |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
        |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
        |  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS unspec,
        |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_grouping_id" ->
      """SELECT coalesce(l_returnflag, '-') AS rflag,
        |  coalesce(l_linestatus, '-') AS lstatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rflag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_lstatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, rflag, lstatus""".stripMargin,
    "agg_moment_sketch" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |    CAST(round(CAST(l_extendedprice AS DECIMAL(18,6)) * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s1,
        |    SUM(CAST(c AS HUGEINT) * c) AS s2,
        |    SUM(CAST(c AS HUGEINT) * c * c) AS s3,
        |    SUM(CAST(c AS HUGEINT) * c * c * c) AS s4
        |  FROM g GROUP BY l_returnflag),
        |t AS (
        |  SELECT l_returnflag, n, s1,
        |    CAST(s2 // 1000000 AS BIGINT) AS s2_d6,
        |    CAST(s3 // 1000000000000 AS BIGINT) AS s3_d12,
        |    CAST(s4 // 1000000000000000000 AS BIGINT) AS s4_d18
        |  FROM a),
        |f AS (
        |  SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2_d6 AS DOUBLE) * 1e6 / CAST(n AS DOUBLE) AS s2f,
        |    CAST(s3_d12 AS DOUBLE) * 1e12 / CAST(n AS DOUBLE) AS s3f,
        |    CAST(s4_d18 AS DOUBLE) * 1e18 / CAST(n AS DOUBLE) AS s4f
        |  FROM t),
        |m AS (SELECT *, s2f - mu * mu AS m2 FROM f)
        |SELECT l_returnflag, n, s1, s2_d6, s3_d12, s4_d18,
        |  CASE WHEN m2 <= 0 THEN 0 ELSE CAST(round(
        |    (s3f - 3.0 * mu * s2f + 2.0 * mu * mu * mu)
        |    / (m2 * sqrt(m2)) * 1000) AS BIGINT) END AS skew_e3,
        |  CASE WHEN m2 <= 0 THEN 0 ELSE CAST(round(
        |    ((s4f - 4.0 * mu * s3f + 6.0 * mu * mu * s2f - 3.0 * mu * mu * mu * mu)
        |     / (m2 * m2) - 3.0) * 1000) AS BIGINT) END AS kurt_e3
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_weighted_median" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |    CAST(round(CAST(l_extendedprice AS DECIMAL(18,6)) * 100) AS BIGINT) AS c,
        |    CAST(round(CAST(l_quantity AS DECIMAL(18,6))) AS BIGINT) AS wt
        |  FROM lineitem),
        |w AS (
        |  SELECT l_returnflag, c,
        |    SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM g)
        |SELECT l_returnflag, MIN(c) AS wmedian_cents
        |FROM w WHERE cum * 2 >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_filter_clause" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
        |  COUNT(*) FILTER (WHERE o_orderpriority LIKE '1%') AS n_urgent,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
        |    FILTER (WHERE o_custkey % 2 = 0), 0) * 1000000 AS BIGINT) AS even_rev_e6
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_bitmap_distinct" ->
      """SELECT user_id,
        |  CAST(bit_or(CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |    WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END AS BIGINT)) AS BIGINT) AS type_mask,
        |  CAST(bit_count(CAST(bit_or(CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |    WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END AS BIGINT)) AS BIGINT)) AS BIGINT) AS n_types
        |FROM events WHERE user_id % 20 = 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_mad_exact" ->
      """WITH base AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS x
        |  FROM lineitem),
        |med AS (
        |  SELECT l_returnflag AS mf, x AS med FROM (
        |    SELECT l_returnflag, x,
        |      row_number() OVER (PARTITION BY l_returnflag
        |        ORDER BY x ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
        |      COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |    FROM base) t
        |  WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, med, abs(x - med) AS dx
        |  FROM base JOIN med ON l_returnflag = mf)
        |SELECT l_returnflag, med AS median_cents, dx AS mad_cents FROM (
        |  SELECT l_returnflag, med, dx,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY dx ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM dev) t
        |WHERE rn = (n + 1) // 2 ORDER BY l_returnflag""".stripMargin,
    "agg_outlier_robust" ->
      """WITH base AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS x
        |  FROM lineitem),
        |med AS (
        |  SELECT l_returnflag AS mf, x AS med FROM (
        |    SELECT l_returnflag, x,
        |      row_number() OVER (PARTITION BY l_returnflag
        |        ORDER BY x ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
        |      COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |    FROM base) t
        |  WHERE rn = (n + 1) // 2),
        |mad AS (
        |  SELECT l_returnflag AS gf, med, dx AS mad FROM (
        |    SELECT l_returnflag, med, abs(x - med) AS dx,
        |      row_number() OVER (PARTITION BY l_returnflag
        |        ORDER BY abs(x - med) ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
        |      COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |    FROM base JOIN med ON l_returnflag = mf) t
        |  WHERE rn = (n + 1) // 2)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN abs(x - med) > mad * 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  MAX(med) AS median_cents, MAX(mad) AS mad_cents
        |FROM base JOIN mad ON l_returnflag = gf
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
