package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics and statistics operators: cohort retention, exact
  * percentiles, integer-exact correlation, and an unrolled PageRank over
  * the part–supplier co-purchase graph.
  *
  * Determinism notes (SURVEY §2.0): every output column is BIGINT or
  * STRING; all ratios are integer-scaled with truncating division (`div`
  * here ≡ `//` in DuckDB, verified on negatives in round 1); every query
  * ends in a total order.
  */
object Analytics extends QueryModule {

  val queries: Map[String, Q] = Map(

    // Cohort retention: bucket customers by first-order week (epoch-week =
    // days-since-1970 div 7), then count distinct customers active at each
    // week offset. ONE window shuffle on o_custkey computes the cohort
    // assignment; the (cohort, offset) aggregation shuffles only the
    // deduplicated triples — at 100 TB both keys are low-cardinality so the
    // second shuffle is tiny, and the first co-partitions with any other
    // per-customer analysis.
    "win_cohort_retention" -> ((s, d) => {
      import s.implicits._
      val byCust = Window.partitionBy($"c")
      Tables.orders(s, d)
        .select($"o_custkey".as("c"),
          expr("datediff(cast(o_orderdate as date), date'1970-01-01') div 7")
            .cast("long").as("wk"))
        .withColumn("wk0", min($"wk").over(byCust))
        .groupBy($"wk0".as("cohort_week"), ($"wk" - $"wk0").as("week_offset"))
        .agg(count_distinct($"c").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Exact discrete percentiles (p50/p90/p99) per group, computed the
    // portable way: row_number over the sorted partition, pick the value at
    // position ceil(p·n/100) = (n·p + 99) div 100. The selected VALUE is
    // deterministic even with ties (equal ranks hold equal values). At
    // scale this is one sort-shuffle per group set — the same cost profile
    // as any exact-percentile computation; approx_percentile is the
    // documented sketch alternative when exactness isn't required.
    "agg_percentile_disc" -> ((s, d) => {
      import s.implicits._
      val byFlag = Window.partitionBy($"l_returnflag")
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          round(Tables.dec($"l_quantity") * 100).cast("long").as("qty_c"))
        .withColumn("rn", row_number().over(byFlag.orderBy($"qty_c")))
        .withColumn("n", count(lit(1)).over(byFlag))
        .groupBy($"l_returnflag")
        .agg(
          max($"n").as("n"),
          max(when($"rn" === expr("(n * 50 + 99) div 100"), $"qty_c")).as("p50_c"),
          max(when($"rn" === expr("(n * 90 + 99) div 100"), $"qty_c")).as("p90_c"),
          max(when($"rn" === expr("(n * 99 + 99) div 100"), $"qty_c")).as("p99_c"))
        .orderBy("l_returnflag")
    }),

    // Pearson r² per group in EXACT integer arithmetic: r² =
    // (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)), with the big
    // products in DECIMAL(38,0) (HUGEINT on the oracle side). The ratio is
    // computed STEPWISE — (num² div d1) · 1e6 div d2 — so every `div`
    // quotient fits int64: Spark's `div` always returns BIGINT and WRAPS
    // silently past 2^63 (non-ANSI), so a single d1·d2 denominator (~1e28)
    // divided down would corrupt; num² ≤ d1·d2 (Cauchy–Schwarz) bounds the
    // first quotient by d2. Both engines evaluate the identical truncating
    // steps. One map-side partial aggregation; no second mean-centered scan.
    "agg_corr_r2" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          round(Tables.dec($"l_quantity")).cast("long").as("x"),
          // hundreds of dollars: cents div 10000, truncating — keeps every
          // intermediate comfortably inside DECIMAL(38,0)/HUGEINT
          expr("round(cast(l_extendedprice as decimal(18,6)) * 100) div 10000")
            .as("y"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .select($"l_returnflag", $"n",
          // every product is cast-then-multiply: n·Σxy alone passes 2^63 at
          // sf30, so forming it in BIGINT before the decimal lift is an
          // ANSI overflow — the (38,0) arithmetic must start at the factors
          expr("""cast(
                 |  cast((cast(n as decimal(38,0)) * cast(sxy as decimal(38,0)) -
                 |        cast(sx as decimal(38,0)) * cast(sy as decimal(38,0))) *
                 |       (cast(n as decimal(38,0)) * cast(sxy as decimal(38,0)) -
                 |        cast(sx as decimal(38,0)) * cast(sy as decimal(38,0))) div
                 |       (cast(n as decimal(38,0)) * cast(sxx as decimal(38,0)) -
                 |        cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)))
                 |    as decimal(38,0)) * 1000000 div
                 |  (cast(n as decimal(38,0)) * cast(syy as decimal(38,0)) -
                 |   cast(sy as decimal(38,0)) * cast(sy as decimal(38,0)))
                 |as bigint)""".stripMargin.replaceAll("\n", " "))
            .as("r2_e6"))
        .orderBy("l_returnflag")
    }),

    // Continuous (interpolated) median per group — the percentile_cont
    // dual of agg_percentile_disc, in exact integers: position on the
    // 0-based continuum is (n−1)·50/100 = lo + frac/100; the answer is
    // v_lo·1e6 + (v_hi − v_lo)·1e6·frac div 100, picked via the same
    // rank-position window + conditional-max trick (no collect, one sort
    // shuffle per group set).
    "agg_percentile_cont" -> ((s, d) => {
      import s.implicits._
      val byFlag = Window.partitionBy($"l_returnflag")
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          round(Tables.dec($"l_quantity") * 100).cast("long").as("qty_c"))
        .withColumn("rn", row_number().over(byFlag.orderBy($"qty_c")))
        .withColumn("n", count(lit(1)).over(byFlag))
        .groupBy($"l_returnflag")
        .agg(
          max($"n").as("n"),
          max(when($"rn" === expr("(n - 1) * 50 div 100 + 1"), $"qty_c")).as("v_lo"),
          max(when($"rn" === expr("least((n - 1) * 50 div 100 + 2, n)"), $"qty_c"))
            .as("v_hi"),
          max(expr("(n - 1) * 50 % 100")).as("frac"))
        .select($"l_returnflag", $"n",
          expr("v_lo * 1000000 + (v_hi - v_lo) * 1000000 * frac div 100")
            .as("p50_cont_e6"))
        .orderBy("l_returnflag")
    }),

    // Gini coefficient per market segment over order totals — exact
    // integers via the rank formula G = (2·Σ(i·x_i) − (n+1)·Σx) / (n·Σx)
    // on the ascending-sorted values (unique-key tie-break so ranks are
    // reproducible; equal values make the formula tie-order-invariant).
    // num·1e6 exceeds int64 → DECIMAL(38,0)/HUGEINT with one R7-stepwise
    // division; the sort is per-segment (one window shuffle), the rest is
    // map-side sums.
    "agg_gini" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
        .select($"o_custkey",
          round(Tables.dec($"o_totalprice") * 100).cast("long").as("x"))
      val seg = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
      val w = Window.partitionBy($"c_mktsegment")
      o.join(broadcast(seg), $"o_custkey" === $"c_custkey")
        .withColumn("i", row_number().over(w.orderBy($"x", $"o_custkey")))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum($"x").as("sx"),
          // Σ(i·x) is Θ(n²·mean): each product fits int64 but the SUM
          // passes 9.2e18 at ~sf2 (surfaced by the sf3 run as an executor
          // ARITHMETIC_OVERFLOW) — accumulate in DECIMAL(38,0), matching
          // DuckDB's HUGEINT SUM. Same class as the variance numerator.
          sum(($"i" * $"x").cast("decimal(38,0)")).as("six"))
        .select($"c_mktsegment", $"n",
          expr("""cast((2 * six - (cast(n as decimal(38,0)) + 1) * sx) * 1000000
                 |  div (cast(n as decimal(38,0)) * cast(sx as decimal(38,0)))
                 |as bigint)""".stripMargin.replaceAll("\n", " ")).as("gini_e6"))
        .orderBy("c_mktsegment")
    }),

    // Least-squares regression line per group, same exact-integer framework
    // as agg_corr_r2 (one pass of sums; R7 stepwise division): slope_e6 =
    // num·1e6 div d1 (num = n·Σxy − Σx·Σy needs DECIMAL(38,0) once ×1e6,
    // quotient is the slope in micro-units — small), intercept_e6 =
    // (Σy·1e6 − slope_e6·Σx) div n, all int64-safe. Negative slopes rely
    // on div ≡ // truncating toward zero on both engines (verified r1).
    "agg_linreg" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          round(Tables.dec($"l_quantity")).cast("long").as("x"),
          expr("round(cast(l_extendedprice as decimal(18,6)) * 100) div 10000")
            .as("y"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
        .withColumn("slope_e6",
          // cast-then-multiply (n·Σxy > 2^63 at sf30 — see agg_corr_r2)
          expr("""cast((cast(n as decimal(38,0)) * cast(sxy as decimal(38,0)) -
                 |      cast(sx as decimal(38,0)) * cast(sy as decimal(38,0)))
                 |    * 1000000 div
                 |  (cast(n as decimal(38,0)) * cast(sxx as decimal(38,0)) -
                 |   cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)))
                 |as bigint)""".stripMargin.replaceAll("\n", " ")))
        .withColumn("icept_e6",
          expr("""cast((cast(sy as decimal(38,0)) * 1000000 -
                 |      cast(slope_e6 as decimal(38,0)) * cast(sx as decimal(38,0)))
                 |    div n as bigint)""".stripMargin.replaceAll("\n", " ")))
        .select($"l_returnflag", $"n", $"slope_e6", $"icept_e6")
        .orderBy("l_returnflag")
    }),

    // Rolling correlation — the windowed dual of agg_corr_r2: r² of
    // (quantity, price) over the trailing 31-row frame per return flag,
    // ordered by the unique (shipdate, orderkey, linenumber) key. All five
    // sums come from ONE window pass (same frame → shared sort), and with
    // n ≤ 31 every term fits int64 outright — no decimal needed; the
    // degenerate-frame guard (den < 1e6 → -1) is the same CASE on both
    // engines, covering zero-variance windows. Bounded slice keeps the
    // graded output small; the shape itself is one sort shuffle at any
    // scale.
    "win_rolling_corr" -> ((s, d) => {
      import s.implicits._
      // (orderkey, linenumber) is NOT unique in this synthetic lineitem —
      // x/y value tie-breaks make the frame contents deterministic (rows
      // still tied after that are fully identical, so frame sums agree).
      val w = Window.partitionBy($"l_returnflag")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"x", $"y")
      val f = w.rowsBetween(-30, 0)
      Tables.lineitem(s, d)
        .filter($"l_orderkey" < 2000)
        .select($"l_returnflag", $"l_shipdate", $"l_orderkey", $"l_linenumber",
          round(Tables.dec($"l_quantity")).cast("long").as("x"),
          expr("round(cast(l_extendedprice as decimal(18,6)) * 100) div 10000")
            .as("y"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(f))
        .withColumn("sx", sum($"x").over(f))
        .withColumn("sy", sum($"y").over(f))
        .withColumn("sxx", sum($"x" * $"x").over(f))
        .withColumn("syy", sum($"y" * $"y").over(f))
        .withColumn("sxy", sum($"x" * $"y").over(f))
        .filter($"rn" >= 31)
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
          expr("""CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) >= 1000000
                 |THEN (n * sxy - sx * sy) * (n * sxy - sx * sy) div
                 |  ((n * sxx - sx * sx) * (n * syy - sy * sy) div 1000000)
                 |ELSE -1 END""".stripMargin.replaceAll("\n", " ")).as("r2_e6"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber", "r2_e6")
    }),

    // PageRank, 2 unrolled rounds, over the undirected bipartite
    // part–supplier graph from lineitem (node ids: part p → 2p, supplier
    // s → 2s+1). Pure integer mass-passing: rank'(v) = 0.15e6 +
    // 0.85·Σ_{u~v} (rank(u) div deg(u)), truncating division both engines.
    // Each round is one equi-join on the edge key + one hash aggregation —
    // the standard Pregel-as-join shape; at 100 TB the edge table is
    // pre-partitioned by src once and every round reuses that partitioning.
    "graph_pagerank" -> ((s, d) => {
      import s.implicits._
      val edges1 = Tables.lineitem(s, d)
        .select(($"l_partkey" * 2).as("u"), ($"l_suppkey" * 2 + 1).as("v"))
        .distinct()
      // The source degree is baked into the edge table ONCE (GraphX's
      // routing-table trick), so each round is join(edges_deg, rank) +
      // hash-agg with NO per-round deg re-join; the final deg join is for
      // the output column only. The edge list is hash-partitioned by src
      // and PERSISTED (not localCheckpoint: LogicalRDD drops the
      // partitioning, so every downstream join re-shuffled ~118M edges per
      // stage at sf10 — 12.4 GB of spill; InMemoryTableScan preserves it),
      // so the distinct subtree runs once and the degree agg, the deg
      // bake-in join, and every round's rank join all reuse that one
      // partitioning — no stage moves the edge table again (56.9 → 34.2 s
      // at sf10, zero spill). The rank side carries a shuffle_hash hint:
      // the per-partition rank slice is hash-table-sized, and SHJ streams
      // the big edge side WITHOUT the per-round sort SMJ would impose —
      // sorting the static edge table every iteration is pure waste. The
      // bench's releaseResidue unpersists between queries; a many-round
      // production PageRank does exactly this with its static graph.
      val edges = edges1.unionByName(edges1.select($"v".as("u"), $"u".as("v")))
        .repartition($"u")
        .persist()
      val deg = edges.groupBy($"u").agg(count(lit(1)).as("deg"))
      val edgesDeg = edges.join(deg.hint("shuffle_hash"), "u")
      val r0 = deg.select($"u", lit(1000000L).as("pr"))
      def round1(r: org.apache.spark.sql.DataFrame) =
        edgesDeg.join(r.hint("shuffle_hash"), "u")
          .groupBy($"v".as("u"))
          .agg(expr(
            "cast(150000 + (850000 * sum(pr div deg)) div 1000000 as bigint)")
            .as("pr"))
      val r2 = round1(round1(r0))
      r2.join(deg, "u")
        .select($"u".as("node"), $"pr".as("rank_e6"), $"deg")
        .orderBy($"rank_e6".desc, $"node".asc)
        .limit(100)
    }),

    // Herfindahl–Hirschman concentration index per market segment: how
    // concentrated is segment revenue across its customers? HHI =
    // Σ share_i² = Σx_i² / (Σx)², emitted ×1e6. Two hash-aggs (per-customer
    // spend, then per-segment moments) — both map-side-combinable, and the
    // second one's input is one row per customer, so at 100 TB the heavy
    // shuffle is only the first (co-partitioned with every other
    // per-customer rollup). Σx² exceeds int64 → DECIMAL(38,0)/HUGEINT with
    // one stepwise division (rule R7); x is quantized per order first (R8).
    "agg_hhi" -> ((s, d) => {
      import s.implicits._
      val spend = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment", $"o_custkey")
        .agg(sum(round(Tables.dec($"o_totalprice") * 100).cast("long")).as("x"))
      spend.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), sum($"x").as("sx"),
          sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
        .select($"c_mktsegment", $"n_cust",
          expr("""cast(cast(sxx as decimal(38,0)) * 1000000 div
                 |  (cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)))
                 |as bigint)""".stripMargin.replaceAll("\n", " ")).as("hhi_e6"))
        .orderBy("c_mktsegment")
    }),

    // Pareto skyline per market segment: orders not dominated on
    // (totalprice, orderdate) — no other order in the segment is BOTH
    // strictly pricier and strictly more recent. One sort shuffle: order
    // by price desc within segment, keep a row iff its date beats the
    // running max date over all STRICTLY pricier rows (ties in price
    // can't dominate each other, so the prior-frame max is taken over the
    // price-run boundary via a range frame on price). The window form is
    // the O(n log n) skyline for 2 dimensions — no pairwise join.
    "agg_skyline_pareto" -> ((s, d) => {
      import s.implicits._
      val bySeg = Window.partitionBy($"c_mktsegment")
        .orderBy($"price_c".desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment", $"o_orderkey",
          round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
          datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .withColumn("best_day_pricier", max($"day").over(bySeg))
        .filter($"best_day_pricier".isNull || $"day" > $"best_day_pricier")
        .select($"c_mktsegment", $"o_orderkey", $"price_c", $"day")
        .orderBy($"c_mktsegment", $"price_c".desc, $"o_orderkey")
    }),

    // Bottom-k distinct-count sketch: keep the k smallest 60-bit hashes of
    // the values; estimate distinct = (k−1)·2^60 div h_k. Unlike HLL/KLL
    // this sketch is fully DETERMINISTIC and order/partition-independent
    // (min-k of a set doesn't care how the set arrives), so the
    // "approximate" estimator has an EXACT DuckDB oracle — the estimate,
    // the k-th hash, and the exact count are all replicated bit-for-bit.
    // Mergeable (min-k of unions = min-k of concatenated min-k's), one
    // tiny state per group through the shuffle — the same 100 TB story as
    // HLL with none of the nondeterminism; the exact count rides along to
    // show the ~1/√k relative error honestly.
    "sketch_bottomk_distinct" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderpriority").orderBy($"h".asc)
      Tables.orders(s, d)
        .select($"o_orderpriority",
          conv(substring(md5($"o_custkey".cast("string").cast("binary")), 1, 15),
            16, 10).cast("long").as("h"))
        .distinct()
        .withColumn("rn", row_number().over(w))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_exact"),
          max(when($"rn" === 8, $"h")).as("h8"))
        .select($"o_orderpriority", $"n_exact", $"h8",
          // h8 > 0 guard: at h8 = 0 (probability ~2^-60) Spark's div
          // yields NULL while DuckDB's // raises — degrade to n_exact on
          // both engines instead of diverging.
          expr("""CASE WHEN n_exact >= 8 AND h8 > 0
                 |THEN 7 * 1152921504606846976 div h8
                 |ELSE n_exact END""".stripMargin.replaceAll("\n", " "))
            .as("est_distinct"))
        .orderBy("o_orderpriority")
    }),

    // Count-Min point-frequency sketch: ONE pass folds the whole fact
    // table into a 4×256 counter matrix (the cms_sketch
    // TypedImperativeAggregate — 8 KB of state per partition through the
    // shuffle, regardless of key cardinality), then the 20 heaviest keys
    // are probed: est = MIN over the 4 cells the key hashes to. Hashes
    // are 4 disjoint 32-bit slices of one codegen'd md5, so the DuckDB
    // oracle rebuilds the identical matrix cell-for-cell and the
    // "approximate" estimate has an EXACT oracle (same policy as
    // sketch_bottomk_distinct: deterministic sketch, honest error shown
    // by carrying n_exact alongside). Merge is elementwise addition —
    // any partition layout yields the bit-identical matrix. At 100 TB
    // this is the per-shard frequency-serving / join-skew-detection
    // form: the exact groupBy shuffles the full key domain; CMS ships
    // one tiny matrix per group/window.
    "sketch_cms_freq" -> ((s, d) => {
      import s.implicits._
      def hex(k: org.apache.spark.sql.Column) =
        md5(concat(lit("cms:"), k.cast("string")).cast("binary"))
      val sk = Tables.lineitem(s, d)
        .agg(graft.plans.CountMinAgg.cmsSketch(hex($"l_partkey"), 4, 256).as("sk"))
      val probes = Tables.lineitem(s, d)
        .groupBy($"l_partkey").agg(count(lit(1)).as("n_exact"))
        .orderBy($"n_exact".desc, $"l_partkey".asc).limit(20)
      val withHex = probes.crossJoin(broadcast(sk))
        .withColumn("hx", hex($"l_partkey"))
      val ests = (0 until 4).map { j =>
        element_at($"sk",
          (conv(substring($"hx", 1 + 8 * j, 8), 16, 10).cast("long") % 256
            + lit(j * 256) + 1).cast("int"))
      }
      withHex.select($"l_partkey", $"n_exact", least(ests: _*).as("n_cms"))
        .orderBy($"n_exact".desc, $"l_partkey".asc)
    }),

    // Chi-square contingency test (segment × order-priority
    // independence): observed cell counts, expected counts under
    // independence (r·c/N), per-cell χ² contributions, and the statistic
    // — all integer-exact. Per-cell term = (o·N − r·c)²·1e6 div (r·c)
    // div N: every division truncating, in a fixed order, computed in
    // DECIMAL(38,0) ↔ HUGEINT ((o·N − r·c)² ~ 4e20 overflows BIGINT at
    // sf0.1 — the agg_corr_r2 / agg_moment_sketch wide-integer
    // discipline). One broadcast join + one count shuffle; the windows
    // that add margins run over the |segments|×|priorities| cell table
    // (25 rows) — constant at any corpus size.
    "agg_chi2_contingency" -> ((s, d) => {
      import s.implicits._
      val cells = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment".as("seg"), $"o_orderpriority".as("pri"))
        .agg(count(lit(1)).as("o"))
      val t = cells
        .withColumn("r", sum($"o").over(Window.partitionBy($"seg")))
        .withColumn("c", sum($"o").over(Window.partitionBy($"pri")))
        .withColumn("n", sum($"o").over(Window.partitionBy()))
      val terms = t.select($"seg", $"pri", $"o",
        expr("cast(cast(r as decimal(38,0)) * c * 1000000 div n as bigint)")
          .as("exp_e6"),
        expr("""cast(
               |cast(cast(o as decimal(38,0)) * n -
               |     cast(r as decimal(38,0)) * c as decimal(38,0)) *
               |cast(cast(o as decimal(38,0)) * n -
               |     cast(r as decimal(38,0)) * c as decimal(38,0)) *
               |1000000 div (cast(r as decimal(38,0)) * c) div n
               |""".stripMargin.replaceAll("\n", " ") + " as bigint)")
          .as("term_e6"))
      terms
        .withColumn("chi2_e6", sum($"term_e6").over(Window.partitionBy()))
        .orderBy("seg", "pri")
    }),

    // Event-path analysis (the attribution/journey primitive): each
    // user's first-8-step event-type sequence as one '>'-joined string,
    // plus whether a purchase occurs within those steps. The ordered
    // concatenation is built WITHOUT a window sort: collect_list of
    // (ts_us, event_id, event_type) structs per user, array_sort (struct
    // field order = sort key; event_id is the unique tie-break), then
    // transform + slice — one hash-agg shuffle keyed by user, the
    // per-user sort bounded by that user's events. The oracle builds the
    // same path with string_agg ORDER BY (ts_us, event_id) over a
    // rank-filtered set. At 100 TB: per-key ordered-sequence assembly
    // via sorted-struct aggregation beats a global window sort — the
    // shuffle is the groupBy's, and skew tools (salting) apply directly.
    "agg_event_paths" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).filter($"user_id" < 300)
        .select($"user_id", Tables.tsUs.as("ts_us"), $"event_id",
          $"event_type")
      ev.groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("""slice(transform(array_sort(
                 |collect_list(struct(ts_us, event_id, event_type))),
                 |x -> x.event_type), 1, 8)"""
            .stripMargin.replaceAll("\n", " ")).as("p8"))
        .select($"user_id", $"n_events",
          concat_ws(">", $"p8").as("path8"),
          array_contains($"p8", "purchase").cast("long")
            .as("early_purchase"))
        .orderBy("user_id")
    }),

    // Markov transition matrix over per-user event sequences — the
    // estimation step a journey/attribution model runs after
    // agg_event_paths' assembly: lag() pairs each event with its
    // predecessor (unique (ts_us, event_id) order), transitions are
    // counted per (prev, next), and the conditional probability is
    // integer-scaled against the prev-state row total (R2': ×1e6,
    // truncating div — exact on both engines). ONE window shuffle keyed
    // by user (the same partitioning every other per-user op reuses);
    // the |types|² matrix that follows is constant-size at any corpus.
    "agg_event_transitions" -> ((s, d) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id")
        .orderBy($"ts_us", $"event_id")
      Tables.events(s, d)
        .select($"user_id", Tables.tsUs.as("ts_us"), $"event_id",
          $"event_type")
        .withColumn("prev_type", lag($"event_type", 1).over(byUser))
        .filter($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type".as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p_e6",
          expr("n * 1000000 div sum(n) over (partition by prev_type)"))
        .select($"prev_type", $"next_type", $"n", $"p_e6")
        .orderBy("prev_type", "next_type")
    }),

    // KMV (bottom-k) sketch SET ALGEBRA: distinct-count of a UNION and an
    // INTERSECTION estimated from two mergeable 16-hash sketches — the
    // composition sketch_bottomk_distinct only hints at. Union sketch =
    // 16 smallest of the two sketches' union (KMV merge = min-k of
    // concatenation, associative, one tiny state per set through any
    // shuffle topology); est|A∪B| = 15·2^56 div h16; ρ = fraction of
    // union-sketch hashes present in BOTH input sketches (membership is
    // EXACT for union-sketch elements: x ≤ h16(U) ≤ h16(A) ⟹ x ∈ A's
    // sketch); est|A∩B| = ρ·est|A∪B| div 16. 56-bit hashes (not 60) so
    // 15·2^56 stays inside BIGINT on both engines. Exact counts ride
    // along; the whole estimator is deterministic → exact DuckDB oracle.
    // The global windows order ≤32 sketch rows — constant-size state,
    // not a data-scale sort. At 100 TB: per-segment KMV sketches make
    // any distinct-count OVER set expressions (union/intersection of
    // segments) a constant-size merge instead of a re-shuffle of keys.
    "sketch_bottomk_intersect" -> ((s, d) => {
      import s.implicits._
      val h = conv(substring(md5($"o_custkey".cast("string").cast("binary")),
        1, 14), 16, 10).cast("long")
      val ab = Tables.orders(s, d)
        .filter($"o_orderpriority".isin("1-URGENT", "2-HIGH"))
        .select(when($"o_orderpriority" === "1-URGENT", "a").otherwise("b")
          .as("grp"), h.as("h"))
        .distinct()
      val byGrp = Window.partitionBy($"grp").orderBy($"h".asc)
      val sk = ab.withColumn("rn", row_number().over(byGrp)).filter($"rn" <= 16)
      val u = sk.select($"h").distinct()
        .withColumn("rn", row_number().over(Window.orderBy($"h".asc)))
        .filter($"rn" <= 16)
      val stats = u
        .join(sk.filter($"grp" === "a").select($"h".as("ha")),
          $"h" === $"ha", "left")
        .join(sk.filter($"grp" === "b").select($"h".as("hb")),
          $"h" === $"hb", "left")
        .agg(count(lit(1)).as("k_u"), max($"h").as("hk"),
          sum(when($"ha".isNotNull && $"hb".isNotNull, 1L).otherwise(0L))
            .as("rho"))
      val ex = Tables.orders(s, d)
        .filter($"o_orderpriority".isin("1-URGENT", "2-HIGH"))
        .groupBy($"o_custkey")
        .agg(max(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L))
          .as("ia"),
          max(when($"o_orderpriority" === "2-HIGH", 1L).otherwise(0L))
            .as("ib"))
        .agg(count(lit(1)).as("n_union_exact"),
          sum(when($"ia" === 1L && $"ib" === 1L, 1L).otherwise(0L))
            .as("n_intersect_exact"))
      ex.crossJoin(broadcast(stats)).select(
        $"n_union_exact", $"n_intersect_exact",
        expr("""CASE WHEN k_u >= 16 AND hk > 0
               |THEN 15 * 72057594037927936 div hk
               |ELSE n_union_exact END""".stripMargin.replaceAll("\n", " "))
          .as("est_union"),
        expr("""CASE WHEN k_u >= 16 AND hk > 0
               |THEN rho * (15 * 72057594037927936 div hk) div 16
               |ELSE n_intersect_exact END""".stripMargin.replaceAll("\n", " "))
          .as("est_intersect"))
    }),

    // Distributed sparse matrix–matrix multiply (SpGEMM) as relational
    // algebra: A[supp, part] = supplied centi-qty, B[part, cust] =
    // ordered centi-qty, C = A·B scores supplier→customer flow through
    // shared parts. The triple-join form IS the scalable SpGEMM: shuffle
    // both matrices on the contraction index k (partkey), multiply
    // co-located cell pairs, then shuffle the products on (i, j) with
    // map-side partial sums — the same two-shuffle dataflow a 1000-
    // executor SUMMA/CombBLAS run uses (block-partitioned there only to
    // amortize per-cell overhead; the key structure is identical).
    // Completes the linear-algebra pair with etl_spread_step's matvec.
    // Output bounded per supplier by the top-5 tail (row_number, ties by
    // cust asc), suppliers < 30 — integer-exact centi²-unit masses.
    "la_spgemm" -> ((s, d) => {
      import s.implicits._
      val qtyC = round(Tables.dec($"l_quantity") * 100).cast("long")
      val a = Tables.lineitem(s, d)
        .select($"l_suppkey", $"l_partkey", qtyC.as("q"))
        .groupBy($"l_suppkey", $"l_partkey").agg(sum($"q").as("a"))
      val b = Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_partkey", qtyC.as("q"))
        .join(Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_partkey".as("p"), $"o_custkey").agg(sum($"q").as("b"))
      val c = a.filter($"l_suppkey" < 30)
        .join(b, a("l_partkey") === b("p"))
        .groupBy($"l_suppkey", $"o_custkey")
        .agg(sum($"a" * $"b").as("mass"))
      val byS = Window.partitionBy($"l_suppkey")
        .orderBy($"mass".desc, $"o_custkey".asc)
      c.withColumn("rn", row_number().over(byS)).filter($"rn" <= 5)
        .select($"l_suppkey", $"rn".cast("long").as("rn"), $"o_custkey", $"mass")
        .orderBy("l_suppkey", "rn")
    }),

    // KLL quantile sketch, driver-graded through its guarantee: the
    // estimates themselves are ε-approximate (not oracle-hashable, same
    // policy as HLL), but the worst-case rank bound |rank(v̂_q) − q·n| ≤
    // H·n/(2k) + 2^(H−1) is a THEOREM, so the query emits whether the
    // bound holds — computed with interval ranks (count(<v), count(≤v))
    // so duplicate runs can't fake an error — and the oracle asserts the
    // flags are identically 1 plus the exact group sizes. One pass builds
    // the sketch (map-side partials, one ~k·H-item state per group over
    // the shuffle), a second pass ranks the returned values; the check
    // costs 2 scans but the OPERATOR is the one-pass mergeable form a
    // 100 TB cluster needs where exact quantiles would full-sort per group.
    "agg_quantile_sketch_rank" -> ((s, d) => {
      import s.implicits._
      import graft.plans.QuantileSketchAgg.quantileSketch
      val base = Tables.lineitem(s, d)
        .select($"l_returnflag".as("g"), Tables.e6($"l_extendedprice").as("x"))
      val sk = base.groupBy("g")
        .agg(quantileSketch($"x", 512, Seq(0.5, 0.99)).as("qs"),
          count(lit(1)).as("n"))
        .select($"g", $"n",
          element_at($"qs", 1).as("p50"), element_at($"qs", 2).as("p99"))
      base.join(broadcast(sk), "g")
        .groupBy($"g")
        .agg(max($"n").as("n"),
          sum(when($"x" < $"p50", 1L).otherwise(0L)).as("r50_lt"),
          sum(when($"x" <= $"p50", 1L).otherwise(0L)).as("r50_le"),
          sum(when($"x" < $"p99", 1L).otherwise(0L)).as("r99_lt"),
          sum(when($"x" <= $"p99", 1L).otherwise(0L)).as("r99_le"))
        .select($"g", $"n",
          // H recomputed from n (levels ≈ log2(n/k) + 2; k = 512), bound
          // doubled for slack — still ~2% of a group, a real gate.
          expr("""CASE WHEN
                 |  r50_lt - (2 * (greatest(floor(log2(greatest(n div 512, 1))) + 2, 1) * n div 1024)
                 |            + cast(pow(2, greatest(floor(log2(greatest(n div 512, 1))) + 2, 1)) as bigint))
                 |    <= (n + 1) div 2
                 |  AND (n + 1) div 2
                 |    <= r50_le + (2 * (greatest(floor(log2(greatest(n div 512, 1))) + 2, 1) * n div 1024)
                 |            + cast(pow(2, greatest(floor(log2(greatest(n div 512, 1))) + 2, 1)) as bigint))
                 |THEN 1 ELSE 0 END""".stripMargin.replaceAll("\n", " "))
            .cast("long").as("p50_ok"),
          expr("""CASE WHEN
                 |  r99_lt - (2 * (greatest(floor(log2(greatest(n div 512, 1))) + 2, 1) * n div 1024)
                 |            + cast(pow(2, greatest(floor(log2(greatest(n div 512, 1))) + 2, 1)) as bigint))
                 |    <= (99 * n + 99) div 100
                 |  AND (99 * n + 99) div 100
                 |    <= r99_le + (2 * (greatest(floor(log2(greatest(n div 512, 1))) + 2, 1) * n div 1024)
                 |            + cast(pow(2, greatest(floor(log2(greatest(n div 512, 1))) + 2, 1)) as bigint))
                 |THEN 1 ELSE 0 END""".stripMargin.replaceAll("\n", " "))
            .cast("long").as("p99_ok"))
        .orderBy("g")
    }),

    // Triangle counting over the co-purchase graph (parts appearing in
    // the same order). Edges are ID-oriented (a < b) so every triangle
    // a<b<c materializes exactly once from the wedge join e(a,b)⋈e(b,c)
    // closed by e(a,c) — the node-iterator shape. Per-vertex counts come
    // from exploding each triangle's three corners. At 100 TB the
    // refinement is degree orientation (orient edges low→high degree,
    // bounding wedge fan-out by the arboricity instead of the max ID
    // span) plus AQE skew-split on hub vertices; the join structure is
    // unchanged. The partkey cap bounds the graded slice.
    "graph_triangle_count" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
        .filter($"l_partkey" < 500)
        .select($"l_orderkey", $"l_partkey").distinct()
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .distinct()
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
      tri.select(explode(array($"a", $"b", $"c")).as("part"))
        .groupBy($"part")
        .agg(count(lit(1)).as("n_tri"))
        .orderBy($"n_tri".desc, $"part".asc)
        .limit(20)
    })
  )

  val oracleSql: Map[String, String] = Map(
    // The approximate values can't hash-match an exact engine; the PROOF
    // OBLIGATION can: Spark emits whether the sketch's rank-error theorem
    // held (computed against exact interval ranks in the same plan), and
    // the oracle pins the flags to 1 alongside the exact group sizes.
    "agg_quantile_sketch_rank" ->
      """SELECT l_returnflag AS g, count(*) AS n,
        |  CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p99_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY g""".stripMargin,
    "win_cohort_retention" ->
      """WITH w AS (
        |  SELECT o_custkey AS c,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7 AS wk
        |  FROM orders),
        |m AS (SELECT c, wk, min(wk) OVER (PARTITION BY c) AS wk0 FROM w)
        |SELECT wk0 AS cohort_week, wk - wk0 AS week_offset,
        |  count(DISTINCT c) AS n_users
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "agg_percentile_disc" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(round(CAST(l_quantity AS DECIMAL(18,6)) * 100) AS BIGINT) AS qty_c
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, qty_c,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY qty_c) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM b)
        |SELECT l_returnflag, max(n) AS n,
        |  max(CASE WHEN rn = (n * 50 + 99) // 100 THEN qty_c END) AS p50_c,
        |  max(CASE WHEN rn = (n * 90 + 99) // 100 THEN qty_c END) AS p90_c,
        |  max(CASE WHEN rn = (n * 99 + 99) // 100 THEN qty_c END) AS p99_c
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_corr_r2" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(round(CAST(l_quantity AS DECIMAL(18,6))) AS BIGINT) AS x,
        |    CAST(round(CAST(l_extendedprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      // 10000 AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM b GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CAST(CAST((CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT) -
        |             CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)) *
        |            (CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT) -
        |             CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)) //
        |            (CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT) -
        |             CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)) AS HUGEINT)
        |       * 1000000 //
        |       (CAST(n AS HUGEINT) * CAST(syy AS HUGEINT) -
        |        CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT))
        |    AS BIGINT) AS r2_e6
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "agg_percentile_cont" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(round(CAST(l_quantity AS DECIMAL(18,6)) * 100) AS BIGINT) AS qty_c
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, qty_c,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY qty_c) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM b),
        |a AS (
        |  SELECT l_returnflag, max(n) AS n,
        |    max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN qty_c END) AS v_lo,
        |    max(CASE WHEN rn = least((n - 1) * 50 // 100 + 2, n) THEN qty_c END) AS v_hi,
        |    max((n - 1) * 50 % 100) AS frac
        |  FROM r GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  v_lo * 1000000 + (v_hi - v_lo) * 1000000 * frac // 100 AS p50_cont_e6
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "agg_gini" ->
      """WITH j AS (
        |  SELECT c_mktsegment,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT) AS x,
        |    o_custkey
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT c_mktsegment, x,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY x, o_custkey) AS i
        |  FROM j),
        |a AS (
        |  SELECT c_mktsegment, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    sum(i * x) AS six
        |  FROM r GROUP BY c_mktsegment)
        |SELECT c_mktsegment, n,
        |  CAST((2 * six - (CAST(n AS HUGEINT) + 1) * sx) * 1000000 //
        |       (CAST(n AS HUGEINT) * CAST(sx AS HUGEINT)) AS BIGINT) AS gini_e6
        |FROM a ORDER BY c_mktsegment""".stripMargin,
    "agg_linreg" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(round(CAST(l_quantity AS DECIMAL(18,6))) AS BIGINT) AS x,
        |    CAST(round(CAST(l_extendedprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      // 10000 AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM b GROUP BY l_returnflag),
        |sl AS (
        |  SELECT *, CAST((CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT) -
        |                  CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)) * 1000000 //
        |    (CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT) -
        |     CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)) AS BIGINT) AS slope_e6
        |  FROM a)
        |SELECT l_returnflag, n, slope_e6,
        |  CAST((CAST(sy AS HUGEINT) * 1000000 -
        |        CAST(slope_e6 AS HUGEINT) * CAST(sx AS HUGEINT)) // n
        |    AS BIGINT) AS icept_e6
        |FROM sl ORDER BY l_returnflag""".stripMargin,
    "win_rolling_corr" ->
      """WITH b AS (
        |  SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber,
        |    CAST(round(CAST(l_quantity AS DECIMAL(18,6))) AS BIGINT) AS x,
        |    CAST(round(CAST(l_extendedprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      // 10000 AS y
        |  FROM lineitem WHERE l_orderkey < 2000),
        |r AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    row_number() OVER w AS rn,
        |    count(*) OVER f AS n,
        |    CAST(sum(x) OVER f AS BIGINT) AS sx,
        |    CAST(sum(y) OVER f AS BIGINT) AS sy,
        |    CAST(sum(x * x) OVER f AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER f AS BIGINT) AS syy,
        |    CAST(sum(x * y) OVER f AS BIGINT) AS sxy
        |  FROM b
        |  WINDOW
        |    w AS (PARTITION BY l_returnflag
        |          ORDER BY l_shipdate, l_orderkey, l_linenumber, x, y),
        |    f AS (PARTITION BY l_returnflag
        |          ORDER BY l_shipdate, l_orderkey, l_linenumber, x, y
        |          ROWS BETWEEN 30 PRECEDING AND CURRENT ROW))
        |SELECT l_returnflag, l_orderkey, l_linenumber,
        |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) >= 1000000
        |  THEN (n * sxy - sx * sy) * (n * sxy - sx * sy) //
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy) // 1000000)
        |  ELSE -1 END AS r2_e6
        |FROM r WHERE rn >= 31
        |ORDER BY l_returnflag, l_orderkey, l_linenumber, r2_e6""".stripMargin,
    "graph_pagerank" ->
      """WITH e1 AS (
        |  SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
        |  FROM lineitem),
        |edges AS (SELECT u, v FROM e1 UNION ALL SELECT v AS u, u AS v FROM e1),
        |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
        |r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS pr, deg FROM deg),
        |r1 AS (
        |  SELECT d.u, CAST(150000 + (850000 * sum(r.pr // r.deg)) // 1000000
        |    AS BIGINT) AS pr, d.deg
        |  FROM edges e JOIN r0 r ON e.u = r.u JOIN deg d ON d.u = e.v
        |  GROUP BY d.u, d.deg),
        |r2 AS (
        |  SELECT d.u, CAST(150000 + (850000 * sum(r.pr // r.deg)) // 1000000
        |    AS BIGINT) AS pr, d.deg
        |  FROM edges e JOIN r1 r ON e.u = r.u JOIN deg d ON d.u = e.v
        |  GROUP BY d.u, d.deg)
        |SELECT u AS node, pr AS rank_e6, deg FROM r2
        |ORDER BY rank_e6 DESC, node ASC LIMIT 100""".stripMargin,
    "agg_hhi" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, o_custkey,
        |    CAST(SUM(CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, o_custkey),
        |m AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_cust,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM spend GROUP BY c_mktsegment)
        |SELECT c_mktsegment, n_cust,
        |  CAST(CAST(sxx AS HUGEINT) * 1000000 //
        |       (CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)) AS BIGINT) AS hhi_e6
        |FROM m ORDER BY c_mktsegment""".stripMargin,
    "agg_skyline_pareto" ->
      """WITH j AS (
        |  SELECT c_mktsegment, o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT) AS price_c,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS day
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |w AS (
        |  SELECT *, MAX(day) OVER (PARTITION BY c_mktsegment ORDER BY price_c DESC
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_day_pricier
        |  FROM j)
        |SELECT c_mktsegment, o_orderkey, price_c, day
        |FROM w WHERE best_day_pricier IS NULL OR day > best_day_pricier
        |ORDER BY c_mktsegment, price_c DESC, o_orderkey""".stripMargin,
    "sketch_bottomk_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT o_orderpriority,
        |    CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, h,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY h ASC) AS rn
        |  FROM h),
        |a AS (
        |  SELECT o_orderpriority, COUNT(*) AS n_exact,
        |    MAX(CASE WHEN rn = 8 THEN h END) AS h8
        |  FROM r GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n_exact, h8,
        |  CASE WHEN n_exact >= 8 AND h8 > 0 THEN 7 * 1152921504606846976 // h8
        |       ELSE n_exact END AS est_distinct
        |FROM a ORDER BY o_orderpriority""".stripMargin,
    // Rebuilds the 4×256 CMS relationally: per-key counts once, then the
    // 4 hash rows are the 4 disjoint 8-hex-char slices of the SAME md5
    // the Spark aggregate slices; cell mass = SUM of key counts landing
    // in the cell (R9b: SUM → CAST BIGINT). est = MIN over the key's 4
    // cells — identical matrix, identical estimates.
    "sketch_cms_freq" ->
      """WITH keys AS (
        |  SELECT l_partkey, md5('cms:' || CAST(l_partkey AS VARCHAR)) AS hx,
        |    COUNT(*) AS n_exact
        |  FROM lineitem GROUP BY 1),
        |js AS (SELECT unnest(range(4)) AS j),
        |cells AS (
        |  SELECT j,
        |    CAST(('0x' || substring(hx, 1 + 8*j, 8)) AS BIGINT) % 256 AS cell,
        |    CAST(SUM(n_exact) AS BIGINT) AS cnt
        |  FROM keys, js GROUP BY 1, 2),
        |probes AS (
        |  SELECT l_partkey, hx, n_exact FROM keys
        |  ORDER BY n_exact DESC, l_partkey LIMIT 20)
        |SELECT p.l_partkey, p.n_exact, CAST(MIN(c.cnt) AS BIGINT) AS n_cms
        |FROM probes p, js, cells c
        |WHERE c.j = js.j
        |  AND c.cell =
        |    CAST(('0x' || substring(p.hx, 1 + 8*js.j, 8)) AS BIGINT) % 256
        |GROUP BY 1, 2
        |ORDER BY n_exact DESC, l_partkey""".stripMargin,
    // Same stepwise HUGEINT arithmetic, same division order; margins via
    // window sums over the 25-cell table. R9b casts at every output.
    "agg_chi2_contingency" ->
      """WITH j AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS pri
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT seg, pri, COUNT(*) AS o FROM j GROUP BY 1, 2),
        |t AS (
        |  SELECT seg, pri, o,
        |    CAST(SUM(o) OVER (PARTITION BY seg) AS HUGEINT) AS r,
        |    CAST(SUM(o) OVER (PARTITION BY pri) AS HUGEINT) AS c,
        |    CAST(SUM(o) OVER () AS HUGEINT) AS n
        |  FROM cells),
        |terms AS (
        |  SELECT seg, pri, o,
        |    CAST(r * c * 1000000 // n AS BIGINT) AS exp_e6,
        |    CAST((o*n - r*c) * (o*n - r*c) * 1000000 // (r*c) // n
        |      AS BIGINT) AS term_e6
        |  FROM t)
        |SELECT seg, pri, o, exp_e6, term_e6,
        |  CAST(SUM(term_e6) OVER () AS BIGINT) AS chi2_e6
        |FROM terms ORDER BY seg, pri""".stripMargin,
    // R9b: the window SUM is HUGEINT in DuckDB — CAST before output.
    "agg_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events),
        |t AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |  FROM e WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY prev_type)
        |    AS BIGINT) AS p_e6
        |FROM t ORDER BY prev_type, next_type""".stripMargin,
    "agg_event_paths" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE user_id < 300)
        |SELECT user_id, COUNT(*) AS n_events,
        |  string_agg(CASE WHEN rn <= 8 THEN event_type END, '>'
        |    ORDER BY ts_us, event_id) AS path8,
        |  CAST(MAX(CASE WHEN rn <= 8 AND event_type = 'purchase'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS early_purchase
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "sketch_bottomk_intersect" ->
      """WITH ab AS (
        |  SELECT DISTINCT
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS grp,
        |    CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 14))
        |      AS BIGINT) AS h
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
        |sk AS (
        |  SELECT grp, h FROM (
        |    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |    FROM ab)
        |  WHERE rn <= 16),
        |u AS (
        |  SELECT h FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT h FROM sk))
        |  WHERE rn <= 16),
        |stats AS (
        |  SELECT COUNT(*) AS k_u, MAX(u.h) AS hk,
        |    CAST(SUM(CASE WHEN a.ha IS NOT NULL AND b.hb IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS rho
        |  FROM u
        |  LEFT JOIN (SELECT h AS ha FROM sk WHERE grp = 'a') a ON u.h = a.ha
        |  LEFT JOIN (SELECT h AS hb FROM sk WHERE grp = 'b') b ON u.h = b.hb),
        |flags AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS ia,
        |    MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS ib
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  GROUP BY 1),
        |ex AS (
        |  SELECT COUNT(*) AS n_union_exact,
        |    CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_intersect_exact
        |  FROM flags)
        |SELECT n_union_exact, n_intersect_exact,
        |  CAST(CASE WHEN k_u >= 16 AND hk > 0
        |       THEN 15 * 72057594037927936 // hk
        |       ELSE n_union_exact END AS BIGINT) AS est_union,
        |  CAST(CASE WHEN k_u >= 16 AND hk > 0
        |       THEN rho * (15 * 72057594037927936 // hk) // 16
        |       ELSE n_intersect_exact END AS BIGINT) AS est_intersect
        |FROM ex, stats""".stripMargin,
    "la_spgemm" ->
      """WITH a AS (
        |  SELECT l_suppkey, l_partkey,
        |    SUM(CAST(round(CAST(l_quantity AS DECIMAL(18,6)) * 100) AS BIGINT)) AS a
        |  FROM lineitem GROUP BY 1, 2),
        |b AS (
        |  SELECT l_partkey AS p, o_custkey,
        |    SUM(CAST(round(CAST(l_quantity AS DECIMAL(18,6)) * 100) AS BIGINT)) AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT a.l_suppkey, b.o_custkey, CAST(SUM(a.a * b.b) AS BIGINT) AS mass
        |  FROM a JOIN b ON a.l_partkey = b.p
        |  WHERE a.l_suppkey < 30
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT l_suppkey, o_custkey, mass, row_number() OVER (
        |    PARTITION BY l_suppkey ORDER BY mass DESC, o_custkey ASC) AS rn
        |  FROM c)
        |SELECT l_suppkey, CAST(rn AS BIGINT) AS rn, o_custkey, mass
        |FROM r WHERE rn <= 5
        |ORDER BY l_suppkey, rn""".stripMargin,
    "graph_triangle_count" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 500),
        |e AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM li x JOIN li y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |v AS (
        |  SELECT a AS part FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT part, COUNT(*) AS n_tri FROM v GROUP BY part
        |ORDER BY n_tri DESC, part ASC LIMIT 20""".stripMargin
  )
}
