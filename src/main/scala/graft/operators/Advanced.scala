package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** Advanced SQL surface: recursive CTEs (new in Spark 4), sliding ROWS
  * frames, higher-order array functions, ordered string aggregation. */
object Advanced extends QueryModule {

  val queries: Map[String, Q] = Map(
    // Recursive CTE: derive a 100-day calendar dimension and left-join
    // order counts onto it (the date-spine pattern).
    "sql_recursive_cte" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_rc")
      s.sql(
        """WITH RECURSIVE spine(n) AS (
          |  SELECT 0 UNION ALL SELECT n + 1 FROM spine WHERE n < 99
          |)
          |SELECT CAST(date_add(DATE '1995-01-01', n) AS STRING) AS dt,
          |       COUNT(o_orderkey) AS n_orders
          |FROM spine LEFT JOIN graft_orders_rc
          |  ON CAST(o_orderdate AS DATE) = date_add(DATE '1995-01-01', n)
          |GROUP BY n ORDER BY dt""".stripMargin)
    }),

    // TRUE recursion (not an unrolled union): bounded-depth reachability
    // over the co-purchase graph via Spark 4's native WITH RECURSIVE —
    // min hop distance and path multiplicity from a seed part, ≤3 hops.
    // Each recursive step is one equi-join + the fixpoint machinery; the
    // engine's unrolled forms (sql_recursive_cte, graph_pagerank) remain
    // the right shape when depth is known, this is the surface for when
    // it isn't. DuckDB runs the identical recursive SQL.
    "sql_recursive_native" -> ((s, d) => {
      import s.implicits._
      // The static edge set sits inside the recursive member, so the
      // fixpoint machinery would recompute the self-join every step —
      // materialize it once (same localCheckpoint pattern as the
      // clustering queries) and recurse over the computed RDD.
      val li = Tables.lineitem(s, d)
        .filter($"l_partkey" < 300)
        .select($"l_orderkey", $"l_partkey")
      li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .distinct()
        .localCheckpoint()
        .createOrReplaceTempView("graft_rec_edges")
      s.sql(
        """WITH RECURSIVE reach(part, dist) AS (
          |  SELECT CAST(7 AS BIGINT) AS part, 0 AS dist
          |  UNION ALL
          |  SELECT e.b, r.dist + 1
          |  FROM reach r JOIN graft_rec_edges e ON e.a = r.part
          |  WHERE r.dist < 3
          |)
          |SELECT part, CAST(MIN(dist) AS BIGINT) AS min_dist,
          |       COUNT(*) AS n_paths
          |FROM reach GROUP BY part ORDER BY part""".stripMargin)
    }),

    // Sliding ROWS frame: centered 7-row decimal sum per customer.
    "win_rows_sliding" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey")
        .orderBy($"o_orderkey".asc)
        .rowsBetween(-3, 3)
      Tables.orders(s, d)
        .select($"o_custkey", $"o_orderkey",
          Tables.e6(sum(Tables.dec($"o_totalprice")).over(w)
            .cast("decimal(18,6)")).as("win7_sum_e6"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Higher-order array functions over tokenized part names.
    "fn_higher_order" -> ((s, d) => {
      import s.implicits._
      Tables.part(s, d)
        .select($"p_partkey", split($"p_name", " ").as("t"))
        .select($"p_partkey",
          size($"t").as("n_tok"),
          size(filter($"t", x => length(x) > 4)).as("n_long"),
          array_max(transform($"t", x => length(x))).as("max_len"),
          (size(filter($"t", x => length(x) === 3)) > 0).as("has_len3"),
          forall($"t", x => length(x) >= 2).as("all_ge2"))
        .orderBy("p_partkey")
    }),

    // Unpivot/melt: wide seat-class-style columns → long (col, value) rows.
    "fn_unpivot" -> ((s, d) => {
      import s.implicits._
      // DECIMAL(28,6), not (18,6): only 3 groups (returnflag), so the price
      // sum crosses 1e12 at sf10 — (28,6) holds to ~sf10^11; the ×1e6 BIGINT
      // output boundary (~9.2e18) then binds first, at ~sf80.
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(
          sum(Tables.dec($"l_quantity")).cast("decimal(28,6)").as("qty"),
          sum(Tables.dec($"l_extendedprice")).cast("decimal(28,6)").as("price"),
          sum(Tables.dec($"l_tax")).cast("decimal(28,6)").as("tax"))
        .unpivot(Array($"l_returnflag"), Array($"qty", $"price", $"tax"),
          "measure", "total")
        .select($"l_returnflag", $"measure",
          Tables.e6($"total").as("total_e6"))
        .orderBy("l_returnflag", "measure")
    }),

    // LATERAL correlated subquery: per region, its top customer by acctbal.
    "sub_lateral" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_customer_lat")
      Tables.nation(s, d).createOrReplaceTempView("graft_nation_lat")
      s.sql(
        """SELECT n.n_name, t.c_custkey, t.bal_e6
          |FROM graft_nation_lat n,
          |LATERAL (
          |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS bal_e6
          |  FROM graft_customer_lat
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 1
          |) t
          |ORDER BY n_name""".stripMargin)
    }),

    // nth_value over an explicit full frame (2nd/3rd richest per nation).
    "win_nth_value" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"c_nationkey")
        .orderBy($"c_acctbal".desc, $"c_custkey".asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.customer(s, d)
        .select($"c_nationkey", $"c_custkey",
          nth_value($"c_custkey", 2).over(w).as("second_cust"),
          nth_value($"c_custkey", 3).over(w).as("third_cust"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // Bitwise operator matrix (pure integer, engine-agnostic).
    "fn_bitwise" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber",
          ($"l_orderkey".bitwiseAND(255)).as("and255"),
          ($"l_orderkey".bitwiseOR(16)).as("or16"),
          ($"l_orderkey".bitwiseXOR($"l_linenumber")).as("xor_ln"),
          shiftleft($"l_linenumber", 4).as("shl4"),
          shiftright($"l_orderkey", 3).as("shr3"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Boolean aggregates per group.
    "agg_bool_logic" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_orderpriority")
        .agg(
          bool_and($"o_totalprice" > 1000.0).as("all_over_1k"),
          bool_or($"o_orderstatus" === "P").as("any_pending"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // arg-max/min: value of one column at another's extremum (unique key
    // as the ordering argument -> deterministic).
    "agg_arg_max" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(
          max_by($"o_orderpriority", $"o_orderkey").as("latest_prio"),
          min_by($"o_orderpriority", $"o_orderkey").as("first_prio"),
          max($"o_orderkey").as("max_key"))
        .orderBy("o_custkey")
    }),

    // C-style formatting + string builders (format_string ↔ printf).
    "fn_format" -> ((s, d) => {
      import s.implicits._
      Tables.nation(s, d)
        .select($"n_nationkey",
          format_string("N%03d|%s", $"n_nationkey", $"n_name").as("tag"),
          concat_ws("-", $"n_name", $"n_regionkey").as("joined"),
          expr("repeat('*', n_regionkey + 1)").as("stars"),
          reverse($"n_name").as("rev"))
        .orderBy("n_nationkey")
    }),

    // Cryptographic fingerprints (md5 + sha256 hex, identical both engines).
    "fn_hash_sha" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 100)
        .select($"doc_id",
          md5($"text".cast("binary")).as("h_md5"),
          sha2($"text".cast("binary"), 256).as("h_sha256"))
        .orderBy("doc_id")
    }),

    // Batch gaps-and-islands sessionization (the manual-window dual of the
    // streaming session_window operator I3 — same 30min-gap semantics).
    // Funnel analysis: which users completed view -> click -> purchase in
    // timestamp order, and the stage timestamps. One conditional-min
    // hash-agg per user (no join per stage — the single-pass funnel) +
    // ordering predicate. Emits one row per user with the per-stage first
    // µs and the funnel depth reached (0-3, stages in order).
    "win_funnel_stages" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .groupBy($"user_id")
        .agg(
          min(when($"event_type" === "view", $"ts_us")).as("first_view_us"),
          min(when($"event_type" === "click", $"ts_us")).as("first_click_us"),
          min(when($"event_type" === "purchase", $"ts_us")).as("first_purchase_us"))
        .withColumn("funnel_depth",
          when($"first_view_us".isNull, 0)
            .when($"first_click_us".isNull || $"first_click_us" <= $"first_view_us", 1)
            .when($"first_purchase_us".isNull || $"first_purchase_us" <= $"first_click_us", 2)
            .otherwise(3))
        .orderBy("user_id")
    }),

    // Bigram language-model statistics: count(w1 w2) and the conditional
    // probability p(w2|w1) as an exact integer micro-ratio. Adjacent-token
    // pairing is a zip of the token array with its tail (map-side), then
    // two hash-aggs — the n-gram-count shape of corpus LM preprocessing.
    // Collocation mining by integer lift: lift(w1,w2) = P(w1w2) /
    // (P(w1)·P(w2)) = N·c12 / (c1·c2), micro-scaled — the PMI family
    // without the log, so it stays exact integer cross-engine. Three
    // hash-aggs over the exploded bigrams + two joins on the word key;
    // the c12 ≥ 5 support floor is the frequent-itemset prune that keeps
    // the candidate set sparse at corpus scale (broadcastable unigram
    // tables: vocabulary ≪ corpus).
    "text_collocation_lift" -> ((s, d) => {
      import s.implicits._
      val bi = Tables.documents(s, d)
        .filter($"doc_id" < 100)
        .select(split($"text", " ").as("t"))
        .filter(size($"t") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
          .as("b"))
        .select($"b.w1", $"b.w2")
      val n = bi.groupBy().agg(count(lit(1)).as("n_total"))
      val c12 = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
        .filter($"c12" >= 5)
      val c1 = bi.groupBy($"w1").agg(count(lit(1)).as("c1"))
      val c2 = bi.groupBy($"w2").agg(count(lit(1)).as("c2"))
      c12.join(c1, "w1").join(c2, "w2").crossJoin(broadcast(n))
        .select($"w1", $"w2", $"c12",
          expr("(n_total * c12 * 1000000) div (c1 * c2)").as("lift_e6"))
        .orderBy($"lift_e6".desc, $"w1".asc, $"w2".asc)
        .limit(100)
    }),

    "text_bigram_lm" -> ((s, d) => {
      import s.implicits._
      val bi = Tables.documents(s, d)
        .filter($"doc_id" < 100)
        .select(split($"text", " ").as("t"))
        .filter(size($"t") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
          .as("b"))
        .select($"b.w1", $"b.w2")
      val c12 = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      val c1 = bi.groupBy($"w1").agg(count(lit(1)).as("c1"))
      c12.join(c1, "w1")
        .select($"w1", $"w2", $"c12", $"c1",
          expr("(c12 * 1000000) div c1").as("p_e6"))
        .filter($"c12" >= 5)
        .orderBy("w1", "w2")
    }),

    "win_gaps_islands" -> ((s, d) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
      val cum = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .withColumn("brk",
          when($"ts_us" - lag($"ts_us", 1).over(byUser) >= 1800000000L, 1).otherwise(0))
        .withColumn("sid", sum($"brk").over(cum))
        .groupBy($"user_id", $"sid")
        .agg(min($"ts_us").as("session_start_us"), count(lit(1)).as("n"),
          (max($"ts_us") - min($"ts_us")).as("span_us"))
        .select($"user_id", $"session_start_us", $"n", $"span_us")
        .orderBy("user_id", "session_start_us")
    }),

    // Edit distance (classic text-analysis primitive, exact integer).
    // Per-user session rollup — the product-analytics summary built ON TOP
    // of gaps-and-islands sessionization (same 30-min break rule as
    // win_gaps_islands): session count, event volume, bounce sessions
    // (single-event), longest span, mean span (truncating). Both
    // aggregations ride the ONE user_id sort shuffle the sessionization
    // already pays — the rollup itself is map-side-combinable.
    "win_session_rollup" -> ((s, d) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
      val cum = byUser
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .withColumn("brk",
          when($"ts_us" - lag($"ts_us", 1).over(byUser) >= 1800000000L, 1).otherwise(0))
        .withColumn("sid", sum($"brk").over(cum))
        .groupBy($"user_id", $"sid")
        .agg(count(lit(1)).as("n"), (max($"ts_us") - min($"ts_us")).as("span_us"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum($"n").as("n_events"),
          sum(when($"n" === 1, 1L).otherwise(0L)).as("n_bounce"),
          max($"span_us").as("max_span_us"),
          sum($"span_us").as("sum_span_us"))
        .withColumn("mean_span_us", expr("sum_span_us div n_sessions"))
        .drop("sum_span_us")
        .orderBy("user_id")
    }),

    "fn_levenshtein" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 100)
        .select($"doc_id",
          levenshtein(substring($"text", 1, 20), lit("the quick brown fox")).as("lev_const"),
          levenshtein(element_at(split($"text", " "), 1),
            element_at(split($"text", " "), 2)).as("lev_tok12"))
        .orderBy("doc_id")
    }),

    // Ordered string aggregation (deterministic listagg).
    "fn_string_agg" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .groupBy($"c_nationkey")
        .agg(
          concat_ws(",", array_sort(collect_set($"c_mktsegment"))).as("segments"),
          count(lit(1)).as("n_cust"))
        .orderBy("c_nationkey")
    }),

    // Longest consecutive-day activity streak per user — the day-grain
    // gaps-and-islands dual (win_gaps_islands sessionizes by time GAP;
    // this one by calendar-day adjacency): distinct active days, then
    // day − row_number is constant exactly within a consecutive run.
    // Two hash-aggs + one rank window; the distinct collapses the
    // per-event fan-in first, so the window sorts days, not events.
    "win_streak_longest" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"day".asc)
      Tables.events(s, d)
        .select($"user_id", expr("(ts div 1000) div 86400000000").as("day"))
        .distinct()
        .withColumn("grp", $"day" - row_number().over(w))
        .groupBy($"user_id", $"grp")
        .agg(count(lit(1)).as("len"))
        .groupBy($"user_id")
        .agg(max($"len").as("longest_streak"), sum($"len").as("n_active_days"))
        .orderBy("user_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "sql_recursive_cte" ->
      """WITH RECURSIVE spine(n) AS (
        |  SELECT 0 UNION ALL SELECT n + 1 FROM spine WHERE n < 99
        |)
        |SELECT CAST(DATE '1995-01-01' + n AS VARCHAR) AS dt,
        |       COUNT(o_orderkey) AS n_orders
        |FROM spine LEFT JOIN orders
        |  ON CAST(o_orderdate AS DATE) = DATE '1995-01-01' + n
        |GROUP BY n ORDER BY dt""".stripMargin,
    "win_rows_sliding" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey ASC
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS win7_sum_e6
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "fn_higher_order" ->
      """SELECT p_partkey,
        |  CAST(len(string_split(p_name, ' ')) AS INT) AS n_tok,
        |  CAST(len(list_filter(string_split(p_name, ' '), x -> length(x) > 4)) AS INT) AS n_long,
        |  CAST(list_max(list_transform(string_split(p_name, ' '), x -> length(x))) AS INT) AS max_len,
        |  len(list_filter(string_split(p_name, ' '), x -> length(x) = 3)) > 0 AS has_len3,
        |  len(list_filter(string_split(p_name, ' '), x -> length(x) >= 2))
        |    = len(string_split(p_name, ' ')) AS all_ge2
        |FROM part ORDER BY p_partkey""".stripMargin,
    "fn_unpivot" ->
      """SELECT l_returnflag, measure, CAST(CAST(total AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total_e6 FROM (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS price,
        |    CAST(SUM(CAST(l_tax AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS tax
        |  FROM lineitem GROUP BY l_returnflag)
        |UNPIVOT (total FOR measure IN (qty, price, tax))
        |ORDER BY l_returnflag, measure""".stripMargin,
    "sub_lateral" ->
      """SELECT n.n_name, t.c_custkey, t.bal_e6
        |FROM nation n,
        |LATERAL (
        |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS bal_e6
        |  FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 1
        |) t
        |ORDER BY n_name""".stripMargin,
    "win_nth_value" ->
      """SELECT c_nationkey, c_custkey,
        |  nth_value(c_custkey, 2) OVER w AS second_cust,
        |  nth_value(c_custkey, 3) OVER w AS third_cust
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,
    "fn_bitwise" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS and255,
        |  l_orderkey | 16 AS or16,
        |  xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS xor_ln,
        |  CAST(l_linenumber AS BIGINT) << 4 AS shl4,
        |  l_orderkey >> 3 AS shr3
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "agg_bool_logic" ->
      """SELECT o_orderpriority,
        |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |  bool_or(o_orderstatus = 'P') AS any_pending,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_arg_max" ->
      """SELECT o_custkey,
        |  arg_max(o_orderpriority, o_orderkey) AS latest_prio,
        |  arg_min(o_orderpriority, o_orderkey) AS first_prio,
        |  MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "fn_format" ->
      """SELECT n_nationkey,
        |  printf('N%03d|%s', n_nationkey, n_name) AS tag,
        |  concat_ws('-', n_name, CAST(n_regionkey AS VARCHAR)) AS joined,
        |  repeat('*', n_regionkey + 1) AS stars,
        |  reverse(n_name) AS rev
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "fn_hash_sha" ->
      """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "win_funnel_stages" ->
      """SELECT user_id,
        |  MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view_us,
        |  MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click_us,
        |  MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us,
        |  CASE
        |    WHEN MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) IS NULL THEN 0
        |    WHEN MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) IS NULL
        |      OR MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |         <= MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) THEN 1
        |    WHEN MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) IS NULL
        |      OR MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |         <= MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) THEN 2
        |    ELSE 3 END AS funnel_depth
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "text_collocation_lift" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE doc_id < 100 AND len(string_split(text, ' ')) >= 2),
        |ti AS (SELECT t, generate_subscripts(t, 1) AS j FROM t),
        |bi AS (SELECT t[j] AS w1, t[j+1] AS w2 FROM ti WHERE j <= len(t) - 1),
        |n AS (SELECT COUNT(*) AS n_total FROM bi),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
        |        HAVING COUNT(*) >= 5),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
        |c2 AS (SELECT w2, COUNT(*) AS c2 FROM bi GROUP BY w2)
        |SELECT w1, w2, c12,
        |  (n_total * c12 * 1000000) // (c1 * c2) AS lift_e6
        |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
        |ORDER BY lift_e6 DESC, w1 ASC, w2 ASC LIMIT 100""".stripMargin,
    "text_bigram_lm" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE doc_id < 100 AND len(string_split(text, ' ')) >= 2),
        |ti AS (SELECT t, generate_subscripts(t, 1) AS j FROM t),
        |bi AS (SELECT t[j] AS w1, t[j+1] AS w2 FROM ti WHERE j <= len(t) - 1),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1)
        |SELECT c12.w1, c12.w2, c12.c12, c1.c1,
        |  (c12.c12 * 1000000) // c1.c1 AS p_e6
        |FROM c12 JOIN c1 USING (w1)
        |WHERE c12.c12 >= 5
        |ORDER BY w1, w2""".stripMargin,
    "win_gaps_islands" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
        |o AS (SELECT user_id, event_id, tu,
        |  CASE WHEN tu - lag(tu) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu ASC, event_id ASC)),
        |g AS (SELECT user_id, tu,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY tu ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, MIN(tu) AS session_start_us, COUNT(*) AS n,
        |  MAX(tu) - MIN(tu) AS span_us
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    "sql_recursive_native" ->
      """WITH RECURSIVE reach(part, dist) AS (
        |  SELECT CAST(7 AS BIGINT) AS part, 0 AS dist
        |  UNION ALL
        |  SELECT e.b, r.dist + 1
        |  FROM reach r JOIN (
        |    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |    FROM lineitem x JOIN lineitem y
        |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |    WHERE x.l_partkey < 300 AND y.l_partkey < 300
        |  ) e ON e.a = r.part
        |  WHERE r.dist < 3
        |)
        |SELECT part, CAST(MIN(dist) AS BIGINT) AS min_dist,
        |       COUNT(*) AS n_paths
        |FROM reach GROUP BY part ORDER BY part""".stripMargin,
    "win_session_rollup" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
        |o AS (SELECT user_id, event_id, tu,
        |  CASE WHEN tu - lag(tu) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu ASC, event_id ASC)),
        |s AS (SELECT user_id, tu, event_id,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY tu ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o),
        |g AS (
        |  SELECT user_id, sid, COUNT(*) AS n, MAX(tu) - MIN(tu) AS span_us
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |  MAX(span_us) AS max_span_us,
        |  CAST(SUM(span_us) AS BIGINT) // COUNT(*) AS mean_span_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "fn_levenshtein" ->
      """SELECT doc_id,
        |  CAST(levenshtein(substring(text, 1, 20), 'the quick brown fox') AS INT) AS lev_const,
        |  CAST(levenshtein(string_split(text, ' ')[1], string_split(text, ' ')[2]) AS INT) AS lev_tok12
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "fn_string_agg" ->
      """SELECT c_nationkey,
        |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
        |  COUNT(*) AS n_cust
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "win_streak_longest" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day ASC) AS grp
        |  FROM days),
        |runs AS (
        |  SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY user_id, grp)
        |SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
