package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2-E: window functions.
  *
  * Determinism: rank/dense_rank depend only on the sort-key VALUES (safe
  * under ties); row_number/ntile additionally order by the unique key.
  * percent_rank/cume_dist are emitted as exact integer numerator/denominator
  * pairs (no float division → bit-exact across engines, rule R2).
  * Scale: one shuffle per distinct partitionBy key set; frames evaluate
  * streaming within each sorted partition.
  */
object Windows extends QueryModule {

  val queries: Map[String, Q] = Map(
    // E1: rank / dense_rank (value-determined) + row_number (key-broken).
    "win_rank" -> ((s, d) => {
      import s.implicits._
      val byBal = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc)
      val byBalKey = Window.partitionBy($"c_nationkey")
        .orderBy($"c_acctbal".desc, $"c_custkey".asc)
      Tables.customer(s, d)
        .select($"c_nationkey", $"c_custkey",
          rank().over(byBal).as("rnk"),
          dense_rank().over(byBal).as("drnk"),
          row_number().over(byBalKey).as("rn"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // E2: top-3 customers per nation.
    // Same semantics as win_topk_per_group, executed by the engine's OWN
    // physical operator (plans/TopKPerGroup.scala: custom LogicalPlan →
    // SparkStrategy → two-phase SparkPlan with map-side k-heaps) instead
    // of the window — the oracle hash-match proves the custom operator
    // against an independent engine. No rank column (the operator returns
    // a row set); the unique (acctbal desc, custkey asc) order makes that
    // set deterministic.
    "win_topk_custom" -> ((s, d) => {
      import s.implicits._
      val base = Tables.customer(s, d)
        .select($"c_nationkey", $"c_custkey",
          Tables.e6(Tables.dec($"c_acctbal")).as("acctbal_e6"))
      graft.plans.TopKPerGroup(base, Seq("c_nationkey"),
          Seq(("acctbal_e6", false), ("c_custkey", true)), 3)
        .orderBy($"c_nationkey", $"acctbal_e6".desc, $"c_custkey")
    }),

    "win_topk_per_group" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"c_nationkey")
        .orderBy($"c_acctbal".desc, $"c_custkey".asc)
      Tables.customer(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"c_nationkey", $"rn", $"c_custkey",
          Tables.e6(Tables.dec($"c_acctbal")).as("acctbal_e6"))
        .orderBy("c_nationkey", "rn")
    }),

    // E3: per-user inter-event gap in µs via lag/lead (shared-µs domain).
    "win_lag_lead" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
      Tables.events(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .select($"event_id", $"user_id", $"ts_us",
          ($"ts_us" - lag($"ts_us", 1).over(w)).as("gap_us"),
          (lead($"ts_us", 1).over(w) - $"ts_us").as("next_gap_us"))
        .orderBy("event_id")
    }),

    // E4: running decimal revenue per customer by order date.
    "win_running_sum" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select($"o_custkey", $"o_orderkey",
          Tables.e6(sum(Tables.dec($"o_totalprice")).over(w)
            .cast("decimal(18,6)")).as("running_rev_e6"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // E5: moving 1h event count per user over a BIGINT-µs RANGE frame.
    "win_moving_range" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc)
        .rangeBetween(-3600L * 1000 * 1000, 0)
      Tables.events(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .select($"event_id", $"user_id", $"ts_us",
          count(lit(1)).over(w).as("n_last_hour"))
        .orderBy("event_id")
    }),

    // E6: ntile + percent_rank/cume_dist as exact integer ratios.
    "win_ntile_pct" -> ((s, d) => {
      import s.implicits._
      val byBal = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc)
      val byBalKey = Window.partitionBy($"c_nationkey")
        .orderBy($"c_acctbal".desc, $"c_custkey".asc)
      val tieFrame = byBal.rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val part = Window.partitionBy($"c_nationkey")
      Tables.customer(s, d)
        .select($"c_nationkey", $"c_custkey",
          ntile(4).over(byBalKey).as("quartile"),
          (rank().over(byBal) - 1).as("pr_num"),
          (count(lit(1)).over(part) - 1).cast("int").as("pr_den"),
          count(lit(1)).over(tieFrame).as("cd_num"),
          count(lit(1)).over(part).as("cd_den"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // E7: first/last value with an explicit full frame.
    "win_first_last" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"c_nationkey")
        .orderBy($"c_acctbal".desc, $"c_custkey".asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(s, d)
        .select($"c_nationkey", $"c_custkey",
          first($"c_custkey").over(w).as("richest_cust"),
          last($"c_custkey").over(w).as("poorest_cust"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // Running DISTINCT count per key — "how many distinct event types has
    // this user produced so far". Spark has no DISTINCT window aggregates,
    // so the engine uses size(collect_set(...)) over the running frame
    // (update-only frame → incremental, no per-row recompute); the oracle
    // proves the same semantics via first-occurrence flags + running sum.
    // The (ts_us, event_id) order is total per user, so prefix contents
    // are deterministic. One sort shuffle on user_id; the 50× user sample
    // bounds graded output, the shape is scale-free.
    "win_running_distinct" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts_us".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter($"user_id" % 50 === 0)
        .select($"user_id", Tables.tsUs.as("ts_us"), $"event_id", $"event_type")
        .withColumn("n_types_seen",
          size(collect_set($"event_type").over(w)).cast("long"))
        .select($"user_id", $"ts_us", $"event_id", $"n_types_seen")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Truncated exponential moving average (half-life decay, 8 terms) in
    // exact integers: EMA_t = Σ_{k=0..7} v_{t−k}·2^(7−k) div 255 — the
    // classic α=1/2 EMA cut to a finite window so the weights are exact
    // powers of two and the whole computation stays in int64 (a true
    // recursive EMA is order-recursive and can't be bit-matched across
    // engines; the truncated form loses < 2^-8 of the mass). All eight
    // lag terms share one window pass (same partition/order), emitted
    // only once the frame is full. One sort shuffle on user_id.
    "win_ema_truncated" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
      val num = (1 to 7).foldLeft(
          $"v" * lit(128L): org.apache.spark.sql.Column) { (acc, k) =>
        acc + coalesce(lag($"v", k).over(w), lit(0L)) * lit(1L << (7 - k))
      }
      Tables.events(s, d)
        .filter($"user_id" % 20 === 0)
        .select($"user_id", Tables.tsUs.as("ts_us"), $"event_id",
          round(Tables.dec($"value") * 100).cast("long").as("v"))
        .withColumn("rn", row_number().over(w))
        .withColumn("num", num)
        .filter($"rn" >= 8)
        .select($"user_id", $"ts_us", $"event_id",
          expr("num div 255").as("ema_cents"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Sliding-window MEDIAN (trailing 15 rows) — the robust rolling
    // statistic a mean-based monitor can't give (one outlier wrecks a
    // rolling mean; the median shrugs). The ROWS frame is BOUNDED, so
    // collect_list over the frame is a ≤15-element state per row (legal
    // and cheap — this is NOT the unbounded collect anti-pattern);
    // sort_array + element_at((n+1) div 2) picks the discrete lower
    // median, deterministic because equal ranks hold equal values. The
    // oracle can't sort an array per frame, so it rebuilds each frame as
    // a bounded self-join (rn BETWEEN rn-14 AND rn) and rank-selects the
    // same position — a cross-FORM equivalence proof, not just a port.
    // One user-keyed sort shuffle; frame work is O(15 log 15) per row.
    "win_median_sliding" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
        .rowsBetween(-14, 0)
      Tables.events(s, d).filter($"user_id" < 100)
        .select($"user_id", Tables.tsUs.as("ts_us"), $"event_id",
          round(Tables.dec($"value") * 100).cast("long").as("cents"))
        .withColumn("arr", sort_array(collect_list($"cents").over(w)))
        .select($"user_id", $"event_id",
          expr("element_at(arr, cast((size(arr) + 1) div 2 as int))")
            .as("med_lo_c"),
          size($"arr").cast("long").as("n_win"))
        .orderBy("user_id", "event_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "win_rank" ->
      """SELECT c_nationkey, c_custkey,
        |  CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS rnk,
        |  CAST(dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS drnk,
        |  CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS rn
        |FROM customer ORDER BY c_nationkey, c_custkey""".stripMargin,
    "win_topk_custom" ->
      """SELECT c_nationkey, c_custkey, acctbal_e6 FROM (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS acctbal_e6,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) DESC,
        |               c_custkey ASC) AS rn
        |  FROM customer) t
        |WHERE rn <= 3
        |ORDER BY c_nationkey, acctbal_e6 DESC, c_custkey""".stripMargin,
    "win_topk_per_group" ->
      """SELECT c_nationkey, rn, c_custkey, acctbal_e6 FROM (
        |  SELECT c_nationkey, c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS acctbal_e6,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS rn
        |  FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,
    "win_lag_lead" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
        |  lead(epoch_us(ts), 1) OVER w - epoch_us(ts) AS next_gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
        |ORDER BY event_id""".stripMargin,
    "win_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS running_rev_e6
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_moving_range" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_last_hour
        |FROM events ORDER BY event_id""".stripMargin,
    "win_ntile_pct" ->
      """SELECT c_nationkey, c_custkey,
        |  CAST(ntile(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS quartile,
        |  CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) - 1 AS INT) AS pr_num,
        |  CAST(COUNT(*) OVER (PARTITION BY c_nationkey) - 1 AS INT) AS pr_den,
        |  COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd_num,
        |  COUNT(*) OVER (PARTITION BY c_nationkey) AS cd_den
        |FROM customer ORDER BY c_nationkey, c_custkey""".stripMargin,
    "win_first_last" ->
      """SELECT c_nationkey, c_custkey,
        |  first_value(c_custkey) OVER w AS richest_cust,
        |  last_value(c_custkey) OVER w AS poorest_cust
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,
    // Same semantics as size(collect_set(...)) over the running frame,
    // expressed without DISTINCT window aggregates: a row contributes 1
    // exactly when it is the first (ts_us, event_id)-ordered occurrence
    // of its (user_id, event_type).
    "win_running_distinct" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events WHERE user_id % 50 = 0),
        |f AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_us ASC, event_id ASC) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM e)
        |SELECT user_id, ts_us, event_id,
        |  CAST(SUM(first_seen) OVER (PARTITION BY user_id
        |    ORDER BY ts_us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types_seen
        |FROM f ORDER BY user_id, ts_us, event_id""".stripMargin,
    "win_ema_truncated" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(round(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) AS v
        |  FROM events WHERE user_id % 20 = 0),
        |o AS (
        |  SELECT user_id, ts_us, event_id,
        |    row_number() OVER w AS rn,
        |    v * 128
        |      + COALESCE(lag(v, 1) OVER w, 0) * 64
        |      + COALESCE(lag(v, 2) OVER w, 0) * 32
        |      + COALESCE(lag(v, 3) OVER w, 0) * 16
        |      + COALESCE(lag(v, 4) OVER w, 0) * 8
        |      + COALESCE(lag(v, 5) OVER w, 0) * 4
        |      + COALESCE(lag(v, 6) OVER w, 0) * 2
        |      + COALESCE(lag(v, 7) OVER w, 0) * 1 AS num
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC))
        |SELECT user_id, ts_us, event_id, num // 255 AS ema_cents
        |FROM o WHERE rn >= 8 ORDER BY user_id, ts_us, event_id""".stripMargin,
    // Frame rebuilt as a bounded self-join; the rank-selected value at
    // position (cnt+1)//2 equals the sorted array's lower median —
    // deterministic under ties because equal ranks hold equal values.
    "win_median_sliding" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(round(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE user_id < 100),
        |f AS (
        |  SELECT a.user_id, a.event_id, a.rn, b.cents AS v
        |  FROM e a JOIN e b
        |    ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - 14 AND a.rn),
        |r AS (
        |  SELECT user_id, event_id, rn, v,
        |    row_number() OVER (PARTITION BY user_id, rn ORDER BY v) AS vr,
        |    COUNT(*) OVER (PARTITION BY user_id, rn) AS cnt
        |  FROM f)
        |SELECT user_id, event_id,
        |  MAX(CASE WHEN vr = (cnt + 1) // 2 THEN v END) AS med_lo_c,
        |  CAST(MAX(cnt) AS BIGINT) AS n_win
        |FROM r GROUP BY user_id, event_id, rn
        |ORDER BY user_id, event_id""".stripMargin
  )
}
