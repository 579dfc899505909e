package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2-G: the flirt-consume ETL core, re-expressed Spark-first.
  *
  * G1 is the reference's signature semantic — expanding a recurring schedule
  * (validity date range + day-of-week operating flags) into concrete per-date
  * instances. In the reference that is a row-at-a-time loop; here it is a
  * declarative `explode(sequence(...))` generator the optimizer can pipeline
  * inside whole-stage codegen with zero shuffles — at 100 TB the expansion
  * is embarrassingly parallel per input split.
  *
  * G2/G3 model MongoDB upsert / idempotent window-reload semantics as pure
  * dataflow: dedup-last-wins via row_number, delete+insert via anti-join
  * union. Both become MERGE INTO on an ACID table sink.
  */
object Etl extends QueryModule {

  // 2024-01-10 / 2024-01-20 UTC midnight, epoch-ns (G3 reload window).
  private val T0 = 1704844800000000000L
  private val T1 = 1705708800000000000L

  /** Synthetic flight legs derived deterministically from orders (40
    * airports, minute-grain day clock) — shared by the connection-building
    * and reachability queries so both engines derive the identical
    * network. */
  private def flightLegs(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_orderkey" < 20000)
      .select($"o_orderkey".as("leg"),
        ($"o_custkey" % 40).as("dep_ap"),
        (($"o_custkey" * 7 + $"o_orderkey") % 39 + 1).as("arr_off"),
        (($"o_orderkey" * 37) % 1440).as("dep_min"),
        ($"o_orderkey" % 600 + 60).as("dur"))
      .select($"leg", $"dep_ap",
        (($"dep_ap" + $"arr_off") % 40).as("arr_ap"),
        $"dep_min", ($"dep_min" + $"dur").as("arr_min"))
  }

  val queries: Map[String, Q] = Map(
    // G1: schedule expansion — each order expands over [o_orderdate, +13d],
    // keeping dates whose Monday=0 weekday bit is set in (o_orderkey%127)+1.
    "etl_schedule_expand" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderkey",
          (($"o_orderkey" % 127) + 1).as("day_mask"),
          explode(sequence(
            $"o_orderdate".cast("date"),
            date_add($"o_orderdate".cast("date"), 13))).as("flight_date"))
        .withColumn("wd", (dayofweek($"flight_date") + lit(5)) % 7)
        .filter(expr("shiftright(day_mask, wd) % 2 = 1"))
        .select($"o_orderkey", $"flight_date".cast("string").as("flight_date"))
        .orderBy("o_orderkey", "flight_date")
    }),

    // Connection building — the reference domain's NETWORK operator (FLIRT
    // simulates spread over flight connections, not single legs): join
    // arriving legs to departing legs at the same hub within a
    // [45, 240]-minute layover window. Legs are synthesized
    // deterministically from orders (same convention as
    // etl_schedule_expand): 40 airports, times in minutes. Scale shape:
    // ONE equi-join keyed on the hub airport with the layover band as a
    // residual filter — no BNLJ (plan-asserted); fan-out per hub is
    // bounded by schedule density in the window. At 100 TB: bucket both
    // sides by airport (exchange-free join), AQE skew-split absorbs
    // mega-hubs.
    "etl_flight_connections" -> ((s, d) => {
      import s.implicits._
      val legs = flightLegs(s, d)
      val in = legs.select($"leg".as("in_leg"), $"arr_ap".as("hub"), $"arr_min")
      val out = legs.select($"leg".as("out_leg"), $"dep_ap".as("hub"), $"dep_min")
      in.join(out, Seq("hub"))
        .filter($"dep_min" - $"arr_min" >= 45 &&
          $"dep_min" - $"arr_min" <= 240 && $"in_leg" =!= $"out_leg")
        .groupBy($"hub")
        .agg(count(lit(1)).as("n_connections"),
          min($"dep_min" - $"arr_min").as("min_layover"),
          max($"dep_min" - $"arr_min").as("max_layover"),
          sum($"in_leg" + $"out_leg").as("pair_checksum"))
        .orderBy("hub")
    }),

    // The transport kernel the reference's spread model runs on: for each
    // origin→destination airport pair, how many itineraries with ≤ 1
    // connection exist, the earliest arrival, and the minimum hop count.
    // Direct legs union with hub-joined one-stops (layover ∈ [45, 240],
    // no round trips); itineraries then aggregate per (src, dst) — the
    // risk-flow matrix a disease-spread model multiplies against. Scale:
    // the one-stop join is hub-keyed exactly like connection building
    // (one shuffle on the hub id), and the output is bounded by
    // |airports|², independent of leg volume.
    "etl_flight_reachability" -> ((s, d) => {
      import s.implicits._
      val legs = flightLegs(s, d)
      val direct = legs.select($"dep_ap".as("src"), $"arr_ap".as("dst"),
        $"arr_min", lit(1L).as("hops"))
      val a = legs.select($"leg".as("l1"), $"dep_ap".as("src"),
        $"arr_ap".as("hub"), $"arr_min".as("mid_arr"))
      val b = legs.select($"leg".as("l2"), $"dep_ap".as("hub"),
        $"arr_ap".as("dst"), $"dep_min".as("mid_dep"), $"arr_min")
      val onestop = a.join(b, Seq("hub"))
        .filter($"mid_dep" - $"mid_arr" >= 45 &&
          $"mid_dep" - $"mid_arr" <= 240 &&
          $"l1" =!= $"l2" && $"src" =!= $"dst")
        .select($"src", $"dst", $"arr_min", lit(2L).as("hops"))
      direct.filter($"src" =!= $"dst").unionAll(onestop)
        .groupBy($"src", $"dst")
        .agg(count(lit(1)).as("n_routes"),
          min($"arr_min").as("best_arr"),
          min($"hops").as("min_hops"))
        .orderBy("src", "dst")
    }),

    // One step of the reference's spread model: seed airports carry
    // infection mass 1e6; mass propagates along DIRECT legs proportional
    // to route frequency (mass·n(src,dst) div out(src)) — a sparse
    // matrix–vector multiply expressed as broadcast-join + agg, which is
    // how an epidemic simulation runs on a cluster (the route matrix is
    // |airports|²-bounded and broadcasts; iterating the step is a loop of
    // these joins with the mass vector re-broadcast each round).
    // Integer division at the END (sum of exact products, one div per
    // (src,dst) term) keeps both engines bit-identical.
    "etl_spread_step" -> ((s, d) => {
      import s.implicits._
      val routes = flightLegs(s, d)
        .filter($"dep_ap" =!= $"arr_ap")
        .groupBy($"dep_ap".as("src"), $"arr_ap".as("dst"))
        .agg(count(lit(1)).as("n"))
      val out = routes.groupBy($"src").agg(sum($"n").as("out_n"))
      routes.join(out, Seq("src"))
        .filter($"src" < 5) // seed set: airports 0-4, mass 1e6 each
        .select($"src", $"dst", expr("1000000 * n div out_n").as("mass"))
        .groupBy($"dst")
        .agg(sum($"mass").as("exposure"),
          count(lit(1)).as("n_sources"),
          max($"mass").as("max_single"))
        .orderBy("dst")
    }),

    // G2: upsert semantics — keep the latest record per natural key
    // (shared-µs time domain; event_id breaks exact-µs ties identically
    // on both engines).
    "etl_dedup_lastwins" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts_us".desc, $"event_id".desc)
      Tables.events(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type", $"event_id", $"ts_us")
        .orderBy("user_id", "event_type")
    }),

    // G3: idempotent window reload — delete [T0,T1), insert the replacement
    // batch (same rows, value doubled), checksum per event_type.
    "etl_delete_insert_window" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"ts", $"event_type", Tables.dec($"value").as("v"))
      val kept = ev.filter($"ts" < T0 || $"ts" >= T1)
      val replacement = ev.filter($"ts" >= T0 && $"ts" < T1)
        .withColumn("v", ($"v" * 2).cast("decimal(18,6)"))
      kept.unionAll(replacement)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"event_id").as("sum_id"),
          sum($"v").cast("decimal(18,6)").as("sum_value"))
        .select($"event_type", $"n", $"sum_id", Tables.e6($"sum_value").as("sum_value_e6"))
        .orderBy("event_type")
    }),

    // Gap filling: a dense hour spine (cross join of hour buckets ×
    // event types) left-joined with actual counts, absent buckets
    // zero-filled — the time-series densification every monitoring/ML
    // feature pipeline needs. Spine bounds from fixed constants (the
    // events table spans 2024-01: deterministic, no data-dependent spine).
    "etl_gap_fill" -> ((s, d) => {
      import s.implicits._
      // 2024-01-01T00 .. 2024-01-03T00 UTC, hourly, in epoch-µs
      val spine = s.range(0, 48)
        .select((lit(1704067200000000L) + $"id" * 3600000000L).as("bucket_us"))
      val types = Seq("click", "error", "purchase", "signup", "view").toDF("event_type")
      val actual = Tables.events(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .withColumn("bucket_us", expr("ts_us - ts_us % 3600000000"))
        .groupBy($"bucket_us", $"event_type").agg(count(lit(1)).as("n"))
      spine.crossJoin(types)
        .join(actual, Seq("bucket_us", "event_type"), "left")
        .select($"bucket_us", $"event_type", coalesce($"n", lit(0L)).as("n"))
        .orderBy("bucket_us", "event_type")
    }),

    // Sweep-line peak concurrency: how many intervals overlap at the
    // busiest instant, per event type. Each event becomes an interval
    // [ts, ts + 1min..1h) (duration derived from event_id — integer-exact
    // on both engines), each interval becomes two endpoint rows (+1 at
    // start, −1 at end), and ONE ordered window per type turns the
    // endpoint stream into a running concurrency count; ends sort before
    // starts at the same instant (delta ascending), giving half-open
    // semantics, and the default RANGE frame includes peers so ties are
    // deterministic. This is the scale-correct interval-algebra shape:
    // 2n rows and one sort-shuffle per type, where the naive
    // "count overlaps by self-join" is O(n²) and unshippable at 100 TB.
    "etl_max_concurrency" -> ((s, d) => {
      import s.implicits._
      val iv = Tables.events(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .select($"event_type", $"ts_us".as("start_us"),
          ($"ts_us" + ($"event_id" % 3600 + 60) * 1000000L).as("end_us"))
      val pts = iv.select($"event_type", $"start_us".as("t"), lit(1L).as("delta"))
        .unionByName(iv.select($"event_type", $"end_us".as("t"), lit(-1L).as("delta")))
      // Two-pass bucketed sweep (r8; replaces the single ordered window per
      // type, whose parallelism was capped at |event_type| = 5 — the one
      // >20x sf0.1→sf10 ratio in the round-8 scale audit). Endpoints are
      // DELTAS, so the running concurrency at any instant decomposes into
      // (prefix of whole earlier time buckets) + (running sum within the
      // bucket): pass 1 is an ordered window per (type, 6h-bucket) — time-
      // range parallelism that grows with the data — and the carry is a
      // prefix over per-bucket totals, a (types × buckets) relation that
      // stays broadcast-tiny at any SF (buckets scale with the time span,
      // not the row count). Same (t, delta) range-frame tie semantics as
      // the single window, so identical peaks; peak detection is a map-
      // side-combinable groupBy + broadcast join, not a full-data window.
      val bUs = 21600L * 1000000L
      val bkt = pts.withColumn("bkt", expr(s"t div ${bUs}L"))
      val wLocal = Window.partitionBy($"event_type", $"bkt").orderBy($"t", $"delta")
      val local = bkt.withColumn("cl", sum($"delta").over(wLocal))
      val wPre = Window.partitionBy($"event_type").orderBy($"bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val pre = bkt.groupBy($"event_type", $"bkt").agg(sum($"delta").as("tot"))
        .withColumn("pre", coalesce(sum($"tot").over(wPre), lit(0L)))
        .select($"event_type", $"bkt", $"pre")
      val run = local.join(broadcast(pre), Seq("event_type", "bkt"))
        .withColumn("conc", $"cl" + $"pre")
      val peaks = run.groupBy($"event_type").agg(max($"conc").as("peak"))
      run.join(broadcast(peaks), Seq("event_type"))
        .filter($"conc" === $"peak")
        .groupBy($"event_type")
        .agg(max($"peak").as("peak"), min($"t").as("first_peak_us"))
        .orderBy("event_type")
    }),

    // SCD2 (slowly-changing-dimension type 2) build: per-user 'view'
    // history becomes validity intervals [valid_from, valid_to) via lead();
    // the open current row has NULL valid_to. One shuffle on the key.
    "etl_scd2_intervals" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
      Tables.events(s, d)
        .filter($"event_type" === "view")
        .withColumn("ts_us", Tables.tsUs)
        .select($"user_id", $"event_id",
          $"ts_us".as("valid_from"),
          lead($"ts_us", 1).over(w).as("valid_to"),
          Tables.e6(Tables.dec($"value")).as("v_e6"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // CDC apply: a change batch of I/U/D operations merged into a base
    // snapshot in one pass — upserts (I/U) replace by key, deletes drop the
    // key, untouched base rows pass through. Op codes are synthesized
    // deterministically from the key (keys ≡ 0 mod 7 → D, ≡ 1..2 → U with
    // bumped values, ≡ 3 → I of a shifted key). The union + per-key
    // row_number (change wins over base) is exactly the dataflow a MERGE
    // INTO compiles to on an ACID table; one hash shuffle on the key.
    "etl_cdc_apply" -> ((s, d) => {
      import s.implicits._
      val base = Tables.orders(s, d)
        .select($"o_orderkey".as("k"),
          round($"o_totalprice" * 100).cast("long").as("price_cents"))
      val changes = base
        .filter($"k" % 7 < 4)
        .select($"k",
          when($"k" % 7 === 0, lit("D")).otherwise(lit("U")).as("op"),
          when($"k" % 7 === 0, lit(0L))
            .otherwise($"price_cents" + 1000L).as("price_cents"))
        .unionByName(
          base.filter($"k" % 7 === 3)
            .select(($"k" + 1000000000L).as("k"), lit("I").as("op"),
              ($"price_cents" + 5L).as("price_cents")))
      val w = Window.partitionBy($"k").orderBy($"__src".desc)
      base.withColumn("op", lit(null: String)).withColumn("__src", lit(0))
        .unionByName(changes.withColumn("__src", lit(1)))
        .withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1 && ($"op".isNull || $"op" =!= "D"))
        .select($"k", $"price_cents",
          coalesce($"op", lit("B")).as("src_op"))
        .orderBy("k")
    }),

    // MERGE INTO a partitioned parquet table through the REAL copy-on-write
    // sink (sources/MergeSink.scala), graded end-to-end: build the base
    // table on disk, apply a deterministic change batch (deletes, updates,
    // inserts incl. a brand-new partition, duplicate-key later-seq-wins)
    // via mergeInto — which prunes the read to affected partitions and
    // dynamic-overwrites only those directories — then READ THE TABLE BACK
    // and emit per-partition totals. The oracle replicates the merge
    // relationally, so the hash-match proves the sink's on-disk result,
    // not just the dataflow (etl_cdc_apply already proves that half).
    // Changes touch only partitions 1/3/9; 2/4/5 ride through untouched —
    // the partition-granularity COW guarantee MergeSinkSpec asserts at the
    // file level.
    "etl_merge_cow" -> ((s, d) => {
      import s.implicits._
      val dir = s"${graft.fixtureRoot}/merge_cow"
      val base = Tables.orders(s, d).select(
        $"o_orderkey".as("k"),
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_cents"),
        substring($"o_orderpriority", 1, 1).as("p"))
      // coalesce(4): 32 write tasks × 5 partition dirs would mean 160 tiny
      // files; 4×5=20 keeps the fixture write (the query's dominant cost)
      // and the merge's pruned re-read cheap at every SF
      base.coalesce(4).write.partitionBy("p").mode("overwrite").parquet(dir)
      val ch = base.filter($"p".isin("1", "3"))
      val changes = ch.filter($"k" % 7 === 0)
          .select($"k", lit(0L).as("price_cents"), $"p",
            lit("D").as("op"), lit(1L).as("seq"))
        .unionByName(ch.filter($"k" % 7 === 1 || $"k" % 7 === 2)
          .select($"k", ($"price_cents" + 1000L).as("price_cents"), $"p",
            lit("U").as("op"), lit(1L).as("seq")))
        .unionByName(ch.filter($"k" % 7 === 3)
          .select(($"k" + 1000000000L).as("k"),
            ($"price_cents" + 5L).as("price_cents"), lit("9").as("p"),
            lit("U").as("op"), lit(1L).as("seq")))
        .unionByName(ch.filter($"k" % 70 === 1)
          .select($"k", ($"price_cents" + 2000L).as("price_cents"), $"p",
            lit("U").as("op"), lit(2L).as("seq")))
      graft.sources.MergeSink.mergeInto(s, dir, changes, Seq("k"), "p")
      s.read.parquet(dir)
        .groupBy($"p".cast("string").as("p"))
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          sum($"price_cents").as("sum_price_cents"))
        .orderBy("p")
    }),

    // Snapshot diff (reconciliation audit): FULL OUTER join two snapshots
    // on the natural key, classify each key as added / removed / changed,
    // drop the unchanged majority. Snapshot B is a deterministic mutation
    // of A (k ≡ 0 mod 5 deleted, ≡ 1 repriced, ≡ 2 also cloned to a new
    // key). One co-partitioned shuffle on the key; at 100 TB both sides
    // would be bucketed by k and the join is exchange-free.
    "etl_snapshot_diff" -> ((s, d) => {
      import s.implicits._
      val a = Tables.orders(s, d)
        .select($"o_orderkey".as("k"),
          round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_cents"))
      val b = a.filter($"k" % 5 =!= 0)
        .select($"k",
          ($"price_cents" + when($"k" % 5 === 1, 50L).otherwise(0L)).as("price_cents"))
        .unionByName(
          a.filter($"k" % 5 === 2)
            .select(($"k" + 3000000000L).as("k"), ($"price_cents" + 7L).as("price_cents")))
      a.as("a").join(b.as("b"), $"a.k" === $"b.k", "full_outer")
        .select(
          coalesce($"a.k", $"b.k").as("k"),
          coalesce($"a.price_cents", lit(-1L)).as("old_cents"),
          coalesce($"b.price_cents", lit(-1L)).as("new_cents"),
          when($"a.k".isNull, "added")
            .when($"b.k".isNull, "removed")
            .when($"a.price_cents" =!= $"b.price_cents", "changed")
            .otherwise("same").as("status"))
        .filter($"status" =!= "same")
        .orderBy("k")
    }),

    // Incremental aggregation maintenance (materialized-view refresh): the
    // standing state is a PARTIAL aggregate of the old data, a new batch
    // arrives, and the refreshed view is the algebraic MERGE of the two
    // partials (union → re-aggregate: counts add, sums add) — never a
    // rescan of the base. The oracle computes the aggregate directly over
    // everything, so the hash-match PROVES merge(partial(old), partial(new))
    // ≡ agg(old ∪ new). At 100 TB this is the only affordable refresh
    // shape, and it's exactly how Spark's own partial aggregation and
    // streaming state stores combine under the hood.
    "etl_incremental_agg" -> ((s, d) => {
      import s.implicits._
      def partial(df: org.apache.spark.sql.DataFrame) = df
        .select($"o_orderstatus",
          round(Tables.dec($"o_totalprice") * 100).cast("long").as("cents"))
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      val all = Tables.orders(s, d)
      val state = partial(all.filter($"o_orderkey" % 10 =!= 0))
      val delta = partial(all.filter($"o_orderkey" % 10 === 0))
      state.unionByName(delta)
        .groupBy($"o_orderstatus")
        .agg(sum($"n").as("n"), sum($"sum_cents").as("sum_cents"))
        .orderBy("o_orderstatus")
    }),

    // G4: UTC normalization — ns→µs truncation plus a per-row fixed offset
    // (models local-time + UTC-variance → UTC instants; pure BIGINT math).
    "etl_utc_normalize" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id",
          (($"user_id" % 27 - 13) * 30).as("offset_min"),
          (expr("ts div 1000") - ($"user_id" % 27 - 13) * 30 * 60000000L).as("utc_us"))
        .orderBy("event_id")
    }),

    // Declarative data-quality constraint check (the Deequ-style validation
    // pass): five rules evaluated as conditional sums in ONE scan of the
    // table, unpivoted into a (rule, n_rows, n_viol) report. Adding a rule
    // costs one more map-side counter, not another scan — at 100 TB the
    // constraint suite rides along any existing full pass over the data.
    "etl_dq_constraints" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def viol(cond: String) =
        sum(when(expr(cond), 1L).otherwise(0L))
      val agg = o.agg(
        count(lit(1)).as("n_rows"),
        viol("o_custkey IS NULL").as("v_custkey_not_null"),
        viol("o_totalprice <= 0").as("v_price_positive"),
        viol("o_orderstatus NOT IN ('F','O','P')").as("v_status_domain"),
        viol("cast(o_orderdate as date) >= date'1998-01-01'").as("v_date_range"),
        viol("substring(o_orderpriority, 1, 1) NOT IN ('1','2','3','4','5')")
          .as("v_priority_prefix"))
      agg.selectExpr(
        """stack(5,
          |  'custkey_not_null', n_rows, v_custkey_not_null,
          |  'date_range', n_rows, v_date_range,
          |  'price_positive', n_rows, v_price_positive,
          |  'priority_prefix', n_rows, v_priority_prefix,
          |  'status_domain', n_rows, v_status_domain
          |) AS (rule, n_rows, n_viol)""".stripMargin)
        .orderBy("rule")
    }),

    // OHLC downsampling — the time-series bar aggregation: per (6h bucket,
    // event_type), open/close are the first/last value by (ts, event_id)
    // (unique-key tie-break → deterministic), high/low/count/volume are
    // plain aggregates. One window for the edge ranks + one hash-agg, both
    // partitioned by the bucket key — at 100 TB this is a single shuffle
    // co-partitioned with any other per-bucket computation, and the
    // min_by/max_by struct trick keeps it one pass (no self-join back for
    // the open/close rows).
    "etl_downsample_ohlc" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"bucket_us", $"event_type")
      Tables.events(s, d)
        .select($"event_id", $"event_type",
          Tables.tsUs.as("ts_us"),
          Tables.e6($"value").as("v_e6"))
        .withColumn("bucket_us", expr("ts_us - ts_us % 21600000000"))
        .withColumn("rn_a", row_number().over(w.orderBy($"ts_us", $"event_id")))
        .withColumn("rn_d", row_number().over(w.orderBy($"ts_us".desc, $"event_id".desc)))
        .groupBy($"bucket_us", $"event_type")
        .agg(count(lit(1)).as("n"),
          max(when($"rn_a" === 1, $"v_e6")).as("open_e6"),
          max($"v_e6").as("high_e6"),
          min($"v_e6").as("low_e6"),
          max(when($"rn_d" === 1, $"v_e6")).as("close_e6"))
        .orderBy("bucket_us", "event_type")
    }),

    // G5: parser/validator quality report — per-column null/distinct/min/max
    // unpivoted via stack() into the narrow report (the flirt validation
    // pass analog). Two single-pass aggs instead of one mixed agg: fusing
    // countDistinct with min/max(string) forces the WHOLE multi-distinct
    // Expand through SortAggregate (string agg buffers are hash-inapt), i.e.
    // two full sorts of the 4x-expanded table. Split, the distinct counts
    // keep the Expand inside HashAggregate and the min/max pass is one
    // global SortAggregate with no grouping keys — no sort at all. The
    // one-row results cross-join for free (measured ~2x on this query).
    "etl_quality_report" -> ((s, d) => {
      def m(c: String, suffix: String) = s"${c}_$suffix"
      val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
      val o = Tables.orders(s, d)
      val distincts = o.agg(
        countDistinct(col(cols.head)).as(m(cols.head, "dist")),
        cols.tail.map(c => countDistinct(col(c)).as(m(c, "dist"))): _*)
      val basicAggs = cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1).otherwise(0)).as(m(c, "null")),
          min(col(c).cast("string")).as(m(c, "min")),
          max(col(c).cast("string")).as(m(c, "max")))
      }
      val basics = o.agg(basicAggs.head, basicAggs.tail: _*)
      val stackArgs = cols.map(c =>
        s"'$c', ${m(c, "null")}, ${m(c, "dist")}, ${m(c, "min")}, ${m(c, "max")}").mkString(", ")
      basics.crossJoin(distincts)
        .selectExpr(s"stack(${cols.length}, $stackArgs) AS (column, n_null, n_distinct, min_s, max_s)")
        .orderBy("column")
    }),

    // Temporal (point-in-interval) fact→SCD2-dim join: each purchase picks
    // the dim version whose [valid_from, valid_to) interval covers its
    // timestamp — the canonical "join facts to a slowly-changing dimension
    // AS OF fact time" warehouse idiom. The SCD2 intervals partition each
    // user's timeline (lead() closes each version), so at most one version
    // matches; purchases before the first version keep NULLs via the left
    // join. Equi prefix on user_id keeps this a plain hash/sort-merge
    // join with a residual range filter — never a cartesian; one shuffle
    // per side at any scale.
    "etl_temporal_dim_join" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
      val dim = Tables.events(s, d)
        .filter($"event_type" === "view")
        .withColumn("ts_us", Tables.tsUs)
        .select($"user_id".as("d_uid"), $"event_id".as("dim_version_id"),
          $"ts_us".as("valid_from"),
          lead($"ts_us", 1).over(
            Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc))
            .as("valid_to"),
          Tables.e6(Tables.dec($"value")).as("v_e6"))
      val facts = Tables.events(s, d)
        .filter($"event_type" === "purchase")
        .withColumn("p_us", Tables.tsUs)
        .select($"event_id".as("p_id"), $"user_id", $"p_us")
      facts.join(dim,
          $"user_id" === $"d_uid" && $"valid_from" <= $"p_us" &&
          ($"valid_to".isNull || $"p_us" < $"valid_to"), "left")
        .select($"p_id", $"user_id", $"p_us", $"dim_version_id", $"v_e6")
        .orderBy("p_id")
    }),

    // Z-order (Morton) clustering key: interleave the bits of two
    // dimension buckets so that sorting by one BIGINT co-locates rows
    // close in BOTH dimensions — the layout technique behind multi-column
    // data skipping (files clustered by z-value give min/max pruning on
    // either predicate column, where a lexicographic sort only prunes the
    // leading one). The interleave runs through the engine's own codegen
    // [[graft.plans.MortonInterleave]] expression (a tight shift/mask
    // loop in whole-stage codegen, vs the HOF fold's per-row index array
    // + lambda frames — the per-row cost that matters when z-ordering a
    // 100 TB write); the oracle's plain `<<`/`>>` SQL is unchanged, so
    // the hash match is a cross-implementation proof. At scale this key
    // feeds repartitionByRange + sortWithinPartitions before the write.
    "etl_zorder_key" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderkey",
          ($"o_custkey" % 1024).as("x"),
          (datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
            .cast("long") % 1024).as("y"))
        .withColumn("zval", graft.plans.MortonInterleave.morton($"x", $"y", 10))
        .orderBy($"zval".asc, $"o_orderkey".asc)
        .limit(200)
    }),

    // The z-order layout's PAYOFF, graded: write orders clustered by the
    // Morton key (range-partitioned into 8 files, sorted by zval within
    // each — the exact writer shape the etl_zorder_key doc prescribes),
    // then answer a two-dimensional range query over the layout. Because
    // a contiguous z-range is a small (x, y) rectangle union, every file/
    // row-group carries NARROW x and y min/max stats, and the pushed
    // x/y predicates skip most row groups at scan time — multi-column
    // data skipping from a single sort key, where a lexicographic sort
    // prunes only its leading column. PlanShapeSpec pins the effect:
    // the z-ordered scan emits a fraction of the rows a hash-shuffled
    // copy of the same data emits under the identical pushed filters.
    // The oracle re-reads the engine-written files, so the hash match
    // also proves the layout holds exactly the source rows.
    "etl_zorder_skipping" -> ((s, d) => {
      import s.implicits._
      writeZorderFixture(s, d)
      s.read.parquet(zorderPath)
        .filter($"x".between(32, 95) && $"y".between(256, 511))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum($"o_orderkey"), lit(0L)).as("sum_key"),
          coalesce(min($"zval"), lit(-1L)).as("min_z"),
          coalesce(max($"zval"), lit(-1L)).as("max_z"))
    }),

    // Small-file compaction — the lake-maintenance op every streaming
    // ingest forces at scale: micro-batch writers leave each partition
    // as a pile of tiny files (here: a hash-fragmented month-partitioned
    // layout, ~8 files/month), and scan cost at 100 TB is dominated by
    // file-open overhead + footer reads, not bytes. Compaction rewrites
    // each partition in one task (repartition on the partition key —
    // every month lands in exactly one writer, so exactly one file per
    // month dir). The graded row reads BOTH layouts back with the
    // _metadata.file_name column and emits per (layout, month): row
    // count, DISTINCT FILE COUNT, and an order-independent XOR checksum
    // — the oracle re-reads the same directories with filename=true, so
    // the hash match proves (a) the on-disk file-count collapse really
    // happened and (b) compaction preserved every row exactly. At scale
    // the same plan compacts only partitions whose file count exceeds a
    // threshold (the read side is partition-pruned to those).
    "etl_compact_small_files" -> ((s, d) => {
      import s.implicits._
      writeCompactFixture(s, d)
      def stats(path: String, layout: String) =
        s.read.parquet(path)
          .select($"o_orderkey", $"pmonth",
            regexp_extract(col("_metadata.file_name"), "[^/]+$", 0).as("fname"))
          .groupBy($"pmonth")
          .agg(count(lit(1)).as("n_rows"),
            count_distinct($"fname").as("n_files"),
            expr("bit_xor(o_orderkey)").as("xor_key"))
          .withColumn("layout", lit(layout))
      stats(fragPath, "frag").unionByName(stats(compactPath, "compact"))
        .select($"layout", $"pmonth".as("part_key"), $"n_rows", $"n_files",
          $"xor_key")
        .orderBy($"layout", $"part_key")
    }),

    // Time travel over the manifest-versioned table (VersionedTable): the
    // fixture creates v0 from orders, COW-merges a price update over the
    // 1996 partitions (v1), then a targeted delete batch (v2) — and the
    // graded query reads ALL THREE snapshots back through the manifest
    // (count / xor / exact-cents sum per version). The oracle reconstructs
    // each logical state declaratively from the base table, so the hash
    // match proves snapshot reads reproduce history exactly: after two
    // merges the data dirs hold old AND new files — a reader that globbed
    // would double-count, one that read only the latest would miss v0/v1.
    // At 100 TB this is the reproducible-training-snapshot primitive:
    // pin the manifest version and the input is frozen, no table copy.
    "etl_time_travel" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      (0 to 2).map { v =>
        graft.sources.VersionedTable.read(s, vtPath, v)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(o_orderkey)").as("xor_key"),
            sum($"price_c").as("sum_price_c"))
          .select(lit(v).as("version"), $"n_rows", $"xor_key", $"sum_price_c")
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // Append-only ingest + schema evolution on the versioned table: v1
    // appends three more months (no read, no shuffle against the table —
    // a blind adds-only commit, streaming ingest's write mode), v2 appends
    // three months carrying a NEW column. Snapshot reads with mergeSchema
    // surface the widened schema, older rows reading null — graded per
    // version as count/xor/sum plus the non-null count of the new column
    // (0 where the column predates its introduction). The oracle composes
    // the three logical states declaratively, so a reader that leaked v2's
    // column into v0/v1 counts, dropped old rows, or misread nulls fails
    // the hash.
    "etl_append_evolve" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      (0 to 2).map { v =>
        val df = graft.sources.VersionedTable
          .read(s, vtAppPath, v, mergeSchema = true)
        val nSrc = if (df.columns.contains("src")) count($"src") else
          count(lit(1)) * 0L
        df.agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(o_orderkey)").as("xor_key"),
            sum($"price_c").as("sum_price_c"), nSrc.as("n_src"))
          .select(lit(v).as("version"), $"n_rows", $"xor_key",
            $"sum_price_c", $"n_src")
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // OPTIMIZE as a commit: the fragmented table (create + 5 appends —
    // every month dir holds a file per commit, the micro-batch-ingest
    // pathology, here INSIDE the log) compacts to one file per partition
    // in commit 6, with the originals removed from the manifest but kept
    // on disk — so the graded row reads BOTH the pre-optimize and
    // post-optimize snapshots: identical count/xor (compaction changed
    // bytes' layout, not one row), live file count collapsed 6×, and the
    // fragmented history still time-travels. In-place compaction (the
    // etl_compact_small_files row) cannot keep that history; this is
    // Delta's OPTIMIZE semantics. Oracle: file counts from manifest
    // replay, data from the base table — both per version.
    "etl_optimize_commit" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      import graft.sources.VersionedTable
      val post = VersionedTable.latestVersion(s, vtOptPath)
      val pre = post - 1
      Seq(pre, post).map { v =>
        val nf = VersionedTable.liveFiles(s, vtOptPath, v).size.toLong
        VersionedTable.read(s, vtOptPath, v)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(o_orderkey)").as("xor_key"))
          .select(lit(v).as("version"), lit(nf).as("n_files"),
            $"n_rows", $"xor_key")
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // File skipping from manifest column metrics (Iceberg-style): the
    // monotonic-ingest table records per-file o_orderkey min/max in its
    // manifests; a key-range probe prunes the file list FROM THE LOG —
    // zero footer reads, zero directory listing (at 100 TB, deciding
    // which of 10M files to open must not cost 10M footer reads). The
    // graded row emits the live vs scanned file counts plus the exact
    // range aggregate over the pruned read: the oracle independently
    // derives the scan count from the manifest intervals and the
    // aggregate from the FULL base table, so over-pruning (lost rows),
    // under-pruning (wrong file count), or stats drift all fail the hash.
    // Partition pruning cannot help here by construction — every chunk
    // touches every month dir — so the metrics are load-bearing.
    "etl_manifest_skipping" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      import graft.sources.{KnownFilesIndex, VersionedTable}
      val latest = VersionedTable.latestVersion(s, vtSeqPath)
      val entries = VersionedTable.liveEntries(s, vtSeqPath, latest)
      val mxKey = Tables.orders(s, d).agg(max($"o_orderkey"))
        .collect()(0).getLong(0)
      val (lo, hi) = (mxKey * 3 / 8, mxKey * 4 / 8)
      val pruned = VersionedTable.read(s, vtSeqPath, latest)
        .filter($"o_orderkey" >= lo && $"o_orderkey" <= hi)
      pruned
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .select(lit(entries.size.toLong).as("n_files_live"),
          lit(KnownFilesIndex.filesScanned(pruned)).as("n_files_scanned"),
          $"n_rows", $"xor_key", $"sum_price_c")
    }),

    // Vacuum with retention, graded through the on-disk file set: the
    // second fixture copy is vacuumed to the last 2 versions, which must
    // delete exactly the v0-only files (the 1996 partitions' originals,
    // superseded by v1/v2) and keep every file v1/v2 reference. Per
    // version: files referenced by the manifest vs files actually present
    // (via the data-glob's _metadata.file_path), plus count/xor/sum for
    // fully-readable versions (-1 sentinels where vacuum broke the
    // snapshot — losing vacuumed history is the contract, same as
    // Delta/Iceberg). The oracle replays the manifest parquets and the
    // same glob in DuckDB — the log format itself is what's being graded.
    "etl_vacuum_retention" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      val latest = graft.sources.VersionedTable.latestVersion(s, vtVacPath)
      // manifest replay is driver-side by design (metadata, bounded by
      // file-op count); the data-file scan below is the distributed part
      val ref = (0 to latest).flatMap(v =>
        graft.sources.VersionedTable.liveFiles(s, vtVacPath, v)
          .map { case (f, _) => (v, f) }).toDF("v", "file")
      val present = s.read.parquet(s"$vtVacPath/data/*/*/*.parquet")
        .select(
          regexp_extract(col("_metadata.file_path"), "data/.+", 0).as("pfile"),
          $"o_orderkey", $"price_c")
      ref.join(present, $"pfile" === $"file", "left")
        .groupBy($"v")
        .agg(count_distinct($"file").as("n_files_ref"),
          count_distinct($"pfile").as("n_files_present"),
          count($"o_orderkey").as("cnt"),
          expr("bit_xor(o_orderkey)").as("bx"),
          sum($"price_c").as("sp"))
        .select($"v".as("version"), $"n_files_ref", $"n_files_present",
          when($"n_files_ref" === $"n_files_present", $"cnt")
            .otherwise(-1L).as("n_rows"),
          when($"n_files_ref" === $"n_files_present", $"bx")
            .otherwise(-1L).as("xor_key"),
          when($"n_files_ref" === $"n_files_present", $"sp")
            .otherwise(-1L).as("sum_price_c"))
        .orderBy("version")
    }),

    // Merge-on-read deletion vectors vs copy-on-write, graded as ONE row:
    // two tables share the same logical history (create, price-update
    // merge), then the same delete batch lands as a COW partition rewrite
    // in one and as a deleteCommit TOMBSTONE in the other. The data
    // aggregate must be IDENTICAL for both variants (the oracle computes
    // it once — hash equality proves the merge-on-read read path), while
    // the per-variant file counts come from the two manifests: COW writes
    // one rewritten file per affected partition and removes the originals;
    // DV writes one tiny tombstone file per affected partition and removes
    // NOTHING — the write-amplification gap that decides a 1-row delete's
    // cost at 100 TB (a partition rewrite vs a key list).
    "etl_delete_vectors" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      import graft.sources.VersionedTable
      Seq(("cow", vtPath), ("dv", vtDvPath)).map { case (variant, p) =>
        val h = VersionedTable.history(s, p).filter($"version" === 2)
          .select(($"n_added" + $"n_tombstones").as("fw"), $"n_removed")
          .collect()(0)
        val nLive = VersionedTable.liveFiles(s, p, 2).size.toLong
        VersionedTable.read(s, p, 2)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(o_orderkey)").as("xor_key"),
            sum($"price_c").as("sum_price_c"))
          .select(lit(variant).as("variant"),
            lit(h.getLong(0)).as("files_written"),
            lit(h.getLong(1)).as("files_removed"),
            lit(nLive).as("n_data_files_live"),
            $"n_rows", $"xor_key", $"sum_price_c")
      }.reduce(_ unionByName _).orderBy("variant")
    }),

    // Change data feed OUT of the versioned table: row-level per-version
    // diffs derived from the manifest file sets (EXCEPT ALL of added vs
    // removed files — unchanged rows net out, an update appears as
    // new-image insert + old-image delete). The oracle reconstructs each
    // commit's logical delta declaratively from the base table, so
    // over-reporting (unchanged rows leaking into the feed), under-
    // reporting, or wrong images fail the hash. This completes the CDC
    // loop: stream_cdc_apply flows changes IN; this row flows them OUT.
    "etl_cdf_rows" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      graft.sources.VersionedTable.changes(s, vtPath, 1, 2)
        .select($"_commit_version".as("version"),
          $"_change_type".as("change_type"), $"o_orderkey", $"price_c")
        .groupBy($"version", $"change_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .orderBy("version", "change_type")
    }),

    // Timestamp time travel + commit metadata: each commit records a
    // caller-supplied ts and its operation in the manifest; readAsOf
    // resolves a probe ts to the greatest version at-or-before it. The
    // oracle resolves the SAME probes from the raw _log parquets and
    // reconstructs each snapshot from the base table — wrong resolution
    // (off-by-one at exact-match probes), wrong metadata, or wrong
    // snapshot content all fail the hash.
    "etl_time_travel_ts" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      import graft.sources.VersionedTable
      // one log read resolves ops AND all probes (versionAsOf per probe
      // would replay the manifests 6×; the log is driver-side metadata)
      val hist = VersionedTable.history(s, vtTsPath)
        .select($"version", $"ts", $"operation").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      val ops = hist.map(h => h._1 -> h._3).toMap
      Seq(1000L, 1500L, 2000L, 2999L, 3000L, 9999L).map { p =>
        val v = hist.filter(_._2 <= p).map(_._1).max
        VersionedTable.read(s, vtTsPath, v)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(o_orderkey)").as("xor_key"))
          .select(lit(p).as("probe_ts"), lit(v).as("version"),
            lit(ops(v)).as("operation"), $"n_rows", $"xor_key")
      }.reduce(_ unionByName _).orderBy("probe_ts")
    }),

    // CDF through the DELETION-VECTOR commit path: the DV table's history
    // is create → COW price merge (v1) → tombstone delete (v2), so this
    // feed exercises BOTH derivations — v1 diffs added-vs-removed files
    // (EXCEPT ALL), v2 semi-joins the PRIOR snapshot against the tombstone
    // keys, with that prior read PRUNED to the tombstones' partitions (the
    // scale property: a 1-row delete's CDF must not scan the table — the
    // diff is bounded by the commit's affected partitions on both
    // branches). The logical deltas are identical to etl_cdf_rows' COW
    // table by construction, so the oracle grades that a tombstone delete
    // FEEDS THE SAME CHANGES as the partition rewrite it replaces.
    "etl_cdf_dv" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      graft.sources.VersionedTable.changes(s, vtDvPath, 1, 2)
        .select($"_commit_version".as("version"),
          $"_change_type".as("change_type"), $"o_orderkey", $"price_c")
        .groupBy($"version", $"change_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .orderBy("version", "change_type")
    }),

    // The versioned table through its SQL surface (format("graftvt") /
    // CREATE TEMPORARY VIEW ... USING graftvt): the same pinned snapshots
    // as etl_time_travel and etl_time_travel_ts, but resolved entirely by
    // reader options — versionAsOf (v0/v2 via DataFrameReader, v1 via a
    // SQL view, i.e. zero Scala API in that path) and timestampAsOf (probe
    // 2000 on the ts table). Hash-matching the library-path results proves
    // the option surface maps onto read()/readAsOf exactly — the
    // engine-feature boundary: anything that speaks Spark SQL can pin a
    // training snapshot.
    "etl_sql_time_travel" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      def agg(df: org.apache.spark.sql.DataFrame, src: String) =
        df.agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
          .select(lit(src).as("src"), $"n_rows", $"xor_key", $"sum_price_c")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_sql_v1 " +
        s"USING graftvt OPTIONS (path '$vtPath', versionAsOf '1')")
      Seq(
        agg(s.read.format("graftvt").option("versionAsOf", 0)
          .load(vtPath), "v0"),
        agg(s.table("graft_vt_sql_v1"), "v1"),
        agg(s.read.format("graftvt").option("versionAsOf", 2)
          .load(vtPath), "v2"),
        agg(s.read.format("graftvt").option("timestampAsOf", 2000L)
          .load(vtTsPath), "ts2000"))
        .reduce(_ unionByName _).orderBy("src")
    }),

    // The versioned table's WRITE path through the DataFrame writer
    // surface: df.write.format("graftvt") with each SaveMode mapping onto
    // exactly one commit primitive — ErrorIfExists→create, append→blind
    // appendCommit, overwrite→overwriteCommit (whole-table replace as ONE
    // atomic version, history retained). The graded query performs all
    // three writes and reads the versions back: overwrite must REPLACE
    // (not accumulate), the pre-overwrite snapshots must still time-travel,
    // and the oracle reconstructs each state from the base table. The
    // writes rebuild the table from scratch each execution (delete +
    // 3 commits) so the row is repeat-idempotent like every fixture
    // writer.
    "etl_sql_write_path" -> ((s, d) => {
      import s.implicits._
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      val fs = new org.apache.hadoop.fs.Path(vtSqlWPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtSqlWPath), true)
      def w(lo: String, hi: String) =
        base.filter($"pmonth" >= lo && $"pmonth" <= hi)
          .write.format("graftvt").option("partitionCol", "pmonth")
      w("1997-01", "1997-06").mode("errorifexists").save(vtSqlWPath) // v0
      w("1997-07", "1997-09").mode("append").save(vtSqlWPath)       // v1
      w("1997-01", "1997-03").mode("overwrite").save(vtSqlWPath)    // v2
      (0 to 2).map { v =>
        graft.sources.VersionedTable.read(s, vtSqlWPath, v)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(o_orderkey)").as("xor_key"),
            sum($"price_c").as("sum_price_c"))
          .select(lit(v).as("version"), $"n_rows", $"xor_key", $"sum_price_c")
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // File skipping THROUGH THE SQL SURFACE: the manifest names its stats
    // column (scol), so a plain `WHERE o_orderkey BETWEEN lo AND hi` pushed
    // into format("graftvt") prunes the file list from the log — the user
    // writes a predicate and the file index decides. The graded row runs
    // the range aggregate through the pure SQL path AND emits the
    // live/pruned file counts of the same filter's planned scan;
    // the oracle re-derives the prune decision from the raw manifest
    // (including the scol gate) and the aggregate from the full base
    // table — a relation that scans everything, over-prunes, or mis-reads
    // the stats column name fails the hash. Range differs from
    // etl_manifest_skipping's (5/8..6/8 vs 3/8..4/8) so the two rows can't
    // mask each other.
    "etl_sql_skipping" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      import graft.sources.{KnownFilesIndex, VersionedTable}
      val latest = VersionedTable.latestVersion(s, vtSeqPath)
      val nLive = VersionedTable.liveEntries(s, vtSeqPath, latest).size
      val mxKey = Tables.orders(s, d).agg(max($"o_orderkey"))
        .collect()(0).getLong(0)
      val (lo, hi) = (mxKey * 5 / 8, mxKey * 6 / 8)
      val cond = $"o_orderkey" >= lo && $"o_orderkey" <= hi
      val nScanned = KnownFilesIndex.filesScanned(
        VersionedTable.read(s, vtSeqPath, latest).filter(cond))
      s.read.format("graftvt").load(vtSeqPath).filter(cond)
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .select(lit(nLive.toLong).as("n_files_live"),
          lit(nScanned.toLong).as("n_files_scanned"),
          $"n_rows", $"xor_key", $"sum_price_c")
    }),

    // OPTIMIZE ... ZORDER BY as a commit, graded end to end: v0 is a
    // hash-fragmented single-partition layout (4 salted files, each
    // spanning the FULL (x, y) domain, no recorded stats — partition
    // pruning impossible by construction, stats skipping impossible by
    // layout), v1 is zorderCommit's Morton-clustered rewrite whose 16
    // files each record NARROW x AND y ranges in the manifest (mstats).
    // The graded row answers the same 2-D rectangle at both versions
    // through the SQL surface and emits live vs pruned file counts: the
    // oracle re-derives both prune decisions from the raw manifest
    // (parsing mstats with string functions — the flat col:min:max;…
    // encoding exists exactly so any engine can) and the aggregate from
    // the base table. Wrong clustering (wide per-file ranges), wrong
    // stats, over-pruning, or a broken time-travel read across the
    // rewrite all fail the hash. At 100 TB this is the difference
    // between a 2-D range probe opening every file and opening the few
    // whose rectangle intersects.
    "etl_zorder_commit" -> ((s, d) => {
      import s.implicits._
      writeZorderVtFixture(s, d)
      import graft.sources.{KnownFilesIndex, VersionedTable}
      // rectangle inside every SF's populated domain (x = custkey bucket
      // only reaches ~150 at the smallest SF; y residues are dense at all)
      val (lo1, hi1, lo2, hi2) = (32L, 95L, 256L, 511L)
      Seq(0, 1).map { v =>
        val nLive = VersionedTable.liveEntries(s, vtZPath, v).size.toLong
        val rect = $"x".between(lo1, hi1) && $"y".between(lo2, hi2)
        val nScan = KnownFilesIndex.filesScanned(
          VersionedTable.read(s, vtZPath, v).filter(rect))
        s.read.format("graftvt").option("versionAsOf", v).load(vtZPath)
          .filter(rect)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(o_orderkey)").as("xor_key"),
            sum($"price_c").as("sum_price_c"))
          .select(lit(v).as("version"), lit(nLive).as("n_files_live"),
            lit(nScan).as("n_files_scanned"),
            $"n_rows", $"xor_key", $"sum_price_c")
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // Batch change-data-feed through the SQL surface (Delta's
    // table_changes): option("readChangeFeed", true) + a version range is
    // the whole API — no VersionedTable.changes call in user code. Same
    // declarative oracle as etl_cdf_rows, so the option surface is graded
    // against the exact logical deltas, not against the library it wraps.
    "etl_sql_cdf" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      s.read.format("graftvt").option("readChangeFeed", "true")
        .option("startingVersion", 1).option("endingVersion", 2)
        .load(vtPath)
        .select($"_commit_version".as("version"),
          $"_change_type".as("change_type"), $"o_orderkey", $"price_c")
        .groupBy($"version", $"change_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .orderBy("version", "change_type")
    }),

    // Manifest row counts (Delta's numRecords): every commit records each
    // file's row count in the log, so "how many rows did commit v add"
    // (history's n_recs columns) and "how many rows is snapshot v"
    // (snapshotRowCount) are METADATA-ONLY — zero data I/O, the property
    // that makes count-queries and CDF sizing free at 100 TB. Graded on
    // the ts table (append + tombstone-delete history): per version, the
    // committed record delta and the metadata snapshot count are emitted
    // NEXT TO the actual scan count, and the oracle derives all three
    // independently from the base table — recorded counts that drift from
    // the data fail the hash.
    "etl_log_rowcounts" -> ((s, d) => {
      import s.implicits._
      writeVersionedFixture(s, d)
      import graft.sources.VersionedTable
      val recs = VersionedTable.history(s, vtTsPath)
        .select($"version", $"operation",
          coalesce($"n_recs_added", lit(0L)).as("recs_added"),
          coalesce($"n_recs_tombstoned", lit(0L)).as("recs_tombstoned"))
      (0 to 2).map { v =>
        val meta = VersionedTable.snapshotRowCount(s, vtTsPath, v)
          .getOrElse(-1L)
        VersionedTable.read(s, vtTsPath, v)
          .agg(count(lit(1)).as("n_rows_scan"))
          .select(lit(v).as("version"), lit(meta).as("n_rows_meta"),
            $"n_rows_scan")
      }.reduce(_ unionByName _)
        .join(recs, "version")
        .select($"version", $"operation", $"recs_added", $"recs_tombstoned",
          $"n_rows_meta", $"n_rows_scan")
        .orderBy("version")
    }),

    // Optimistic concurrency, graded end-to-end: the fixture RACES two
    // appendCommit writers (real threads, no orchestration) against the
    // same table — the conditional manifest publish guarantees exactly one
    // wins each version and the loser rebases, so the final log has
    // exactly 3 versions and the final snapshot the union of all three
    // writes, REGARDLESS of which writer won the race. The pre-fix
    // protocol (rename-overwrite) would lose one append entirely — both
    // the version count and the row aggregate would miss.
    "etl_concurrent_commits" -> ((s, d) => {
      import s.implicits._
      writeConcurrentFixture(s, d)
      import graft.sources.VersionedTable
      val latest = VersionedTable.latestVersion(s, vtCcPath)
      VersionedTable.read(s, vtCcPath, latest)
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .select(lit(latest + 1L).as("n_versions"), $"n_rows", $"xor_key",
          $"sum_price_c")
    }),

    // Order-independent table checksum — the migration/replication
    // validation op: hash a canonical serialization of every row, reduce
    // with XOR (commutative + associative, so partitioning/order can't
    // change it, and no overflow is possible), alongside count and hash
    // min/max. Two systems agree on a table iff these agree; at 100 TB
    // this is one map-side-combinable hash-agg per partition key.
    "etl_table_checksum" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          conv(substring(md5(concat_ws("|",
            $"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_linestatus",
            round(Tables.dec($"l_quantity") * 100).cast("long"),
            round(Tables.dec($"l_extendedprice") * 100).cast("long"))
            .cast("binary")), 1, 15), 16, 10).cast("long").as("h"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_checksum"),
          min($"h").as("min_h"), max($"h").as("max_h"))
        .orderBy("l_returnflag")
    }),

    // Late-arriving dimension handling: facts whose dim row hasn't landed
    // yet keep flowing (left join + sentinel surrogate) instead of being
    // dropped or blocking the load; the per-status report counts the
    // backfill queue and names its first key. The missing-dim set is
    // simulated by withholding every 17th customer. At 100 TB the dim
    // probe is the usual broadcast; the backfill re-join later touches
    // only rows with the sentinel — a tiny anti-join-shaped slice.
    "etl_late_arriving_dim" -> ((s, d) => {
      import s.implicits._
      val dim = Tables.customer(s, d)
        .filter($"c_custkey" % 17 =!= 0)
        .select($"c_custkey", $"c_nationkey")
      Tables.orders(s, d)
        .join(broadcast(dim), $"o_custkey" === $"c_custkey", "left")
        .withColumn("nation_sk",
          coalesce($"c_nationkey".cast("long"), lit(-1L)))
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_facts"),
          sum(when($"c_custkey".isNull, 1L).otherwise(0L)).as("n_missing"),
          min(when($"c_custkey".isNull, $"o_orderkey")).as("first_backfill_key"),
          count_distinct($"nation_sk").as("n_nation_sk"))
        .withColumn("missing_ppm", expr("n_missing * 1000000 div n_facts"))
        .orderBy("o_orderstatus")
    }),

    // Partition-layout profiling: the report you run BEFORE picking a
    // partition scheme at 100 TB — per candidate key (order month), row
    // count, share of total (ppm), and skew vs the mean partition (e6;
    // 1 000 000 = perfectly even). One hash-agg over the scan + a
    // broadcast single-row total; the skew_e6 column directly answers
    // "does this key need salting or AQE skew-split?" (SCALING.md's
    // decision rule: worry past ~4x).
    "etl_partition_stats" -> ((s, d) => {
      import s.implicits._
      val byMonth = Tables.orders(s, d)
        .groupBy(date_format($"o_orderdate", "yyyy-MM").as("part_key"))
        .agg(count(lit(1)).as("n_rows"))
      val glob = byMonth.agg(sum($"n_rows").as("total"),
        count(lit(1)).as("n_parts"))
      byMonth.crossJoin(broadcast(glob))
        .select($"part_key", $"n_rows",
          expr("n_rows * 1000000 div total").as("share_ppm"),
          expr("n_rows * n_parts * 1000000 div total").as("skew_e6"))
        .orderBy("part_key")
    }),

    // The versioned table as a CATALOG object — pure SQL DDL/DML end to
    // end, zero Scala API: CREATE TABLE ... USING graftvt AS SELECT (CTAS
    // → create, v0), INSERT INTO (→ appendCommit, v1), INSERT OVERWRITE
    // (→ overwriteCommit, v2 — whole-table replace as ONE atomic version,
    // history retained). The read-back is pure SQL too: the final state
    // through the catalog NAME (which must see the post-write snapshot in
    // the same session — the relation re-pins after its own commits), the
    // pre-overwrite snapshots through versionAsOf temp views. Emitting
    // each version's history OPERATION string grades the statement→commit
    // mapping itself; the oracle reconstructs every version's contents
    // (and the expected operation) from the base table.
    "etl_sql_catalog" -> ((s, d) => {
      import s.implicits._
      val fs = new org.apache.hadoop.fs.Path(vtCatPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtCatPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_cat")
      Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
        .createOrReplaceTempView("graft_cat_base")
      s.sql(s"CREATE TABLE graft_vt_cat USING graftvt " +
        s"OPTIONS (path '$vtCatPath', partitionCol 'pmonth') AS " +
        "SELECT * FROM graft_cat_base " +
        "WHERE pmonth >= '1997-01' AND pmonth <= '1997-05'")
      s.sql("INSERT INTO graft_vt_cat SELECT * FROM graft_cat_base " +
        "WHERE pmonth >= '1997-06' AND pmonth <= '1997-08'")
      s.sql("INSERT OVERWRITE graft_vt_cat SELECT * FROM graft_cat_base " +
        "WHERE pmonth >= '1997-02' AND pmonth <= '1997-04'")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_cat_v0 " +
        s"USING graftvt OPTIONS (path '$vtCatPath', versionAsOf '0')")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_cat_v1 " +
        s"USING graftvt OPTIONS (path '$vtCatPath', versionAsOf '1')")
      def agg(view: String, v: Int) =
        s.sql(s"SELECT CAST($v AS INT) AS version, COUNT(*) AS n_rows, " +
          "bit_xor(o_orderkey) AS xor_key, SUM(price_c) AS sum_price_c " +
          s"FROM $view")
      val ops = graft.sources.VersionedTable.history(s, vtCatPath)
        .select($"version", $"operation")
      agg("graft_vt_cat_v0", 0)
        .unionByName(agg("graft_vt_cat_v1", 1))
        .unionByName(agg("graft_vt_cat", 2))
        .join(ops, "version")
        .select($"version", $"operation", $"n_rows", $"xor_key",
          $"sum_price_c")
        .orderBy("version")
    }),

    // SQL MERGE INTO routing to mergeCommit (GraftVtMergeRule, injected
    // via GraftExtensions): one statement carrying all three action kinds
    // — conditional DELETE, unconditional full-row UPDATE, unconditional
    // INSERT — against a catalog graftvt table, with the change source a
    // plain temp view. The merge takes ONE versioned commit (operation
    // string graded), the pre-merge snapshot stays time-travelable (v0
    // graded through a versionAsOf view), and the final state must equal
    // the oracle's declarative reconstruction of update-minus-delete-
    // plus-insert. ON includes the partition column (the change-batch
    // contract addresses rows by (key, partition) — the rule enforces
    // it), so the translation is SQL-exact.
    "etl_sql_merge_into" -> ((s, d) => {
      import s.implicits._
      val fs = new org.apache.hadoop.fs.Path(vtMrgPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtMrgPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_mrg")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      graft.sources.VersionedTable.create(s, vtMrgPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-03"),
        "pmonth")
      s.sql(s"CREATE TABLE graft_vt_mrg USING graftvt " +
        s"OPTIONS (path '$vtMrgPath', partitionCol 'pmonth')")
      // change source, derived deterministically from the base slice:
      // price updates (+555) for key%10=3 in 1997-02..03, deletes for
      // key%100=7 in 1997-01..02 (disjoint by key pattern), inserts =
      // the whole 1997-04 window (absent from the table)
      val isUpd = $"o_orderkey" % 10 === 3 &&
        $"pmonth" >= "1997-02" && $"pmonth" <= "1997-03"
      val isDel = $"o_orderkey" % 100 === 7 &&
        $"pmonth" >= "1997-01" && $"pmonth" <= "1997-02"
      base.filter(isUpd || isDel || $"pmonth" === "1997-04")
        .withColumn("price_c",
          when(isUpd, $"price_c" + 555).otherwise($"price_c"))
        .withColumn("kind", when(isDel, lit("d")).otherwise(lit("u")))
        .createOrReplaceTempView("graft_mrg_src")
      s.sql(
        """MERGE INTO graft_vt_mrg t USING graft_mrg_src s
          |ON t.o_orderkey = s.o_orderkey AND t.pmonth = s.pmonth
          |WHEN MATCHED AND s.kind = 'd' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_mrg_v0 " +
        s"USING graftvt OPTIONS (path '$vtMrgPath', versionAsOf '0')")
      def agg(view: String, v: Int) =
        s.sql(s"SELECT CAST($v AS INT) AS version, COUNT(*) AS n_rows, " +
          "bit_xor(o_orderkey) AS xor_key, SUM(price_c) AS sum_price_c " +
          s"FROM $view")
      val ops = graft.sources.VersionedTable.history(s, vtMrgPath)
        .select($"version", $"operation")
      agg("graft_vt_mrg_v0", 0)
        .unionByName(agg("graft_vt_mrg", 1))
        .join(ops, "version")
        .select($"version", $"operation", $"n_rows", $"xor_key",
          $"sum_price_c")
        .orderBy("version")
    }),

    // MULTI-COLUMN partitioning (partitionCol = "pmonth,bucket"): the
    // manifest records each file's partition as the escaped
    // `pmonth=…/bucket=…` PATH FRAGMENT (Hive/Iceberg's spec string) and
    // the layout nests one directory level per column. Graded end to end
    // on a 2-level layout: create (2 months × 3 buckets) + append (month
    // 3) + a tombstone delete scoped to ONE sub-partition — the row emits,
    // PER LIVE SUB-PARTITION, the manifest-derived layout (data-file and
    // tombstone counts straight from the log's part strings) next to the
    // visible content (count/xor/sum through a partValues-pruned read of
    // exactly that composite key). The oracle re-derives the part strings
    // AND both layers from the base table: a wrong fragment encoding, a
    // tombstone filed under the wrong sub-partition, or a composite-key
    // read that scans siblings all fail the hash. At 100 TB this is the
    // (date, source)-style layout where conflict scope and CDF bounding
    // shrink from a whole date to one source slice.
    "etl_vt_multipart" -> ((s, d) => {
      import s.implicits._
      import graft.sources.VersionedTable
      writeMultipartFixture(s, d)
      val latest = VersionedTable.latestVersion(s, vtMpPath)
      val entries = VersionedTable.liveEntries(s, vtMpPath, latest)
      val layout = entries.groupBy(_.part).toSeq.map { case (part, es) =>
        (part, es.count(_.action == "add").toLong,
          es.count(_.action == "tomb").toLong)
      }.sortBy(_._1)
      // content: ONE snapshot read grouped by the partition columns (the
      // composite-key PRUNED read path is plan-pinned in VtMultiPartSpec;
      // re-reading per part here would scan the table |parts| times);
      // layout: the manifest, joined in as a literal frame
      val layoutDf = layout
        .toDF("part", "n_data_files", "n_tomb_files")
      VersionedTable.read(s, vtMpPath, latest)
        .groupBy(concat(lit("pmonth="), $"pmonth", lit("/bucket="),
          $"bucket").as("part"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .join(broadcast(layoutDf), "part")
        .select($"part", $"n_data_files", $"n_tomb_files", $"n_rows",
          $"xor_key", $"sum_price_c")
        .orderBy("part")
    }),

    // PARTITION pruning from pushed SQL filters (Delta's behavior): a
    // plain `WHERE pmonth = '1997-02' AND bucket IN ('0','2')` on a
    // graftvt relation must decide the file list FROM THE MANIFEST's part
    // keys, which name their columns (no reader option) — at 100 TB the
    // other partitions' files are never listed, let alone opened. The row
    // runs the aggregate through the pure SQL path and emits live vs
    // scanned file counts (the scanned count from the same filter's
    // planned scan over the library read);
    // the oracle recomputes the counts from the partition domain and the
    // aggregate from the base table. Over-pruning (missing rows),
    // under-pruning (wrong n_scanned), or a broken multi-column key
    // encoding all fail the hash. VtMultiPartSpec proves the relation
    // APPLIES the prune (a deleted sibling file is never opened).
    "etl_sql_partition_prune" -> ((s, d) => {
      import s.implicits._
      import graft.sources.{KnownFilesIndex, VersionedTable}
      writeMultipartFixture(s, d)
      val latest = VersionedTable.latestVersion(s, vtMpPath)
      val nLive = VersionedTable.liveEntries(s, vtMpPath, latest)
        .count(_.action == "add").toLong
      val cond = $"pmonth" === "1997-02" && $"bucket".isin("0", "2")
      val nScan = KnownFilesIndex.filesScanned(
        VersionedTable.read(s, vtMpPath, latest).filter(cond))
      s.read.format("graftvt").load(vtMpPath).filter(cond)
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .select(lit(nLive).as("n_files_live"),
          lit(nScan).as("n_files_scanned"),
          $"n_rows", $"xor_key", $"sum_price_c")
    }),

    // SQL UPDATE routing to a partition-scoped copy-on-write commit
    // (GraftVtDmlRule): the statement's predicate names a row condition AND
    // a partition range, and the commit must rewrite ONLY the partitions
    // that hold matching rows — graded by emitting the commit's file
    // counts (n_added/n_removed = the affected-month count, which the
    // oracle re-derives from the data; month 1997-01 matching no predicate
    // row must NOT be rewritten) next to each version's full content.
    // Time travel across the UPDATE is graded through a versionAsOf view.
    "etl_sql_update" -> ((s, d) => {
      import s.implicits._
      val fs = new org.apache.hadoop.fs.Path(vtUpdPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtUpdPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_upd")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      graft.sources.VersionedTable.create(s, vtUpdPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-03"),
        "pmonth")
      s.sql(s"CREATE TABLE graft_vt_upd USING graftvt " +
        s"OPTIONS (path '$vtUpdPath', partitionCol 'pmonth')")
      s.sql("UPDATE graft_vt_upd SET price_c = price_c + 111 " +
        "WHERE o_orderkey % 10 = 3 AND pmonth >= '1997-02'")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_upd_v0 " +
        s"USING graftvt OPTIONS (path '$vtUpdPath', versionAsOf '0')")
      def agg(view: String, v: Int) =
        s.sql(s"SELECT CAST($v AS INT) AS version, COUNT(*) AS n_rows, " +
          "bit_xor(o_orderkey) AS xor_key, SUM(price_c) AS sum_price_c " +
          s"FROM $view")
      val ops = graft.sources.VersionedTable.history(s, vtUpdPath)
        .select($"version", $"operation", $"n_added", $"n_removed")
      agg("graft_vt_upd_v0", 0)
        .unionByName(agg("graft_vt_upd", 1))
        .join(ops, "version")
        .select($"version", $"operation", $"n_added", $"n_removed",
          $"n_rows", $"xor_key", $"sum_price_c")
        .orderBy("version")
    }),

    // SQL DELETE, both execution strategies in one graded history: v1 is a
    // partition-predicate delete (`WHERE pmonth = …`) that must be
    // METADATA-ONLY — n_added = 0 proves no data was read or written, the
    // Delta partition-delete fast path — and v2 is a row-predicate delete
    // that must rewrite exactly the partitions holding matching rows
    // (n_added/n_removed = the affected-month count, oracle-derived). Both
    // old states stay time-travelable through versionAsOf views.
    "etl_sql_delete" -> ((s, d) => {
      import s.implicits._
      val fs = new org.apache.hadoop.fs.Path(vtDelPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtDelPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_del")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      graft.sources.VersionedTable.create(s, vtDelPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-04"),
        "pmonth")
      s.sql(s"CREATE TABLE graft_vt_del USING graftvt " +
        s"OPTIONS (path '$vtDelPath', partitionCol 'pmonth')")
      s.sql("DELETE FROM graft_vt_del WHERE pmonth = '1997-04'")
      s.sql("DELETE FROM graft_vt_del WHERE o_orderkey % 100 = 7")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_del_v0 " +
        s"USING graftvt OPTIONS (path '$vtDelPath', versionAsOf '0')")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_del_v1 " +
        s"USING graftvt OPTIONS (path '$vtDelPath', versionAsOf '1')")
      def agg(view: String, v: Int) =
        s.sql(s"SELECT CAST($v AS INT) AS version, COUNT(*) AS n_rows, " +
          "bit_xor(o_orderkey) AS xor_key, SUM(price_c) AS sum_price_c " +
          s"FROM $view")
      val ops = graft.sources.VersionedTable.history(s, vtDelPath)
        .select($"version", $"operation", $"n_added", $"n_removed")
      agg("graft_vt_del_v0", 0)
        .unionByName(agg("graft_vt_del_v1", 1))
        .unionByName(agg("graft_vt_del", 2))
        .join(ops, "version")
        .select($"version", $"operation", $"n_added", $"n_removed",
          $"n_rows", $"xor_key", $"sum_price_c")
        .orderBy("version")
    }),

    // The SQL maintenance verbs (GraftSqlParser — Delta's delegating-
    // parser architecture): a table fragmented by four commits (create +
    // 3 appends, one file per month each) is compacted by pure-SQL
    // `OPTIMIZE` (one commit, one file per month, content unchanged),
    // `VACUUM ... RETAIN 1 VERSIONS` then reclaims exactly the
    // unreferenced fragments (count graded — the oracle re-derives the
    // per-commit file counts from the data), and the per-version ledger
    // itself is read through the `DESCRIBE HISTORY` statement, so all
    // three verbs are inside the graded dataflow.
    "etl_sql_maintenance" -> ((s, d) => {
      import s.implicits._
      val fs = new org.apache.hadoop.fs.Path(vtMntPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtMntPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_mnt")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
        .filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-03")
      graft.sources.VersionedTable.create(s, vtMntPath,
        base.filter($"o_orderkey" % 4 === 0), "pmonth")
      (1 to 3).foreach(i => graft.sources.VersionedTable.appendCommit(
        s, vtMntPath, base.filter($"o_orderkey" % 4 === i), "pmonth"))
      s.sql(s"CREATE TABLE graft_vt_mnt USING graftvt " +
        s"OPTIONS (path '$vtMntPath', partitionCol 'pmonth')")
      s.sql("OPTIMIZE graft_vt_mnt")
      val nDeleted = s.sql("VACUUM graft_vt_mnt RETAIN 1 VERSIONS GRACE 0 HOURS")
        .head().getLong(0)
      val content = s.sql("SELECT COUNT(*) AS n_rows, " +
        "bit_xor(o_orderkey) AS xor_key, SUM(price_c) AS sum_price_c " +
        "FROM graft_vt_mnt")
      s.sql("DESCRIBE HISTORY graft_vt_mnt")
        .select($"version", $"operation", $"n_added", $"n_removed")
        .crossJoin(broadcast(content.withColumn("n_deleted", lit(nDeleted))))
        .select($"version", $"operation", $"n_added", $"n_removed",
          $"n_deleted", $"n_rows", $"xor_key", $"sum_price_c")
        .orderBy("version")
    }),

    // SQL RESTORE — zero-copy rollback as a commit (Delta's RESTORE
    // TABLE): after an UPDATE rewrote two months and a DELETE dropped one,
    // `RESTORE ... TO VERSION AS OF 0` must bring back exactly v0's
    // content by RE-REFERENCING v0's files (the `reused` flag proves no
    // byte was copied: every file the restore adds is one of v0's),
    // removing only the rewritten files, while v1/v2 stay time-travelable
    // (history grows — the rollback is undoable). Per-version file counts
    // and all four states are oracle-derived from the data.
    "etl_sql_restore" -> ((s, d) => {
      import s.implicits._
      import graft.sources.VersionedTable
      val fs = new org.apache.hadoop.fs.Path(vtRstPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtRstPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_rst")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      VersionedTable.create(s, vtRstPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-03"),
        "pmonth")
      s.sql(s"CREATE TABLE graft_vt_rst USING graftvt " +
        s"OPTIONS (path '$vtRstPath', partitionCol 'pmonth')")
      s.sql("UPDATE graft_vt_rst SET price_c = price_c + 111 " +
        "WHERE o_orderkey % 10 = 3 AND pmonth >= '1997-02'")
      s.sql("DELETE FROM graft_vt_rst WHERE pmonth = '1997-01'")
      s.sql("RESTORE TABLE graft_vt_rst TO VERSION AS OF 0")
      val v0Files = VersionedTable.liveEntries(s, vtRstPath, 0)
        .map(_.file).toSet
      val v3Adds = VersionedTable.liveEntries(s, vtRstPath, 3)
        .filter(e => e.version == 3 && e.action == "add").map(_.file).toSet
      val reused = v3Adds.nonEmpty && v3Adds.subsetOf(v0Files)
      (0 to 2).foreach(v => s.sql(
        s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_rst_v$v " +
        s"USING graftvt OPTIONS (path '$vtRstPath', versionAsOf '$v')"))
      def agg(view: String, v: Int) =
        s.sql(s"SELECT CAST($v AS INT) AS version, COUNT(*) AS n_rows, " +
          "bit_xor(o_orderkey) AS xor_key, SUM(price_c) AS sum_price_c " +
          s"FROM $view")
      val ops = VersionedTable.history(s, vtRstPath)
        .select($"version", $"operation", $"n_added", $"n_removed")
      agg("graft_vt_rst_v0", 0)
        .unionByName(agg("graft_vt_rst_v1", 1))
        .unionByName(agg("graft_vt_rst_v2", 2))
        .unionByName(agg("graft_vt_rst", 3))
        .join(ops, "version")
        .select($"version", $"operation", $"n_added", $"n_removed",
          lit(reused).as("reused"), $"n_rows", $"xor_key", $"sum_price_c")
        .orderBy("version")
    }),

    // Native time-travel SQL — `FROM t VERSION AS OF n` and `TIMESTAMP AS
    // OF ts` resolved to the pinned snapshot (GraftVtTimeTravelRule; the
    // grammar is Spark's own, the V1 resolution is graft's). The fixture
    // commits carry explicit metadata timestamps one hour apart so the
    // TIMESTAMP pins are deterministic: an epoch-ms integer exactly at
    // v1's commit → v1, a far-future string timestamp → latest. Each
    // VERSION AS OF read is additionally proven equal (collected rows) to
    // the `versionAsOf` VIEW-option path — `matches_view` grades that the
    // two pinning surfaces are one code path.
    "etl_sql_time_travel_native" -> ((s, d) => {
      import s.implicits._
      import graft.sources.VersionedTable
      val fs = new org.apache.hadoop.fs.Path(vtTtPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtTtPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_tt")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      val t0 = 1700000000000L
      val h = 3600L * 1000
      VersionedTable.create(s, vtTtPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-03"),
        "pmonth", ts = Some(t0))
      VersionedTable.appendCommit(s, vtTtPath,
        base.filter($"pmonth" === "1997-04"), "pmonth", ts = Some(t0 + h))
      VersionedTable.dropPartitionsCommit(s, vtTtPath, Set("1997-01"),
        ts = Some(t0 + 2 * h))
      s.sql(s"CREATE TABLE graft_vt_tt USING graftvt " +
        s"OPTIONS (path '$vtTtPath', partitionCol 'pmonth')")
      def agg(from: String, src: String, v: Int) =
        s.sql(s"SELECT '$src' AS src, CAST($v AS INT) AS version, " +
          "COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key, " +
          s"SUM(price_c) AS sum_price_c FROM $from")
      val matches = (0 to 2).forall { v =>
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_tt_v$v " +
          s"USING graftvt OPTIONS (path '$vtTtPath', versionAsOf '$v')")
        agg(s"graft_vt_tt VERSION AS OF $v", "v", v).collect().toSeq ==
          agg(s"graft_vt_tt_v$v", "v", v).collect().toSeq
      }
      Seq(
        agg("graft_vt_tt VERSION AS OF 0", "v", 0),
        agg("graft_vt_tt VERSION AS OF 1", "v", 1),
        agg("graft_vt_tt VERSION AS OF 2", "v", 2),
        agg(s"graft_vt_tt TIMESTAMP AS OF ${t0 + h}", "ts", 1),
        agg("graft_vt_tt TIMESTAMP AS OF '2100-01-01 00:00:00'", "ts", 2))
        .reduce(_ unionByName _)
        .withColumn("matches_view", lit(matches))
        .orderBy("src", "version")
    }),

    // ALTER TABLE ADD COLUMNS — schema evolution as a METADATA-ONLY
    // commit (GraftVtAlterRule → VersionedTable.addColumnsCommit): v1
    // widens the schema without touching a data file, v2 inserts rows
    // that carry the new column. Graded per version through the catalog
    // table with native time travel: v0 reads the NARROW schema (n_cols
    // proves it), v1 reads the widened schema with null backfill
    // (n_flag = 0 over the same rows), v2 mixes pre- and post-evolution
    // files in one scan (COUNT(flag) counts only the new month's rows).
    "etl_sql_alter_add_column" -> ((s, d) => {
      import s.implicits._
      import graft.sources.VersionedTable
      val fs = new org.apache.hadoop.fs.Path(vtAltPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtAltPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_alt")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      base.createOrReplaceTempView("graft_vt_alt_src")
      VersionedTable.create(s, vtAltPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-02"),
        "pmonth")
      s.sql(s"CREATE TABLE graft_vt_alt USING graftvt " +
        s"OPTIONS (path '$vtAltPath', partitionCol 'pmonth')")
      s.sql("ALTER TABLE graft_vt_alt ADD COLUMNS (flag BIGINT)")
      s.sql("INSERT INTO graft_vt_alt " +
        "SELECT o_orderkey, price_c, pmonth, o_orderkey % 5 " +
        "FROM graft_vt_alt_src WHERE pmonth = '1997-03'")
      def aggV(v: Int, hasFlag: Boolean) = {
        val from = s"graft_vt_alt VERSION AS OF $v"
        val nCols = s.sql(s"SELECT * FROM $from").columns.length
        val flagExprs =
          if (hasFlag) "COUNT(flag) AS n_flag, " +
            "CAST(coalesce(SUM(flag), 0) AS BIGINT) AS sum_flag"
          else "CAST(0 AS BIGINT) AS n_flag, CAST(0 AS BIGINT) AS sum_flag"
        s.sql(s"SELECT CAST($v AS INT) AS version, " +
          s"CAST($nCols AS INT) AS n_cols, COUNT(*) AS n_rows, " +
          s"bit_xor(o_orderkey) AS xor_key, SUM(price_c) AS sum_price_c, " +
          s"$flagExprs FROM $from")
      }
      aggV(0, hasFlag = false)
        .unionByName(aggV(1, hasFlag = true))
        .unionByName(aggV(2, hasFlag = true))
        .orderBy("version")
    }),

    // ALTER TABLE DROP COLUMN — schema NARROWING as a metadata-only
    // commit (parser-routed GraftVtDropColumnsCommand →
    // VersionedTable.dropColumnsCommit; Spark itself rejects DROP for
    // every V1 table). The graded lifecycle: v0 creates WITH a flag
    // column, v1 drops it (n_cols 4 → 3; the bytes stay in the files but
    // no read surfaces them — n_flag must be 0 over the same rows), v2
    // inserts a month through the narrowed schema, v3 OPTIMIZE physically
    // purges the dropped bytes with the content hash UNCHANGED, v4
    // re-adds the name (legal only after the purge — the engine refuses
    // it before OPTIMIZE, or old values would resurface) and reads pure
    // null. Every version pins via native time travel in one scan chain.
    "etl_sql_alter_drop_column" -> ((s, d) => {
      import s.implicits._
      import graft.sources.VersionedTable
      val fs = new org.apache.hadoop.fs.Path(vtDropPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtDropPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_drop")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        ($"o_orderkey" % 5).as("flag"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      base.createOrReplaceTempView("graft_vt_drop_src")
      VersionedTable.create(s, vtDropPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-02"),
        "pmonth")
      s.sql(s"CREATE TABLE graft_vt_drop USING graftvt " +
        s"OPTIONS (path '$vtDropPath', partitionCol 'pmonth')")
      s.sql("ALTER TABLE graft_vt_drop DROP COLUMN flag")
      s.sql("INSERT INTO graft_vt_drop " +
        "SELECT o_orderkey, price_c, pmonth " +
        "FROM graft_vt_drop_src WHERE pmonth = '1997-03'")
      s.sql("OPTIMIZE graft_vt_drop")
      s.sql("ALTER TABLE graft_vt_drop ADD COLUMNS (flag BIGINT)")
      def aggV(v: Int, hasFlag: Boolean) = {
        val from = s"graft_vt_drop VERSION AS OF $v"
        val nCols = s.sql(s"SELECT * FROM $from").columns.length
        val flagExprs =
          if (hasFlag) "COUNT(flag) AS n_flag, " +
            "CAST(coalesce(SUM(flag), 0) AS BIGINT) AS sum_flag"
          else "CAST(0 AS BIGINT) AS n_flag, CAST(0 AS BIGINT) AS sum_flag"
        s.sql(s"SELECT CAST($v AS INT) AS version, " +
          s"CAST($nCols AS INT) AS n_cols, COUNT(*) AS n_rows, " +
          s"bit_xor(o_orderkey) AS xor_key, SUM(price_c) AS sum_price_c, " +
          s"$flagExprs FROM $from")
      }
      aggV(0, hasFlag = true)
        .unionByName(aggV(1, hasFlag = false))
        .unionByName(aggV(2, hasFlag = false))
        .unionByName(aggV(3, hasFlag = false))
        .unionByName(aggV(4, hasFlag = true))
        .orderBy("version")
    }),

    // ALTER TABLE RENAME COLUMN — the one schema verb a name-addressed
    // log CANNOT do metadata-only (parquet resolves columns by name; no
    // column mapping), so it is an explicit REWRITE commit
    // (renameColumnCommit). Graded: v1 renames price_c -> amount_c with
    // every value preserved (sum_c is computed from whichever name the
    // version carries — a lost or nulled row breaks the hash), v2
    // inserts through the renamed schema, time travel below the rename
    // still reads the OLD name, and the column list is part of the row
    // so the rename's visibility is itself hashed.
    "etl_sql_alter_rename_column" -> ((s, d) => {
      import s.implicits._
      import graft.sources.VersionedTable
      val fs = new org.apache.hadoop.fs.Path(vtRenPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtRenPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_ren")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      base.createOrReplaceTempView("graft_vt_ren_src")
      VersionedTable.create(s, vtRenPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-02"),
        "pmonth")
      s.sql(s"CREATE TABLE graft_vt_ren USING graftvt " +
        s"OPTIONS (path '$vtRenPath', partitionCol 'pmonth')")
      s.sql("ALTER TABLE graft_vt_ren RENAME COLUMN price_c TO amount_c")
      s.sql("INSERT INTO graft_vt_ren " +
        "SELECT o_orderkey, price_c, pmonth " +
        "FROM graft_vt_ren_src WHERE pmonth = '1997-03'")
      def aggV(v: Int) = {
        val from = s"graft_vt_ren VERSION AS OF $v"
        val cols = s.sql(s"SELECT * FROM $from").columns
        val measure = if (cols.contains("amount_c")) "amount_c" else "price_c"
        s.sql(s"SELECT CAST($v AS INT) AS version, " +
          s"'${cols.mkString(",")}' AS cols, COUNT(*) AS n_rows, " +
          s"bit_xor(o_orderkey) AS xor_key, SUM($measure) AS sum_c " +
          s"FROM $from")
      }
      aggV(0).unionByName(aggV(1)).unionByName(aggV(2)).orderBy("version")
    }),

    // CHECK constraints — Delta's table constraints over the versioned
    // log (addConstraintCommit / write-path enforcement /
    // dropConstraintCommit). The graded lifecycle: v1 ADDs
    // CHECK (price_c >= 0) (admission scan passes on the seed months),
    // v2 inserts a clean month through the gate, a VIOLATING insert is
    // then REJECTED pre-commit (`rejected` carries proof: the version
    // did not advance and the row count is unchanged), v3 drops the
    // constraint and v4 lands the same once-rejected row. n_active =
    // the active-constraint count at each version — the constraint set
    // itself is versioned state.
    "etl_sql_constraint" -> ((s, d) => {
      import s.implicits._
      import graft.sources.VersionedTable
      val fs = new org.apache.hadoop.fs.Path(vtConPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtConPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_con")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      base.createOrReplaceTempView("graft_vt_con_src")
      VersionedTable.create(s, vtConPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-02"),
        "pmonth")
      s.sql(s"CREATE TABLE graft_vt_con USING graftvt " +
        s"OPTIONS (path '$vtConPath', partitionCol 'pmonth')")
      s.sql("ALTER TABLE graft_vt_con " +
        "ADD CONSTRAINT price_pos CHECK (price_c >= 0)")
      s.sql("INSERT INTO graft_vt_con " +
        "SELECT o_orderkey, price_c, pmonth " +
        "FROM graft_vt_con_src WHERE pmonth = '1997-03'")
      val beforeReject = VersionedTable.latestVersion(s, vtConPath)
      val rejected =
        try {
          s.sql("INSERT INTO graft_vt_con VALUES (-99, -1, '1997-01')")
          false
        } catch { case t: Throwable =>
          t.getMessage != null && t.getMessage.contains("price_pos") &&
            VersionedTable.latestVersion(s, vtConPath) == beforeReject
        }
      s.sql("ALTER TABLE graft_vt_con DROP CONSTRAINT price_pos")
      s.sql("INSERT INTO graft_vt_con VALUES (-99, -1, '1997-01')")
      // n_active is read back from the LOG (constraintsAt), so the graded
      // row proves the per-version constraint state, not the test's input
      def aggV(v: Int) =
        s.sql(s"SELECT CAST($v AS INT) AS version, COUNT(*) AS n_rows, " +
          "bit_xor(o_orderkey) AS xor_key, SUM(price_c) AS sum_price_c " +
          s"FROM graft_vt_con VERSION AS OF $v")
          .withColumn("n_active", lit(
            VersionedTable.constraintsAt(s, vtConPath, v).size).cast("int"))
      aggV(0).unionByName(aggV(1)).unionByName(aggV(2))
        .unionByName(aggV(3)).unionByName(aggV(4))
        .withColumn("rejected", lit(rejected))
        .orderBy("version")
    }),

    // SHALLOW CLONE — zero-copy dataset fork (cloneCommit): the clone's
    // v0 re-references the PINNED source snapshot's files in place
    // (zero_copy proves every v0 manifest entry points outside the
    // clone's directory; n_referenced is the command's own file count),
    // then the two tables diverge — the clone gains 1997-04, the source
    // gains 1997-05, and neither sees the other's month. The clone pins
    // VERSION AS OF 0, so the source's pre-clone append of 1997-03 is
    // NOT part of the fork either.
    "etl_sql_clone" -> ((s, d) => {
      import s.implicits._
      import graft.sources.VersionedTable
      val fsrc = new org.apache.hadoop.fs.Path(vtClSrcPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fsrc.delete(new org.apache.hadoop.fs.Path(vtClSrcPath), true)
      fsrc.delete(new org.apache.hadoop.fs.Path(vtClDstPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_clsrc")
      s.sql("DROP TABLE IF EXISTS graft_vt_cldst")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      base.createOrReplaceTempView("graft_vt_cl_src")
      VersionedTable.create(s, vtClSrcPath,
        base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-02"),
        "pmonth")
      VersionedTable.appendCommit(s, vtClSrcPath,
        base.filter($"pmonth" === "1997-03"), "pmonth")
      s.sql(s"CREATE TABLE graft_vt_clsrc USING graftvt " +
        s"OPTIONS (path '$vtClSrcPath', partitionCol 'pmonth')")
      val cl = s.sql("CREATE TABLE graft_vt_cldst SHALLOW CLONE " +
        s"graft_vt_clsrc VERSION AS OF 0 LOCATION '$vtClDstPath'").head()
      s.sql("INSERT INTO graft_vt_cldst " +
        "SELECT o_orderkey, price_c, pmonth " +
        "FROM graft_vt_cl_src WHERE pmonth = '1997-04'")
      s.sql("INSERT INTO graft_vt_clsrc " +
        "SELECT o_orderkey, price_c, pmonth " +
        "FROM graft_vt_cl_src WHERE pmonth = '1997-05'")
      val cloneRoot = new org.apache.hadoop.fs.Path(vtClDstPath)
        .toUri.getPath
      val zeroCopy = VersionedTable.liveEntries(s, vtClDstPath, 0)
        .forall(e => !new org.apache.hadoop.fs.Path(
          VersionedTable.resolveFile(vtClDstPath, e.file))
          .toUri.getPath.startsWith(cloneRoot))
      def agg(side: String, from: String, v: Int) =
        s.sql(s"SELECT '$side' AS side, CAST($v AS INT) AS version, " +
          "COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key, " +
          s"SUM(price_c) AS sum_price_c FROM $from")
      agg("src", "graft_vt_clsrc", 2)
        .unionByName(agg("clone", "graft_vt_cldst VERSION AS OF 0", 0))
        .unionByName(agg("clone", "graft_vt_cldst", 1))
        .withColumn("zero_copy", lit(zeroCopy))
        .withColumn("n_referenced", lit(cl.getLong(1)))
        .orderBy("side", "version")
    }),

    // SQL CONVERT — zero-copy in-place adoption of a plain Hive-layout
    // parquet directory (Delta's CONVERT TO DELTA): the slice is written
    // by the PLAIN Spark writer (partition values live only in directory
    // names), CONVERT imports it as version 0 by reference (the
    // `imported` flag proves no manifest entry points at an
    // engine-written file), and the converted table is then driven
    // through the normal DML surface — INSERT (engine files joining
    // imported ones in one snapshot) and a COW UPDATE that retires one
    // imported file. Content is graded PER (version, month), so a
    // mis-reconstructed partition value — the column exists only in the
    // directory names — fails the hash row-by-row.
    "etl_sql_convert" -> ((s, d) => {
      import s.implicits._
      import graft.sources.VersionedTable
      val fs = new org.apache.hadoop.fs.Path(vtCnvPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(vtCnvPath), true)
      s.sql("DROP TABLE IF EXISTS graft_vt_cnv")
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-03")
        .repartition(col("pmonth"))
        .write.partitionBy("pmonth").parquet(vtCnvPath)
      s.sql(s"CONVERT TO graftvt '$vtCnvPath' PARTITIONED BY (pmonth)")
      val imported = VersionedTable.liveEntries(s, vtCnvPath, 0)
        .forall(e => !graft.sources.VersionedTable.engineOwned(e.file))
      s.sql(s"CREATE TABLE graft_vt_cnv USING graftvt " +
        s"OPTIONS (path '$vtCnvPath', partitionCol 'pmonth')")
      base.filter($"pmonth" === "1997-04")
        .createOrReplaceTempView("graft_cnv_ins")
      s.sql("INSERT INTO graft_vt_cnv SELECT * FROM graft_cnv_ins")
      s.sql("UPDATE graft_vt_cnv SET price_c = price_c + 111 " +
        "WHERE o_orderkey % 10 = 3 AND pmonth = '1997-02'")
      (0 to 1).foreach(v => s.sql(
        s"CREATE OR REPLACE TEMPORARY VIEW graft_vt_cnv_v$v " +
        s"USING graftvt OPTIONS (path '$vtCnvPath', versionAsOf '$v')"))
      def agg(view: String, v: Int) =
        s.sql(s"SELECT CAST($v AS INT) AS version, pmonth, " +
          "COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key, " +
          s"SUM(price_c) AS sum_price_c FROM $view GROUP BY pmonth")
      val ops = VersionedTable.history(s, vtCnvPath)
        .select($"version", $"operation", $"n_added", $"n_removed")
      agg("graft_vt_cnv_v0", 0)
        .unionByName(agg("graft_vt_cnv_v1", 1))
        .unionByName(agg("graft_vt_cnv", 2))
        .join(ops, "version")
        .select($"version", $"pmonth", $"operation", $"n_added",
          $"n_removed", lit(imported).as("imported"),
          $"n_rows", $"xor_key", $"sum_price_c")
        .orderBy("version", "pmonth")
    })
  )

  private[graft] val zorderPath = s"${graft.fixtureRoot}/zorder_orders"
  private val zorderWrittenFor =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Writes orders clustered by the Morton z-key: range-partitioned into 8
    * files on zval, sorted by zval within each — so every file/row-group
    * covers a contiguous z-range, i.e. a small (x, y) rectangle union with
    * narrow per-column min/max stats. Guard marks written only AFTER the
    * write completes (same crash-retry policy as the DPP fixture). */
  private[graft] def writeZorderFixture(s: org.apache.spark.sql.SparkSession,
                                        d: String): Unit =
    if (zorderWrittenFor.get() != d) zorderWrittenFor.synchronized {
      if (zorderWrittenFor.get() != d) {
        import s.implicits._
        Tables.orders(s, d)
          .select($"o_orderkey",
            ($"o_custkey" % 1024).as("x"),
            (datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
              .cast("long") % 1024).as("y"))
          .withColumn("zval", graft.plans.MortonInterleave.morton($"x", $"y", 10))
          .repartitionByRange(8, $"zval")
          .sortWithinPartitions($"zval")
          .write.mode("overwrite").parquet(zorderPath)
        zorderWrittenFor.set(d)
      }
    }

  private[graft] val fragPath = s"${graft.fixtureRoot}/frag_orders"
  private[graft] val compactPath = s"${graft.fixtureRoot}/compact_orders"
  private val compactWrittenFor =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Writes the fragmented month-partitioned layout (repartition(8) on the
    * order key hash — each month dir gets up to 8 small files, the
    * micro-batch-ingest pathology), then compacts it: repartition on the
    * partition key puts every month in exactly one writer task → exactly
    * one file per month dir. Guard marks written only AFTER both writes
    * complete (same crash-retry policy as the DPP/z-order fixtures). */
  private[graft] def writeCompactFixture(s: org.apache.spark.sql.SparkSession,
                                         d: String): Unit =
    if (compactWrittenFor.get() != d) compactWrittenFor.synchronized {
      if (compactWrittenFor.get() != d) {
        import s.implicits._
        Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey",
            date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
          .repartition(8, $"o_orderkey")
          .write.mode("overwrite").partitionBy("pmonth").parquet(fragPath)
        s.read.parquet(fragPath)
          .repartition(col("pmonth"))
          .write.mode("overwrite").partitionBy("pmonth").parquet(compactPath)
        compactWrittenFor.set(d)
      }
    }

  private[graft] val vtSqlWPath = s"${graft.fixtureRoot}/vt_orders_sqlw"
  private[graft] val vtCatPath = s"${graft.fixtureRoot}/vt_orders_cat"
  private[graft] val vtMrgPath = s"${graft.fixtureRoot}/vt_orders_mrg"
  private[graft] val vtMpPath = s"${graft.fixtureRoot}/vt_orders_mp"
  private[graft] val vtUpdPath = s"${graft.fixtureRoot}/vt_orders_upd"
  private[graft] val vtDelPath = s"${graft.fixtureRoot}/vt_orders_del"
  private[graft] val vtMntPath = s"${graft.fixtureRoot}/vt_orders_mnt"
  private[graft] val vtTtPath = s"${graft.fixtureRoot}/vt_orders_tt"
  private[graft] val vtAltPath = s"${graft.fixtureRoot}/vt_orders_alt"
  private[graft] val vtDropPath = s"${graft.fixtureRoot}/vt_orders_drop"
  private[graft] val vtRenPath = s"${graft.fixtureRoot}/vt_orders_ren"
  private[graft] val vtConPath = s"${graft.fixtureRoot}/vt_orders_con"
  private[graft] val vtClSrcPath = s"${graft.fixtureRoot}/vt_orders_clsrc"
  private[graft] val vtClDstPath = s"${graft.fixtureRoot}/vt_orders_cldst"
  private[graft] val vtRstPath = s"${graft.fixtureRoot}/vt_orders_rst"
  private[graft] val vtCnvPath = s"${graft.fixtureRoot}/vt_orders_cnv"
  private val mpWrittenFor =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** 2-level (pmonth, bucket) versioned table: v0 create (2 months × 3
    * buckets), v1 append (month 3), v2 tombstone delete scoped to the
    * (1997-02, bucket 1) sub-partition. Shared by etl_vt_multipart and
    * etl_sql_partition_prune. */
  private[graft] def writeMultipartFixture(s: org.apache.spark.sql.SparkSession,
                                           d: String): Unit =
    if (mpWrittenFor.get() != d) mpWrittenFor.synchronized {
      if (mpWrittenFor.get() != d) {
        import s.implicits._
        import graft.sources.VersionedTable
        val fs = new org.apache.hadoop.fs.Path(vtMpPath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(vtMpPath), true)
        val base = Tables.orders(s, d).select(
          $"o_orderkey",
          round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
          date_format($"o_orderdate", "yyyy-MM").as("pmonth"),
          ($"o_orderkey" % 3).cast("string").as("bucket"))
        VersionedTable.create(s, vtMpPath,
          base.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-02"),
          "pmonth,bucket")
        VersionedTable.appendCommit(s, vtMpPath,
          base.filter($"pmonth" === "1997-03"), "pmonth,bucket")
        VersionedTable.deleteCommit(s, vtMpPath,
          base.filter($"pmonth" === "1997-02" && $"bucket" === "1" &&
            $"o_orderkey" % 10 === 1)
            .select($"o_orderkey", $"pmonth", $"bucket"), "pmonth,bucket")
        mpWrittenFor.set(d)
      }
    }
  private[graft] val vtPath = s"${graft.fixtureRoot}/vt_orders"
  private[graft] val vtVacPath = s"${graft.fixtureRoot}/vt_orders_vac"
  private[graft] val vtAppPath = s"${graft.fixtureRoot}/vt_orders_app"
  private[graft] val vtSeqPath = s"${graft.fixtureRoot}/vt_orders_seq"
  private[graft] val vtOptPath = s"${graft.fixtureRoot}/vt_orders_opt"
  private[graft] val vtDvPath = s"${graft.fixtureRoot}/vt_orders_dv"
  private[graft] val vtTsPath = s"${graft.fixtureRoot}/vt_orders_ts"
  private[graft] val vtCcPath = s"${graft.fixtureRoot}/vt_orders_cc"
  private val ccWrittenFor =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Creates a versioned table, then RACES two appendCommit writers on
    * real threads with no coordination beyond the commit protocol itself.
    * Both must land (as versions 1 and 2 in either order): the content is
    * deterministic even though the winner isn't. */
  private[graft] def writeConcurrentFixture(s: org.apache.spark.sql.SparkSession,
                                            d: String): Unit =
    if (ccWrittenFor.get() != d) ccWrittenFor.synchronized {
      if (ccWrittenFor.get() != d) {
        import s.implicits._
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        import graft.sources.VersionedTable
        val fs = new org.apache.hadoop.fs.Path(graft.fixtureRoot)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val app = Tables.orders(s, d).select(
          $"o_orderkey",
          round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
          date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
        fs.delete(new org.apache.hadoop.fs.Path(vtCcPath), true)
        VersionedTable.create(s, vtCcPath,
          app.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-06"), "pmonth")
        val a = Future(VersionedTable.appendCommit(s, vtCcPath,
          app.filter($"pmonth" >= "1997-07" && $"pmonth" <= "1997-09"), "pmonth"))
        val b = Future(VersionedTable.appendCommit(s, vtCcPath,
          app.filter($"pmonth" >= "1997-10" && $"pmonth" <= "1997-12"), "pmonth"))
        val versions = Await.result(Future.sequence(Seq(a, b)), 10.minutes)
          .map(_.version).sorted
        require(versions == Seq(1, 2),
          s"concurrent appends took versions $versions — lost update?")
        ccWrittenFor.set(d)
      }
    }
  private[graft] val vtZPath = s"${graft.fixtureRoot}/vt_orders_z"
  private val zVtWrittenFor =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** v0: single-partition orders projected to two bucketized dimensions
    * (x = custkey bucket, y = orderdate epoch-day bucket), written
    * hash-salted across 4 files — every file spans the full (x, y) domain
    * and records no stats. v1: zorderCommit re-clusters into 16
    * Morton-ordered files with per-file x AND y ranges in the manifest.
    * Same rows throughout; only the layout (and hence prunability)
    * changes. */
  private[graft] def writeZorderVtFixture(s: org.apache.spark.sql.SparkSession,
                                          d: String): Unit =
    if (zVtWrittenFor.get() != d) zVtWrittenFor.synchronized {
      if (zVtWrittenFor.get() != d) {
        import s.implicits._
        import graft.sources.VersionedTable
        val fs = new org.apache.hadoop.fs.Path(graft.fixtureRoot)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val base = Tables.orders(s, d).select(
          $"o_orderkey",
          ($"o_custkey" % 1024).as("x"),
          (datediff($"o_orderdate".cast("date"),
            lit("1970-01-01").cast("date")).cast("long") % 1024).as("y"),
          round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
          lit("all").as("p"))
        fs.delete(new org.apache.hadoop.fs.Path(vtZPath), true)
        VersionedTable.create(s, vtZPath, base, "p", fileSplits = 4)
        VersionedTable.zorderCommit(s, vtZPath, "p", Seq("x", "y"), files = 16)
        zVtWrittenFor.set(d)
      }
    }

  private val vtWrittenFor =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Builds two identical manifest-versioned tables from orders — v0 full
    * create, v1 price-update merge over the 1996 partitions, v2 targeted
    * delete — then vacuums the second copy to the last 2 versions. The
    * change batches derive deterministically from the base slice (key
    * modulus + partition range), so every SF reproduces the same logical
    * history. Guard marks written only AFTER all commits + the vacuum
    * (same crash-retry policy as the DPP/z-order/compaction fixtures). */
  private[graft] def writeVersionedFixture(s: org.apache.spark.sql.SparkSession,
                                           d: String): Unit =
    if (vtWrittenFor.get() != d) vtWrittenFor.synchronized {
      if (vtWrittenFor.get() != d) {
        import s.implicits._
        import graft.sources.VersionedTable
        val fs = new org.apache.hadoop.fs.Path(graft.fixtureRoot)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val base = Tables.orders(s, d).select(
          $"o_orderkey", $"o_custkey",
          round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
          date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
        val changes1 = base
          .filter($"o_orderkey" % 10 === 3 &&
            $"pmonth" >= "1996-01" && $"pmonth" <= "1996-12")
          .withColumn("price_c", $"price_c" + 111L)
          .withColumn("op", lit("U")).withColumn("seq", lit(1L))
        val changes2 = base
          .filter($"o_orderkey" % 100 === 42 &&
            $"pmonth" >= "1996-03" && $"pmonth" <= "1996-06")
          .withColumn("op", lit("D")).withColumn("seq", lit(1L))
        Seq(vtPath, vtVacPath).foreach { p =>
          fs.delete(new org.apache.hadoop.fs.Path(p), true)
          VersionedTable.create(s, p, base, "pmonth")
          VersionedTable.mergeCommit(s, p, changes1, Seq("o_orderkey"), "pmonth")
          VersionedTable.mergeCommit(s, p, changes2, Seq("o_orderkey"), "pmonth")
        }
        VersionedTable.vacuum(s, vtVacPath, retainLast = 2)
        // third table: append-only ingest with one schema-widening commit
        val app = base.drop("o_custkey")
        fs.delete(new org.apache.hadoop.fs.Path(vtAppPath), true)
        VersionedTable.create(s, vtAppPath,
          app.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-06"), "pmonth")
        VersionedTable.appendCommit(s, vtAppPath,
          app.filter($"pmonth" >= "1997-07" && $"pmonth" <= "1997-09"), "pmonth")
        VersionedTable.appendCommit(s, vtAppPath,
          app.filter($"pmonth" >= "1997-10" && $"pmonth" <= "1997-12")
            .withColumn("src", lit("late")), "pmonth")
        // fourth table: monotonic-ingest simulation with column metrics —
        // four contiguous key chunks (create + 3 appends), per-file
        // o_orderkey min/max recorded in every manifest. Because keys are
        // uniform over months, each chunk lands one file in every month
        // dir: partition pruning alone cannot skip a key range, the
        // manifest metrics are what isolate the matching chunk.
        val mxKey = app.agg(max($"o_orderkey")).collect()(0).getLong(0)
        val ch = mxKey / 4
        fs.delete(new org.apache.hadoop.fs.Path(vtSeqPath), true)
        VersionedTable.create(s, vtSeqPath,
          app.filter($"o_orderkey" <= ch), "pmonth", Some("o_orderkey"))
        (1 to 3).foreach { i =>
          val hiB = if (i == 3) mxKey else ch * (i + 1)
          VersionedTable.appendCommit(s, vtSeqPath,
            app.filter($"o_orderkey" > ch * i && $"o_orderkey" <= hiB),
            "pmonth", Some("o_orderkey"))
        }
        // fifth table: micro-batch-fragmented ingest (6 key-modulus
        // appends — every month dir collects a file per commit), then
        // OPTIMIZE as commit 6
        val opt = app.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-12")
        fs.delete(new org.apache.hadoop.fs.Path(vtOptPath), true)
        VersionedTable.create(s, vtOptPath,
          opt.filter($"o_orderkey" % 6 === 0), "pmonth")
        (1 to 5).foreach { i =>
          VersionedTable.appendCommit(s, vtOptPath,
            opt.filter($"o_orderkey" % 6 === i), "pmonth")
        }
        VersionedTable.optimizeCommit(s, vtOptPath, "pmonth")
        // sixth table: merge-on-read deletion vectors — SAME logical
        // history as vtPath (create, price-update merge), but the delete
        // batch lands as deleteCommit tombstones instead of a COW rewrite.
        // Latest snapshots must hash-match (DV read ≡ COW result); the
        // manifests prove the write-amplification gap (tombstone files
        // added vs partitions rewritten).
        fs.delete(new org.apache.hadoop.fs.Path(vtDvPath), true)
        VersionedTable.create(s, vtDvPath, base, "pmonth")
        VersionedTable.mergeCommit(s, vtDvPath, changes1, Seq("o_orderkey"),
          "pmonth")
        VersionedTable.deleteCommit(s, vtDvPath,
          changes2.select($"o_orderkey", $"pmonth"), "pmonth")
        // seventh table: commit metadata + timestamp time travel — three
        // commits with caller-supplied (deterministic) ts values
        val ts = base.drop("o_custkey")
        fs.delete(new org.apache.hadoop.fs.Path(vtTsPath), true)
        VersionedTable.create(s, vtTsPath,
          ts.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-06"),
          "pmonth", ts = Some(1000L))
        VersionedTable.appendCommit(s, vtTsPath,
          ts.filter($"pmonth" >= "1997-07" && $"pmonth" <= "1997-09"),
          "pmonth", ts = Some(2000L))
        VersionedTable.deleteCommit(s, vtTsPath,
          ts.filter($"pmonth" >= "1997-01" && $"pmonth" <= "1997-09" &&
            $"o_orderkey" % 10 === 7)
            .select($"o_orderkey", $"pmonth"), "pmonth", ts = Some(3000L))
        vtWrittenFor.set(d)
      }
    }

  val oracleSql: Map[String, String] = Map(
    // Reconstructs each snapshot's logical state declaratively from the
    // base table — independent of the manifests, so a time-travel read
    // that globbed (double-count), read latest-only, or mixed versions
    // cannot hash-match.
    "etl_time_travel" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |v1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3
        |              AND pmonth >= '1996-01' AND pmonth <= '1996-12'
        |         THEN price_c + 111 ELSE price_c END AS price_c, pmonth
        |  FROM base),
        |v2 AS (
        |  SELECT * FROM v1
        |  WHERE NOT (o_orderkey % 100 = 42
        |             AND pmonth >= '1996-03' AND pmonth <= '1996-06')),
        |u AS (
        |  SELECT 0 AS version, o_orderkey, price_c FROM base
        |  UNION ALL SELECT 1, o_orderkey, price_c FROM v1
        |  UNION ALL SELECT 2, o_orderkey, price_c FROM v2)
        |SELECT version, COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version ORDER BY version""".stripMargin,
    // Composes the append-only table's three logical states declaratively;
    // the new column exists only from v2 on, and only for v2's appended
    // months.
    "etl_append_evolve" ->
      """WITH app AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |u AS (
        |  SELECT 0 AS version, o_orderkey, price_c, CAST(NULL AS VARCHAR) AS src
        |  FROM app WHERE pmonth >= '1997-01' AND pmonth <= '1997-06'
        |  UNION ALL
        |  SELECT 1, o_orderkey, price_c, NULL
        |  FROM app WHERE pmonth >= '1997-01' AND pmonth <= '1997-09'
        |  UNION ALL
        |  SELECT 2, o_orderkey, price_c,
        |    CASE WHEN pmonth >= '1997-10' THEN 'late' END
        |  FROM app WHERE pmonth >= '1997-01' AND pmonth <= '1997-12')
        |SELECT version, COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |  COUNT(src) AS n_src
        |FROM u GROUP BY version ORDER BY version""".stripMargin,
    // File counts replayed from the manifest log; row content from the
    // base table — identical for both versions, which is the whole claim.
    "etl_optimize_commit" ->
      s"""WITH log AS (
         |  SELECT version, action, file
         |  FROM read_parquet('$vtOptPath/_log/*.parquet')),
         |vs AS (SELECT 5 AS v UNION ALL SELECT 6),
         |live AS (
         |  SELECT vs.v, a.file FROM vs
         |  JOIN log a ON a.action = 'add' AND a.version <= vs.v
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM log r
         |    WHERE r.action = 'remove' AND r.file = a.file
         |      AND r.version <= vs.v)),
         |counts AS (SELECT v, COUNT(*) AS n_files FROM live GROUP BY v),
         |data AS (
         |  SELECT COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key
         |  FROM orders
         |  WHERE strftime(o_orderdate, '%Y-%m') >= '1997-01'
         |    AND strftime(o_orderdate, '%Y-%m') <= '1997-12')
         |SELECT c.v AS version, c.n_files, d.n_rows, d.xor_key
         |FROM counts c, data d ORDER BY version""".stripMargin,
    // Scan count derived from the manifest's per-file intervals; row
    // aggregate derived from the FULL base table — the engine's pruned
    // read must agree with both at once.
    "etl_manifest_skipping" ->
      s"""WITH params AS (SELECT MAX(o_orderkey) AS mx FROM orders),
         |bounds AS (SELECT (mx*3)//8 AS lo, (mx*4)//8 AS hi FROM params),
         |log AS (
         |  SELECT action, file, smin, smax
         |  FROM read_parquet('$vtSeqPath/_log/*.parquet')),
         |live AS (
         |  SELECT file, smin, smax FROM log WHERE action = 'add'
         |  AND file NOT IN (SELECT file FROM log WHERE action = 'remove')),
         |scan AS (
         |  SELECT COUNT(*) AS n_scan FROM live, bounds
         |  WHERE (smin IS NULL OR smin <= hi)
         |    AND (smax IS NULL OR smax >= lo)),
         |agg AS (
         |  SELECT COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
         |    CAST(SUM(CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100)
         |      AS BIGINT)) AS BIGINT) AS sum_price_c
         |  FROM orders, bounds
         |  WHERE o_orderkey >= lo AND o_orderkey <= hi)
         |SELECT (SELECT COUNT(*) FROM live) AS n_files_live,
         |  (SELECT n_scan FROM scan) AS n_files_scanned,
         |  n_rows, xor_key, sum_price_c
         |FROM agg""".stripMargin,
    // Replays the manifest parquets (add/remove log) and the surviving
    // data files with DuckDB's own reader — grades the log format and the
    // physical vacuum effect, not a simulation.
    "etl_vacuum_retention" ->
      s"""WITH log AS (
         |  SELECT version, action, file
         |  FROM read_parquet('$vtVacPath/_log/*.parquet')),
         |vs AS (SELECT DISTINCT version AS v FROM log),
         |live AS (
         |  SELECT vs.v, a.file FROM vs
         |  JOIN log a ON a.action = 'add' AND a.version <= vs.v
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM log r
         |    WHERE r.action = 'remove' AND r.file = a.file
         |      AND r.version <= vs.v)),
         |present AS (
         |  SELECT regexp_extract(filename, 'data/.+') AS pfile,
         |    o_orderkey, price_c
         |  FROM read_parquet('$vtVacPath/data/*/*/*.parquet', filename=true)),
         |j AS (
         |  SELECT l.v, l.file, p.pfile, p.o_orderkey, p.price_c
         |  FROM live l LEFT JOIN present p ON p.pfile = l.file)
         |SELECT v AS version,
         |  COUNT(DISTINCT file) AS n_files_ref,
         |  COUNT(DISTINCT pfile) AS n_files_present,
         |  CASE WHEN COUNT(DISTINCT file) = COUNT(DISTINCT pfile)
         |       THEN COUNT(o_orderkey) ELSE -1 END AS n_rows,
         |  CASE WHEN COUNT(DISTINCT file) = COUNT(DISTINCT pfile)
         |       THEN bit_xor(o_orderkey) ELSE -1 END AS xor_key,
         |  CASE WHEN COUNT(DISTINCT file) = COUNT(DISTINCT pfile)
         |       THEN CAST(SUM(price_c) AS BIGINT) ELSE -1 END AS sum_price_c
         |FROM j GROUP BY v ORDER BY v""".stripMargin,
    // One data aggregate (computed once — both variants must equal it:
    // merge-on-read ≡ copy-on-write) + per-variant file counts replayed
    // from each table's own manifest log.
    "etl_delete_vectors" ->
      s"""WITH base AS (
         |  SELECT o_orderkey,
         |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
         |      AS price_c,
         |    strftime(o_orderdate, '%Y-%m') AS pmonth
         |  FROM orders),
         |v2 AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 10 = 3
         |              AND pmonth >= '1996-01' AND pmonth <= '1996-12'
         |         THEN price_c + 111 ELSE price_c END AS price_c
         |  FROM base
         |  WHERE NOT (o_orderkey % 100 = 42
         |             AND pmonth >= '1996-03' AND pmonth <= '1996-06')),
         |agg AS (
         |  SELECT COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
         |    CAST(SUM(price_c) AS BIGINT) AS sum_price_c
         |  FROM v2),
         |cowlog AS (SELECT version, action, file
         |           FROM read_parquet('$vtPath/_log/*.parquet')),
         |dvlog AS (SELECT version, action, file
         |          FROM read_parquet('$vtDvPath/_log/*.parquet')),
         |stats AS (
         |  SELECT 'cow' AS variant,
         |    (SELECT COUNT(*) FROM cowlog
         |     WHERE version = 2 AND action IN ('add', 'tomb')) AS files_written,
         |    (SELECT COUNT(*) FROM cowlog
         |     WHERE version = 2 AND action = 'remove') AS files_removed,
         |    (SELECT COUNT(*) FROM cowlog a
         |     WHERE a.action = 'add' AND a.version <= 2
         |       AND a.file NOT IN (SELECT file FROM cowlog r
         |                          WHERE r.action = 'remove' AND r.version <= 2))
         |      AS n_data_files_live
         |  UNION ALL
         |  SELECT 'dv',
         |    (SELECT COUNT(*) FROM dvlog
         |     WHERE version = 2 AND action IN ('add', 'tomb')),
         |    (SELECT COUNT(*) FROM dvlog
         |     WHERE version = 2 AND action = 'remove'),
         |    (SELECT COUNT(*) FROM dvlog a
         |     WHERE a.action = 'add' AND a.version <= 2
         |       AND a.file NOT IN (SELECT file FROM dvlog r
         |                          WHERE r.action = 'remove' AND r.version <= 2)))
         |SELECT s.variant, s.files_written, s.files_removed,
         |  s.n_data_files_live, a.n_rows, a.xor_key, a.sum_price_c
         |FROM stats s, agg a ORDER BY s.variant""".stripMargin,
    // Each commit's logical row-level delta, reconstructed declaratively
    // from the base table: v1's update batch appears as new-image inserts
    // + old-image deletes; v2's delete batch as deletes only. Unchanged
    // rows of the rewritten partitions must NOT appear — the EXCEPT ALL
    // netting is exactly what's being graded.
    "etl_cdf_rows" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, price_c FROM base
        |  WHERE o_orderkey % 10 = 3
        |    AND pmonth >= '1996-01' AND pmonth <= '1996-12'),
        |del AS (
        |  SELECT o_orderkey, price_c FROM base
        |  WHERE o_orderkey % 100 = 42
        |    AND pmonth >= '1996-03' AND pmonth <= '1996-06'),
        |u AS (
        |  SELECT 1 AS version, 'insert' AS change_type, o_orderkey,
        |    price_c + 111 AS price_c FROM upd
        |  UNION ALL SELECT 1, 'delete', o_orderkey, price_c FROM upd
        |  UNION ALL SELECT 2, 'delete', o_orderkey, price_c FROM del)
        |SELECT version, change_type, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version, change_type
        |ORDER BY version, change_type""".stripMargin,
    // Probe resolution replayed from the raw manifest metadata (ts, op per
    // version); snapshot content reconstructed from the base table.
    "etl_time_travel_ts" ->
      s"""WITH app AS (
         |  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS pmonth
         |  FROM orders),
         |probes(probe_ts) AS (
         |  VALUES (1000), (1500), (2000), (2999), (3000), (9999)),
         |log AS (
         |  SELECT DISTINCT version, ts, op
         |  FROM read_parquet('$vtTsPath/_log/*.parquet')),
         |res AS (
         |  SELECT CAST(p.probe_ts AS BIGINT) AS probe_ts,
         |    (SELECT MAX(version) FROM log WHERE ts <= p.probe_ts) AS version
         |  FROM probes p),
         |snap AS (
         |  SELECT 0 AS v, o_orderkey FROM app
         |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-06'
         |  UNION ALL
         |  SELECT 1, o_orderkey FROM app
         |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-09'
         |  UNION ALL
         |  SELECT 2, o_orderkey FROM app
         |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-09'
         |    AND o_orderkey % 10 <> 7),
         |agg AS (
         |  SELECT v, COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key
         |  FROM snap GROUP BY v)
         |SELECT r.probe_ts, r.version, l.op AS operation, a.n_rows, a.xor_key
         |FROM res r
         |JOIN log l ON l.version = r.version
         |JOIN agg a ON a.v = r.version
         |ORDER BY r.probe_ts""".stripMargin,
    // Same logical deltas as etl_cdf_rows — the DV table shares the COW
    // table's history, so a tombstone delete must FEED THE SAME CHANGES
    // as the partition rewrite it replaces.
    "etl_cdf_dv" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, price_c FROM base
        |  WHERE o_orderkey % 10 = 3
        |    AND pmonth >= '1996-01' AND pmonth <= '1996-12'),
        |del AS (
        |  SELECT o_orderkey, price_c FROM base
        |  WHERE o_orderkey % 100 = 42
        |    AND pmonth >= '1996-03' AND pmonth <= '1996-06'),
        |u AS (
        |  SELECT 1 AS version, 'insert' AS change_type, o_orderkey,
        |    price_c + 111 AS price_c FROM upd
        |  UNION ALL SELECT 1, 'delete', o_orderkey, price_c FROM upd
        |  UNION ALL SELECT 2, 'delete', o_orderkey, price_c FROM del)
        |SELECT version, change_type, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version, change_type
        |ORDER BY version, change_type""".stripMargin,
    // The SQL-surface snapshots, reconstructed declaratively: v0/v1/v2 of
    // the COW table's logical history plus the ts-table state at probe
    // 2000 (its v1 = the first two append windows, original prices).
    "etl_sql_time_travel" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |v1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3
        |              AND pmonth >= '1996-01' AND pmonth <= '1996-12'
        |         THEN price_c + 111 ELSE price_c END AS price_c, pmonth
        |  FROM base),
        |v2 AS (
        |  SELECT * FROM v1
        |  WHERE NOT (o_orderkey % 100 = 42
        |             AND pmonth >= '1996-03' AND pmonth <= '1996-06')),
        |u AS (
        |  SELECT 'v0' AS src, o_orderkey, price_c FROM base
        |  UNION ALL SELECT 'v1', o_orderkey, price_c FROM v1
        |  UNION ALL SELECT 'v2', o_orderkey, price_c FROM v2
        |  UNION ALL SELECT 'ts2000', o_orderkey, price_c FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-09')
        |SELECT src, COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY src ORDER BY src""".stripMargin,
    // Each SaveMode's logical state reconstructed from the base table:
    // v0 = the create window, v1 = create + append windows, v2 = ONLY the
    // overwrite window (replace, not accumulate).
    "etl_sql_write_path" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |u AS (
        |  SELECT 0 AS version, o_orderkey, price_c FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-06'
        |  UNION ALL SELECT 1, o_orderkey, price_c FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-09'
        |  UNION ALL SELECT 2, o_orderkey, price_c FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-03')
        |SELECT version, COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version ORDER BY version""".stripMargin,
    // Prune decision re-derived from the raw manifest INCLUDING the scol
    // gate (a file is skippable only when its stats column IS the predicate
    // column); aggregate from the full base table.
    "etl_sql_skipping" ->
      s"""WITH params AS (SELECT MAX(o_orderkey) AS mx FROM orders),
         |bounds AS (SELECT (mx*5)//8 AS lo, (mx*6)//8 AS hi FROM params),
         |log AS (
         |  SELECT action, file, smin, smax, scol
         |  FROM read_parquet('$vtSeqPath/_log/*.parquet')),
         |live AS (
         |  SELECT file, smin, smax, scol FROM log WHERE action = 'add'
         |  AND file NOT IN (SELECT file FROM log WHERE action = 'remove')),
         |scan AS (
         |  SELECT COUNT(*) AS n_scan FROM live, bounds
         |  WHERE scol IS DISTINCT FROM 'o_orderkey'
         |     OR ((smin IS NULL OR smin <= hi)
         |         AND (smax IS NULL OR smax >= lo))),
         |agg AS (
         |  SELECT COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
         |    CAST(SUM(CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100)
         |      AS BIGINT)) AS BIGINT) AS sum_price_c
         |  FROM orders, bounds
         |  WHERE o_orderkey >= lo AND o_orderkey <= hi)
         |SELECT (SELECT COUNT(*) FROM live) AS n_files_live,
         |  (SELECT n_scan FROM scan) AS n_files_scanned,
         |  n_rows, xor_key, sum_price_c
         |FROM agg""".stripMargin,
    // Both prune decisions re-derived from the raw manifest: per live file
    // of each version, the mstats string is parsed with regexp_extract
    // (NULL bounds = no stats recorded = conservatively kept), and a file
    // is scanned iff BOTH dimensions' recorded ranges intersect the
    // rectangle — exactly the engine's rule. The aggregate comes from the
    // full base table, once, emitted for both versions (the rewrite must
    // not change content).
    "etl_zorder_commit" ->
      s"""WITH bounds AS (
         |  SELECT 32 AS lo1, 95 AS hi1, 256 AS lo2, 511 AS hi2),
         |log AS (
         |  SELECT version, action, file, mstats
         |  FROM read_parquet('$vtZPath/_log/*.parquet')),
         |live AS (
         |  SELECT vs.v, a.file, a.mstats
         |  FROM (VALUES (0), (1)) vs(v)
         |  JOIN log a ON a.action = 'add' AND a.version <= vs.v
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM log r
         |    WHERE r.action = 'remove' AND r.file = a.file
         |      AND r.version <= vs.v)),
         |parsed AS (
         |  SELECT v, file,
         |    CAST(NULLIF(regexp_extract(mstats, 'x:(-?\\d+):(-?\\d+)', 1), '')
         |      AS BIGINT) AS xmn,
         |    CAST(NULLIF(regexp_extract(mstats, 'x:(-?\\d+):(-?\\d+)', 2), '')
         |      AS BIGINT) AS xmx,
         |    CAST(NULLIF(regexp_extract(mstats, 'y:(-?\\d+):(-?\\d+)', 1), '')
         |      AS BIGINT) AS ymn,
         |    CAST(NULLIF(regexp_extract(mstats, 'y:(-?\\d+):(-?\\d+)', 2), '')
         |      AS BIGINT) AS ymx
         |  FROM live),
         |counts AS (
         |  SELECT v, COUNT(*) AS n_files_live,
         |    CAST(SUM(CASE WHEN (xmn IS NULL OR (xmn <= hi1 AND xmx >= lo1))
         |                   AND (ymn IS NULL OR (ymn <= hi2 AND ymx >= lo2))
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_files_scanned
         |  FROM parsed, bounds GROUP BY v),
         |g AS (
         |  SELECT o_orderkey, o_custkey % 1024 AS x,
         |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         |      % 1024 AS y,
         |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
         |      AS price_c
         |  FROM orders),
         |agg AS (
         |  SELECT COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
         |    CAST(SUM(price_c) AS BIGINT) AS sum_price_c
         |  FROM g, bounds
         |  WHERE x >= lo1 AND x <= hi1 AND y >= lo2 AND y <= hi2)
         |SELECT c.v AS version, c.n_files_live, c.n_files_scanned,
         |  a.n_rows, a.xor_key, a.sum_price_c
         |FROM counts c, agg a ORDER BY c.v""".stripMargin,
    // Identical logical deltas to etl_cdf_rows — the readChangeFeed option
    // surface must feed exactly what the library's changes() feeds.
    "etl_sql_cdf" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, price_c FROM base
        |  WHERE o_orderkey % 10 = 3
        |    AND pmonth >= '1996-01' AND pmonth <= '1996-12'),
        |del AS (
        |  SELECT o_orderkey, price_c FROM base
        |  WHERE o_orderkey % 100 = 42
        |    AND pmonth >= '1996-03' AND pmonth <= '1996-06'),
        |u AS (
        |  SELECT 1 AS version, 'insert' AS change_type, o_orderkey,
        |    price_c + 111 AS price_c FROM upd
        |  UNION ALL SELECT 1, 'delete', o_orderkey, price_c FROM upd
        |  UNION ALL SELECT 2, 'delete', o_orderkey, price_c FROM del)
        |SELECT version, change_type, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version, change_type
        |ORDER BY version, change_type""".stripMargin,
    // All three count families (committed deltas, metadata snapshot count,
    // actual scan count) derived independently from the base table — the
    // manifest's recorded nrec values must land exactly on them.
    "etl_log_rowcounts" ->
      """WITH app AS (
        |  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |c AS (
        |  SELECT
        |    (SELECT COUNT(*) FROM app
        |     WHERE pmonth >= '1997-01' AND pmonth <= '1997-06') AS c0,
        |    (SELECT COUNT(*) FROM app
        |     WHERE pmonth >= '1997-07' AND pmonth <= '1997-09') AS c1,
        |    (SELECT COUNT(*) FROM app
        |     WHERE pmonth >= '1997-01' AND pmonth <= '1997-09'
        |       AND o_orderkey % 10 = 7) AS cd)
        |SELECT 0 AS version, 'create' AS operation,
        |  CAST(c0 AS BIGINT) AS recs_added, CAST(0 AS BIGINT) AS recs_tombstoned,
        |  CAST(c0 AS BIGINT) AS n_rows_meta, CAST(c0 AS BIGINT) AS n_rows_scan
        |FROM c
        |UNION ALL SELECT 1, 'append', CAST(c1 AS BIGINT), 0,
        |  CAST(c0 + c1 AS BIGINT), CAST(c0 + c1 AS BIGINT) FROM c
        |UNION ALL SELECT 2, 'delete', 0, CAST(cd AS BIGINT),
        |  CAST(c0 + c1 - cd AS BIGINT), CAST(c0 + c1 - cd AS BIGINT) FROM c
        |ORDER BY version""".stripMargin,
    // The raced writers' union, plus the version count the race must
    // produce (3 = create + both appends, no lost update).
    "etl_concurrent_commits" ->
      """WITH app AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders)
        |SELECT CAST(3 AS BIGINT) AS n_versions, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM app
        |WHERE pmonth >= '1997-01' AND pmonth <= '1997-12'""".stripMargin,
    // Re-reads both engine-written layouts with filename=true — DuckDB
    // counts the same on-disk files Spark's _metadata column saw, so the
    // compare grades the physical compaction effect, not a simulation.
    "etl_compact_small_files" ->
      s"""WITH f AS (
         |  SELECT 'frag' AS layout, pmonth AS part_key, o_orderkey,
         |    regexp_extract(filename, '[^/]+$$') AS fname
         |  FROM read_parquet('$fragPath/*/*.parquet',
         |                    filename=true, hive_partitioning=true)
         |  UNION ALL
         |  SELECT 'compact' AS layout, pmonth AS part_key, o_orderkey,
         |    regexp_extract(filename, '[^/]+$$') AS fname
         |  FROM read_parquet('$compactPath/*/*.parquet',
         |                    filename=true, hive_partitioning=true))
         |SELECT layout, part_key, COUNT(*) AS n_rows,
         |  CAST(COUNT(DISTINCT fname) AS BIGINT) AS n_files,
         |  bit_xor(o_orderkey) AS xor_key
         |FROM f GROUP BY layout, part_key
         |ORDER BY layout, part_key""".stripMargin,
    // Re-reads the engine-written z-clustered files with the same range
    // predicate — the layout-oblivious answer the skipping scan must match.
    "etl_zorder_skipping" ->
      s"""SELECT COUNT(*) AS n_rows,
         |  CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT) AS sum_key,
         |  CAST(COALESCE(MIN(zval), -1) AS BIGINT) AS min_z,
         |  CAST(COALESCE(MAX(zval), -1) AS BIGINT) AS max_z
         |FROM read_parquet('$zorderPath/*.parquet')
         |WHERE x BETWEEN 32 AND 95 AND y BETWEEN 256 AND 511""".stripMargin,
    "etl_schedule_expand" ->
      """SELECT o_orderkey, CAST(CAST(dt AS DATE) AS VARCHAR) AS flight_date FROM (
        |  SELECT o_orderkey, o_orderkey % 127 + 1 AS day_mask,
        |    unnest(generate_series(CAST(o_orderdate AS DATE),
        |                           CAST(o_orderdate AS DATE) + INTERVAL 13 DAY,
        |                           INTERVAL 1 DAY)) AS dt
        |  FROM orders) t
        |WHERE ((day_mask >> ((dayofweek(CAST(dt AS DATE)) + 6) % 7)) & 1) = 1
        |ORDER BY o_orderkey, flight_date""".stripMargin,
    "etl_flight_connections" ->
      """WITH legs AS (
        |  SELECT o_orderkey AS leg,
        |    o_custkey % 40 AS dep_ap,
        |    (o_custkey % 40 + (o_custkey * 7 + o_orderkey) % 39 + 1) % 40 AS arr_ap,
        |    (o_orderkey * 37) % 1440 AS dep_min,
        |    (o_orderkey * 37) % 1440 + o_orderkey % 600 + 60 AS arr_min
        |  FROM orders WHERE o_orderkey < 20000)
        |SELECT a.arr_ap AS hub, count(*) AS n_connections,
        |  CAST(min(b.dep_min - a.arr_min) AS BIGINT) AS min_layover,
        |  CAST(max(b.dep_min - a.arr_min) AS BIGINT) AS max_layover,
        |  CAST(sum(a.leg + b.leg) AS BIGINT) AS pair_checksum
        |FROM legs a JOIN legs b ON a.arr_ap = b.dep_ap
        |WHERE b.dep_min - a.arr_min BETWEEN 45 AND 240 AND a.leg <> b.leg
        |GROUP BY a.arr_ap ORDER BY hub""".stripMargin,
    // Same leg derivation; direct ∪ hub-joined one-stop itineraries,
    // aggregated into the (src, dst) risk-flow matrix.
    "etl_flight_reachability" ->
      """WITH legs AS (
        |  SELECT o_orderkey AS leg,
        |    o_custkey % 40 AS dep_ap,
        |    (o_custkey % 40 + (o_custkey * 7 + o_orderkey) % 39 + 1) % 40 AS arr_ap,
        |    (o_orderkey * 37) % 1440 AS dep_min,
        |    (o_orderkey * 37) % 1440 + o_orderkey % 600 + 60 AS arr_min
        |  FROM orders WHERE o_orderkey < 20000),
        |it AS (
        |  SELECT dep_ap AS src, arr_ap AS dst, arr_min, 1 AS hops
        |  FROM legs WHERE dep_ap <> arr_ap
        |  UNION ALL
        |  SELECT a.dep_ap AS src, b.arr_ap AS dst, b.arr_min, 2 AS hops
        |  FROM legs a JOIN legs b ON a.arr_ap = b.dep_ap
        |  WHERE b.dep_min - a.arr_min BETWEEN 45 AND 240
        |    AND a.leg <> b.leg AND a.dep_ap <> b.arr_ap)
        |SELECT src, dst, count(*) AS n_routes,
        |  CAST(min(arr_min) AS BIGINT) AS best_arr,
        |  CAST(min(hops) AS BIGINT) AS min_hops
        |FROM it GROUP BY src, dst ORDER BY src, dst""".stripMargin,
    // One spread step over the same leg derivation; SUMs cast (R9b).
    "etl_spread_step" ->
      """WITH legs AS (
        |  SELECT o_orderkey AS leg,
        |    o_custkey % 40 AS dep_ap,
        |    (o_custkey % 40 + (o_custkey * 7 + o_orderkey) % 39 + 1) % 40 AS arr_ap
        |  FROM orders WHERE o_orderkey < 20000),
        |routes AS (
        |  SELECT dep_ap AS src, arr_ap AS dst, COUNT(*) AS n
        |  FROM legs WHERE dep_ap <> arr_ap GROUP BY 1, 2),
        |o AS (SELECT src, CAST(SUM(n) AS BIGINT) AS out_n
        |      FROM routes GROUP BY src),
        |m AS (
        |  SELECT r.src, r.dst, 1000000 * r.n // o.out_n AS mass
        |  FROM routes r JOIN o USING (src) WHERE r.src < 5)
        |SELECT dst, CAST(SUM(mass) AS BIGINT) AS exposure,
        |  COUNT(*) AS n_sources, CAST(MAX(mass) AS BIGINT) AS max_single
        |FROM m GROUP BY dst ORDER BY dst""".stripMargin,
    "etl_dedup_lastwins" ->
      """SELECT user_id, event_type, event_id, ts_us FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "etl_delete_insert_window" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_ns(ts) AS ts, event_type,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events
        |), merged AS (
        |  SELECT event_id, event_type, v FROM ev
        |  WHERE ts < 1704844800000000000 OR ts >= 1705708800000000000
        |  UNION ALL
        |  SELECT event_id, event_type, CAST(v * 2 AS DECIMAL(18,6)) AS v FROM ev
        |  WHERE ts >= 1704844800000000000 AND ts < 1705708800000000000
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
        |  CAST(CAST(SUM(v) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS sum_value_e6
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_gap_fill" ->
      """WITH spine AS (
        |  SELECT 1704067200000000 + n * 3600000000 AS bucket_us
        |  FROM range(0, 48) r(n)),
        |types AS (
        |  SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type),
        |actual AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT s.bucket_us, t.event_type, CAST(coalesce(a.n, 0) AS BIGINT) AS n
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN actual a ON a.bucket_us = s.bucket_us AND a.event_type = t.event_type
        |ORDER BY s.bucket_us, t.event_type""".stripMargin,
    // Sweep-line twin: same endpoint decomposition, same (t, delta)
    // order (ends before starts at an instant = half-open intervals),
    // default peer-inclusive RANGE frame in both engines. SUM(delta)
    // OVER () is HUGEINT in DuckDB → peak CAST to BIGINT (R9b).
    "etl_max_concurrency" ->
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + (event_id % 3600 + 60) * 1000000 AS end_us
        |  FROM events),
        |pts AS (
        |  SELECT event_type, start_us AS t, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT event_type, end_us AS t, -1 AS delta FROM iv),
        |run AS (
        |  SELECT event_type, t,
        |    SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta) AS conc
        |  FROM pts),
        |pk AS (
        |  SELECT event_type, t, conc,
        |    MAX(conc) OVER (PARTITION BY event_type) AS peak
        |  FROM run)
        |SELECT event_type, CAST(MAX(peak) AS BIGINT) AS peak,
        |  MIN(t) AS first_peak_us
        |FROM pk WHERE conc = peak
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_scd2_intervals" ->
      """SELECT user_id, event_id, valid_from, valid_to, v_e6 FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS valid_from,
        |    lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS valid_to,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_e6
        |  FROM events WHERE event_type = 'view') t
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "etl_cdc_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |changes AS (
        |  SELECT k, CASE WHEN k % 7 = 0 THEN 'D' ELSE 'U' END AS op,
        |    CASE WHEN k % 7 = 0 THEN 0 ELSE price_cents + 1000 END AS price_cents
        |  FROM base WHERE k % 7 < 4
        |  UNION ALL
        |  SELECT k + 1000000000 AS k, 'I' AS op, price_cents + 5 AS price_cents
        |  FROM base WHERE k % 7 = 3),
        |u AS (
        |  SELECT k, price_cents, NULL AS op, 0 AS __src FROM base
        |  UNION ALL
        |  SELECT k, price_cents, op, 1 AS __src FROM changes),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY __src DESC) AS rn
        |  FROM u)
        |SELECT k, price_cents, coalesce(op, 'B') AS src_op
        |FROM r WHERE rn = 1 AND (op IS NULL OR op <> 'D')
        |ORDER BY k""".stripMargin,
    // Relational replica of the COW merge the Spark side performs on disk;
    // sums CAST to BIGINT (DuckDB SUM(BIGINT) widens to HUGEINT, rule R9b).
    "etl_merge_cow" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT) AS price_cents,
        |    substr(o_orderpriority, 1, 1) AS p
        |  FROM orders),
        |ch AS (SELECT * FROM base WHERE p IN ('1', '3')),
        |changes AS (
        |  SELECT k, 0 AS price_cents, p, 'D' AS op, 1 AS seq FROM ch WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, price_cents + 1000, p, 'U', 1 FROM ch WHERE k % 7 IN (1, 2)
        |  UNION ALL
        |  SELECT k + 1000000000, price_cents + 5, '9', 'U', 1 FROM ch WHERE k % 7 = 3
        |  UNION ALL
        |  SELECT k, price_cents + 2000, p, 'U', 2 FROM ch WHERE k % 70 = 1),
        |u AS (
        |  SELECT k, price_cents, p, NULL AS op, 0 AS src, 0 AS seq FROM base
        |  UNION ALL
        |  SELECT k, price_cents, p, op, 1 AS src, seq FROM changes),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY k, p ORDER BY src DESC, seq DESC) AS rn
        |  FROM u)
        |SELECT p, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
        |FROM r WHERE rn = 1 AND (op IS NULL OR op <> 'D')
        |GROUP BY p ORDER BY p""".stripMargin,
    "etl_snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |b AS (
        |  SELECT k, price_cents + CASE WHEN k % 5 = 1 THEN 50 ELSE 0 END AS price_cents
        |  FROM a WHERE k % 5 <> 0
        |  UNION ALL
        |  SELECT k + 3000000000 AS k, price_cents + 7 AS price_cents
        |  FROM a WHERE k % 5 = 2),
        |j AS (
        |  SELECT coalesce(a.k, b.k) AS k,
        |    coalesce(a.price_cents, -1) AS old_cents,
        |    coalesce(b.price_cents, -1) AS new_cents,
        |    CASE WHEN a.k IS NULL THEN 'added'
        |         WHEN b.k IS NULL THEN 'removed'
        |         WHEN a.price_cents <> b.price_cents THEN 'changed'
        |         ELSE 'same' END AS status
        |  FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT * FROM j WHERE status <> 'same' ORDER BY k""".stripMargin,
    "etl_downsample_ohlc" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_e6
        |  FROM events),
        |b AS (
        |  SELECT *, ts_us - ts_us % 21600000000 AS bucket_us FROM e),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY bucket_us, event_type
        |      ORDER BY ts_us, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY bucket_us, event_type
        |      ORDER BY ts_us DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT bucket_us, event_type, COUNT(*) AS n,
        |  max(CASE WHEN rn_a = 1 THEN v_e6 END) AS open_e6,
        |  max(v_e6) AS high_e6, min(v_e6) AS low_e6,
        |  max(CASE WHEN rn_d = 1 THEN v_e6 END) AS close_e6
        |FROM r GROUP BY bucket_us, event_type
        |ORDER BY bucket_us, event_type""".stripMargin,
    "etl_dq_constraints" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        |    CAST(SUM(CASE WHEN substring(o_orderpriority, 1, 1) NOT IN ('1','2','3','4','5') THEN 1 ELSE 0 END) AS BIGINT) AS v5
        |  FROM orders)
        |SELECT rule, n_rows, n_viol FROM (
        |  SELECT 'custkey_not_null' AS rule, n_rows, v1 AS n_viol FROM a
        |  UNION ALL SELECT 'date_range', n_rows, v4 FROM a
        |  UNION ALL SELECT 'price_positive', n_rows, v2 FROM a
        |  UNION ALL SELECT 'priority_prefix', n_rows, v5 FROM a
        |  UNION ALL SELECT 'status_domain', n_rows, v3 FROM a)
        |ORDER BY rule""".stripMargin,
    "etl_incremental_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "etl_utc_normalize" ->
      """SELECT event_id,
        |  (user_id % 27 - 13) * 30 AS offset_min,
        |  epoch_ns(ts) // 1000 - (user_id % 27 - 13) * 30 * 60000000 AS utc_us
        |FROM events ORDER BY event_id""".stripMargin,
    "etl_quality_report" ->
      """SELECT * FROM (
        |  SELECT 'o_orderstatus' AS "column",
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    COUNT(DISTINCT o_orderstatus) AS n_distinct,
        |    MIN(CAST(o_orderstatus AS VARCHAR)) AS min_s,
        |    MAX(CAST(o_orderstatus AS VARCHAR)) AS max_s
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority',
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT o_orderpriority),
        |    MIN(CAST(o_orderpriority AS VARCHAR)),
        |    MAX(CAST(o_orderpriority AS VARCHAR))
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey',
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT o_custkey),
        |    MIN(CAST(o_custkey AS VARCHAR)),
        |    MAX(CAST(o_custkey AS VARCHAR))
        |  FROM orders)
        |ORDER BY "column"""".stripMargin,
    "etl_temporal_dim_join" ->
      """WITH dim AS (
        |  SELECT user_id AS d_uid, event_id AS dim_version_id,
        |    epoch_us(ts) AS valid_from,
        |    lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS valid_to,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_e6
        |  FROM events WHERE event_type = 'view'),
        |f AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT f.p_id, f.user_id, f.p_us, dim.dim_version_id, dim.v_e6
        |FROM f LEFT JOIN dim ON f.user_id = dim.d_uid
        |  AND dim.valid_from <= f.p_us
        |  AND (dim.valid_to IS NULL OR f.p_us < dim.valid_to)
        |ORDER BY p_id""".stripMargin,
    // Same Morton interleave via a constant-range explode + per-row sum
    // (DuckDB's shift operators over the generated bit index k).
    "etl_zorder_key" ->
      """WITH g AS (
        |  SELECT o_orderkey, o_custkey % 1024 AS x,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS y
        |  FROM orders),
        |z AS (
        |  SELECT o_orderkey, x, y,
        |    CAST(SUM((((x >> k) & 1) << (2 * k)) + (((y >> k) & 1) << (2 * k + 1)))
        |      AS BIGINT) AS zval
        |  FROM g, range(0, 10) r(k)
        |  GROUP BY o_orderkey, x, y)
        |SELECT o_orderkey, x, y, zval FROM z
        |ORDER BY zval ASC, o_orderkey ASC LIMIT 200""".stripMargin,
    "etl_table_checksum" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |    CAST(('0x' || substring(md5(concat_ws('|',
        |      l_orderkey, l_linenumber, l_returnflag, l_linestatus,
        |      CAST(round(CAST(l_quantity AS DECIMAL(18,6)) * 100) AS BIGINT),
        |      CAST(round(CAST(l_extendedprice AS DECIMAL(18,6)) * 100) AS BIGINT))),
        |      1, 15)) AS BIGINT) AS h
        |  FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_checksum,
        |  MIN(h) AS min_h, MAX(h) AS max_h
        |FROM h GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "etl_late_arriving_dim" ->
      """WITH dim AS (
        |  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 17 <> 0),
        |j AS (
        |  SELECT o_orderstatus, o_orderkey, c_custkey,
        |    COALESCE(CAST(c_nationkey AS BIGINT), -1) AS nation_sk
        |  FROM orders LEFT JOIN dim ON o_custkey = c_custkey)
        |SELECT o_orderstatus, COUNT(*) AS n_facts,
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing,
        |  MIN(CASE WHEN c_custkey IS NULL THEN o_orderkey END)
        |    AS first_backfill_key,
        |  COUNT(DISTINCT nation_sk) AS n_nation_sk,
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // COUNT(*) AS missing_ppm
        |FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "etl_partition_stats" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS part_key, COUNT(*) AS n_rows
        |  FROM orders GROUP BY 1),
        |g AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total, COUNT(*) AS n_parts FROM m)
        |SELECT part_key, n_rows,
        |  n_rows * 1000000 // total AS share_ppm,
        |  n_rows * n_parts * 1000000 // total AS skew_e6
        |FROM m, g ORDER BY part_key""".stripMargin,
    // Each SQL statement's logical state reconstructed from the base
    // table: v0 = the CTAS window, v1 = CTAS + INSERT INTO windows, v2 =
    // ONLY the INSERT OVERWRITE window (replace, not accumulate) — plus
    // the commit operation each statement must have taken.
    "etl_sql_catalog" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |u AS (
        |  SELECT 0 AS version, 'create' AS operation, o_orderkey, price_c
        |  FROM base WHERE pmonth >= '1997-01' AND pmonth <= '1997-05'
        |  UNION ALL SELECT 1, 'append', o_orderkey, price_c
        |  FROM base WHERE pmonth >= '1997-01' AND pmonth <= '1997-08'
        |  UNION ALL SELECT 2, 'overwrite', o_orderkey, price_c
        |  FROM base WHERE pmonth >= '1997-02' AND pmonth <= '1997-04')
        |SELECT version, operation, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version, operation ORDER BY version""".stripMargin,
    // MERGE INTO's final state, declaratively: the v0 slice minus the
    // delete keys, price-updated on the update keys, plus the insert
    // window — one merge commit after the create.
    "etl_sql_merge_into" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT * FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-03'),
        |final AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3
        |              AND pmonth >= '1997-02' AND pmonth <= '1997-03'
        |         THEN price_c + 555 ELSE price_c END AS price_c, pmonth
        |  FROM t0
        |  WHERE NOT (o_orderkey % 100 = 7
        |             AND pmonth >= '1997-01' AND pmonth <= '1997-02')
        |  UNION ALL
        |  SELECT o_orderkey, price_c, pmonth FROM base
        |  WHERE pmonth = '1997-04'),
        |u AS (
        |  SELECT 0 AS version, 'create' AS operation, o_orderkey, price_c
        |  FROM t0
        |  UNION ALL SELECT 1, 'merge', o_orderkey, price_c FROM final)
        |SELECT version, operation, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version, operation ORDER BY version""".stripMargin,
    // Layout AND content of the 2-level partitioned table, re-derived from
    // the base table: part = the escaped pmonth=…/bucket=… fragment (all
    // values alphanumeric here, so escaping is the identity), exactly one
    // data file per sub-partition per covering commit, one tombstone file
    // in the deleted sub-partition IFF any key matched (an empty delete
    // key set commits no files — true at tiny SFs), visible rows = slice
    // minus the tombstoned keys.
    "etl_vt_multipart" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth,
        |    CAST(o_orderkey % 3 AS VARCHAR) AS bucket
        |  FROM orders),
        |slice AS (
        |  SELECT *, (pmonth = '1997-02' AND bucket = '1'
        |             AND o_orderkey % 10 = 1) AS del
        |  FROM base WHERE pmonth >= '1997-01' AND pmonth <= '1997-03')
        |SELECT 'pmonth=' || pmonth || '/bucket=' || bucket AS part,
        |  CAST(1 AS BIGINT) AS n_data_files,
        |  CAST(CASE WHEN SUM(CASE WHEN del THEN 1 ELSE 0 END) > 0
        |       THEN 1 ELSE 0 END AS BIGINT) AS n_tomb_files,
        |  COUNT(CASE WHEN NOT del THEN 1 END) AS n_rows,
        |  bit_xor(CASE WHEN NOT del THEN o_orderkey END) AS xor_key,
        |  CAST(SUM(CASE WHEN NOT del THEN price_c END) AS BIGINT)
        |    AS sum_price_c
        |FROM slice GROUP BY pmonth, bucket ORDER BY part""".stripMargin,
    // n_files_live = one data file per (pmonth, bucket) sub-partition in
    // the 3-month domain; n_files_scanned = the two selected
    // sub-partitions' files; aggregate over the selected slice minus the
    // tombstoned keys (bucket 1 is not selected, so the delete never
    // intersects the result — which is itself part of the grade: pruning
    // must not skip the tombstone reconciliation for selected parts).
    "etl_sql_partition_prune" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth,
        |    CAST(o_orderkey % 3 AS VARCHAR) AS bucket
        |  FROM orders),
        |live AS (
        |  SELECT COUNT(DISTINCT pmonth || '/' || bucket) AS n FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-03'),
        |sel AS (
        |  SELECT * FROM base
        |  WHERE pmonth = '1997-02' AND bucket IN ('0', '2'))
        |SELECT CAST(live.n AS BIGINT) AS n_files_live,
        |  CAST(2 AS BIGINT) AS n_files_scanned,
        |  COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM sel, live GROUP BY live.n""".stripMargin,
    // UPDATE's two states plus the commit's file counts, re-derived from
    // the data: v0 writes one file per month in the slice; the update
    // rewrites (removes + re-adds) exactly the months holding a
    // predicate-matching row.
    "etl_sql_update" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT *, (o_orderkey % 10 = 3 AND pmonth >= '1997-02') AS hit
        |  FROM base WHERE pmonth >= '1997-01' AND pmonth <= '1997-03'),
        |parts AS (
        |  SELECT CAST(COUNT(DISTINCT pmonth) AS BIGINT) AS n_all,
        |    CAST(COUNT(DISTINCT CASE WHEN hit THEN pmonth END) AS BIGINT)
        |      AS n_hit
        |  FROM t0),
        |u AS (
        |  SELECT 0 AS version, 'create' AS operation,
        |    (SELECT n_all FROM parts) AS n_added,
        |    CAST(0 AS BIGINT) AS n_removed, o_orderkey, price_c
        |  FROM t0
        |  UNION ALL
        |  SELECT 1, 'update', (SELECT n_hit FROM parts),
        |    (SELECT n_hit FROM parts), o_orderkey,
        |    CASE WHEN hit THEN price_c + 111 ELSE price_c END
        |  FROM t0)
        |SELECT version, operation, n_added, n_removed, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version, operation, n_added, n_removed
        |ORDER BY version""".stripMargin,
    // DELETE's three states plus per-version file counts: the partition
    // delete removes month 04's single file and ADDS NOTHING (the
    // metadata-only grade), the row delete rewrites exactly the months
    // holding a matching row.
    "etl_sql_delete" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT * FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-04'),
        |v1s AS (SELECT * FROM t0 WHERE pmonth <> '1997-04'),
        |v2s AS (SELECT * FROM v1s WHERE o_orderkey % 100 <> 7),
        |parts AS (
        |  SELECT
        |    (SELECT CAST(COUNT(DISTINCT pmonth) AS BIGINT) FROM t0) AS n0,
        |    (SELECT CAST(COUNT(DISTINCT pmonth) AS BIGINT) FROM t0
        |     WHERE pmonth = '1997-04') AS n_drop,
        |    (SELECT CAST(COUNT(DISTINCT pmonth) AS BIGINT) FROM v1s
        |     WHERE o_orderkey % 100 = 7) AS n_hit),
        |u AS (
        |  SELECT 0 AS version, 'create' AS operation,
        |    (SELECT n0 FROM parts) AS n_added,
        |    CAST(0 AS BIGINT) AS n_removed, o_orderkey, price_c FROM t0
        |  UNION ALL
        |  SELECT 1, 'delete', CAST(0 AS BIGINT),
        |    (SELECT n_drop FROM parts), o_orderkey, price_c FROM v1s
        |  UNION ALL
        |  SELECT 2, 'delete', (SELECT n_hit FROM parts),
        |    (SELECT n_hit FROM parts), o_orderkey, price_c FROM v2s)
        |SELECT version, operation, n_added, n_removed, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version, operation, n_added, n_removed
        |ORDER BY version""".stripMargin,
    // Maintenance ledger re-derived from the data: commits 0..3 each write
    // one file per month PRESENT IN ITS key-class slice, the optimize adds
    // one per month overall and removes every fragment, and the vacuum's
    // deleted-file count equals the fragment total. Content is the
    // unchanged slice — compaction and vacuum must not touch visible rows.
    "etl_sql_maintenance" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT *, o_orderkey % 4 AS cls FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-03'),
        |pc AS (
        |  SELECT cls, CAST(COUNT(DISTINCT pmonth) AS BIGINT) AS nf
        |  FROM t0 GROUP BY cls),
        |tot AS (
        |  SELECT CAST(COALESCE(SUM(nf), 0) AS BIGINT) AS nfrag,
        |    (SELECT CAST(COUNT(DISTINCT pmonth) AS BIGINT) FROM t0) AS nm
        |  FROM pc),
        |cont AS (
        |  SELECT COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
        |    CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |  FROM t0),
        |hist AS (
        |  SELECT 0 AS version, 'create' AS operation,
        |    CAST(COALESCE((SELECT nf FROM pc WHERE cls = 0), 0) AS BIGINT)
        |      AS n_added, CAST(0 AS BIGINT) AS n_removed
        |  UNION ALL SELECT 1, 'append',
        |    CAST(COALESCE((SELECT nf FROM pc WHERE cls = 1), 0) AS BIGINT), 0
        |  UNION ALL SELECT 2, 'append',
        |    CAST(COALESCE((SELECT nf FROM pc WHERE cls = 2), 0) AS BIGINT), 0
        |  UNION ALL SELECT 3, 'append',
        |    CAST(COALESCE((SELECT nf FROM pc WHERE cls = 3), 0) AS BIGINT), 0
        |  UNION ALL SELECT 4, 'optimize', (SELECT nm FROM tot),
        |    (SELECT nfrag FROM tot))
        |SELECT h.version, h.operation, h.n_added, h.n_removed,
        |  (SELECT nfrag FROM tot) AS n_deleted,
        |  c.n_rows, c.xor_key, c.sum_price_c
        |FROM hist h, cont c ORDER BY h.version""".stripMargin,
    // RESTORE's four states and per-version file counts, re-derived from
    // the data: the update rewrites the hit months, the delete drops month
    // 01's file, and the restore re-adds the dropped + rewritten months'
    // ORIGINAL files (n_added = n_drop + n_hit) while removing only the
    // rewritten ones (n_removed = n_hit); reused must be true — the
    // engine asserts every restored file is one of v0's (zero-copy).
    "etl_sql_restore" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT *, (o_orderkey % 10 = 3 AND pmonth >= '1997-02') AS hit
        |  FROM base WHERE pmonth >= '1997-01' AND pmonth <= '1997-03'),
        |parts AS (
        |  SELECT CAST(COUNT(DISTINCT pmonth) AS BIGINT) AS n_all,
        |    CAST(COUNT(DISTINCT CASE WHEN hit THEN pmonth END) AS BIGINT)
        |      AS n_hit,
        |    CAST(COUNT(DISTINCT CASE WHEN pmonth = '1997-01'
        |         THEN pmonth END) AS BIGINT) AS n_drop
        |  FROM t0),
        |u AS (
        |  SELECT 0 AS version, 'create' AS operation,
        |    (SELECT n_all FROM parts) AS n_added,
        |    CAST(0 AS BIGINT) AS n_removed, o_orderkey, price_c FROM t0
        |  UNION ALL
        |  SELECT 1, 'update', (SELECT n_hit FROM parts),
        |    (SELECT n_hit FROM parts), o_orderkey,
        |    CASE WHEN hit THEN price_c + 111 ELSE price_c END
        |  FROM t0
        |  UNION ALL
        |  SELECT 2, 'delete', CAST(0 AS BIGINT),
        |    (SELECT n_drop FROM parts), o_orderkey,
        |    CASE WHEN hit THEN price_c + 111 ELSE price_c END
        |  FROM t0 WHERE pmonth <> '1997-01'
        |  UNION ALL
        |  SELECT 3, 'restore',
        |    (SELECT n_drop + n_hit FROM parts),
        |    (SELECT n_hit FROM parts), o_orderkey, price_c FROM t0)
        |SELECT version, operation, n_added, n_removed,
        |  CAST(1 AS BOOLEAN) AS reused, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version, operation, n_added, n_removed
        |ORDER BY version""".stripMargin,
    // Schema evolution re-derived from the data: v0/v1 = the two seed
    // months (v1 differs only in schema width — flags all absent/null),
    // v2 adds 1997-03 carrying flag = o_orderkey % 5.
    "etl_sql_alter_add_column" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT *, CAST(NULL AS BIGINT) AS flag FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-02'),
        |v2 AS (
        |  SELECT * FROM t0
        |  UNION ALL
        |  SELECT o_orderkey, price_c, pmonth, o_orderkey % 5 FROM base
        |  WHERE pmonth = '1997-03'),
        |u AS (
        |  SELECT 0 AS version, 3 AS n_cols, o_orderkey, price_c,
        |    CAST(NULL AS BIGINT) AS flag FROM t0
        |  UNION ALL
        |  SELECT 1, 4, o_orderkey, price_c, flag FROM t0
        |  UNION ALL
        |  SELECT 2, 4, o_orderkey, price_c, flag FROM v2)
        |SELECT version, n_cols, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |  COUNT(flag) AS n_flag,
        |  CAST(coalesce(SUM(flag), 0) AS BIGINT) AS sum_flag
        |FROM u GROUP BY version, n_cols
        |ORDER BY version""".stripMargin,
    // Drop-column lifecycle re-derived from the data: v0 = two seed
    // months WITH flag, v1 = same rows flagless (the drop is
    // metadata-only), v2 = + 1997-03, v3 = OPTIMIZE (content identical to
    // v2 — the compaction invariant IS the graded claim), v4 = flag
    // re-added as pure null after the physical purge.
    "etl_sql_alter_drop_column" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    o_orderkey % 5 AS flag,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT * FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-02'),
        |t2 AS (
        |  SELECT o_orderkey, price_c, pmonth FROM t0
        |  UNION ALL
        |  SELECT o_orderkey, price_c, pmonth FROM base
        |  WHERE pmonth = '1997-03'),
        |u AS (
        |  SELECT 0 AS version, 4 AS n_cols, o_orderkey, price_c, flag
        |  FROM t0
        |  UNION ALL
        |  SELECT 1, 3, o_orderkey, price_c, CAST(NULL AS BIGINT) FROM t0
        |  UNION ALL
        |  SELECT 2, 3, o_orderkey, price_c, CAST(NULL AS BIGINT) FROM t2
        |  UNION ALL
        |  SELECT 3, 3, o_orderkey, price_c, CAST(NULL AS BIGINT) FROM t2
        |  UNION ALL
        |  SELECT 4, 4, o_orderkey, price_c, CAST(NULL AS BIGINT) FROM t2)
        |SELECT version, n_cols, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |  COUNT(flag) AS n_flag,
        |  CAST(coalesce(SUM(flag), 0) AS BIGINT) AS sum_flag
        |FROM u GROUP BY version, n_cols
        |ORDER BY version""".stripMargin,
    // Clone fork re-derived from the data: the source at its latest (3
    // seed months + 1997-05), the clone pinned at v0 (2 months), the
    // clone after its own insert (+ 1997-04); zero_copy and
    // n_referenced (= the two v0 month-files) are engine claims the
    // oracle states as constants.
    "etl_sql_clone" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT * FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-02'),
        |srcl AS (
        |  SELECT * FROM base
        |  WHERE (pmonth >= '1997-01' AND pmonth <= '1997-03')
        |     OR pmonth = '1997-05'),
        |cll AS (
        |  SELECT * FROM t0
        |  UNION ALL SELECT * FROM base WHERE pmonth = '1997-04'),
        |u AS (
        |  SELECT 'src' AS side, 2 AS version, o_orderkey, price_c FROM srcl
        |  UNION ALL SELECT 'clone', 0, o_orderkey, price_c FROM t0
        |  UNION ALL SELECT 'clone', 1, o_orderkey, price_c FROM cll)
        |SELECT side, version, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |  CAST(1 AS BOOLEAN) AS zero_copy,
        |  CAST(2 AS BIGINT) AS n_referenced
        |FROM u GROUP BY side, version
        |ORDER BY side, version""".stripMargin,
    // Constraint lifecycle re-derived from the data: v0 = two seed
    // months, v1 = ADD (content unchanged), v2 = + 1997-03, v3 = DROP
    // (content unchanged), v4 = + the once-rejected violating row;
    // n_active replays the metadata commits and rejected must be TRUE —
    // the violating INSERT between v2 and v3 left no version behind.
    "etl_sql_constraint" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT * FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-02'),
        |t2 AS (
        |  SELECT * FROM t0
        |  UNION ALL
        |  SELECT * FROM base WHERE pmonth = '1997-03'),
        |t4 AS (
        |  SELECT * FROM t2
        |  UNION ALL
        |  SELECT CAST(-99 AS BIGINT), CAST(-1 AS BIGINT), '1997-01'),
        |u AS (
        |  SELECT 0 AS version, 0 AS n_active, o_orderkey, price_c FROM t0
        |  UNION ALL SELECT 1, 1, o_orderkey, price_c FROM t0
        |  UNION ALL SELECT 2, 1, o_orderkey, price_c FROM t2
        |  UNION ALL SELECT 3, 0, o_orderkey, price_c FROM t2
        |  UNION ALL SELECT 4, 0, o_orderkey, price_c FROM t4)
        |SELECT version, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |  n_active, CAST(1 AS BOOLEAN) AS rejected
        |FROM u GROUP BY version, n_active
        |ORDER BY version""".stripMargin,
    // Rename lifecycle re-derived from the data: v0 = two seed months
    // under the old name, v1 = same rows under the new name (every value
    // preserved — sum_c must match), v2 = + 1997-03 through the renamed
    // schema; the column list is hashed as a row value.
    "etl_sql_alter_rename_column" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT * FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-02'),
        |t2 AS (
        |  SELECT * FROM t0
        |  UNION ALL
        |  SELECT * FROM base WHERE pmonth = '1997-03'),
        |u AS (
        |  SELECT 0 AS version, 'o_orderkey,price_c,pmonth' AS cols,
        |    o_orderkey, price_c FROM t0
        |  UNION ALL
        |  SELECT 1, 'o_orderkey,amount_c,pmonth', o_orderkey, price_c
        |  FROM t0
        |  UNION ALL
        |  SELECT 2, 'o_orderkey,amount_c,pmonth', o_orderkey, price_c
        |  FROM t2)
        |SELECT version, cols, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_c
        |FROM u GROUP BY version, cols
        |ORDER BY version""".stripMargin,
    // Time-travel pins re-derived from the data: v0 = the three seed
    // months, v1 = + 1997-04, v2 = v1 minus the dropped 1997-01; the two
    // ts-pins land on v1 (exactly at its commit ts) and v2 (far future).
    "etl_sql_time_travel_native" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT * FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-03'),
        |v1 AS (
        |  SELECT * FROM t0
        |  UNION ALL SELECT * FROM base WHERE pmonth = '1997-04'),
        |v2 AS (SELECT * FROM v1 WHERE pmonth <> '1997-01'),
        |u AS (
        |  SELECT 'v' AS src, 0 AS version, o_orderkey, price_c FROM t0
        |  UNION ALL SELECT 'v', 1, o_orderkey, price_c FROM v1
        |  UNION ALL SELECT 'v', 2, o_orderkey, price_c FROM v2
        |  UNION ALL SELECT 'ts', 1, o_orderkey, price_c FROM v1
        |  UNION ALL SELECT 'ts', 2, o_orderkey, price_c FROM v2)
        |SELECT src, version, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |  CAST(1 AS BOOLEAN) AS matches_view
        |FROM u GROUP BY src, version
        |ORDER BY src, version""".stripMargin,
    // CONVERT's ledger and per-(version, month) content, re-derived from
    // the data: the plain writer leaves one file per month (n_added at v0
    // = month count), the INSERT appends one month's file, the UPDATE
    // rewrites the hit month; imported = true — every v0 manifest entry
    // references a pre-existing file.
    "etl_sql_convert" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |t0 AS (
        |  SELECT * FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-03'),
        |ins AS (SELECT * FROM base WHERE pmonth = '1997-04'),
        |v1s AS (SELECT * FROM t0 UNION ALL SELECT * FROM ins),
        |parts AS (
        |  SELECT
        |    (SELECT CAST(COUNT(DISTINCT pmonth) AS BIGINT) FROM t0) AS n0,
        |    (SELECT CAST(COUNT(DISTINCT pmonth) AS BIGINT) FROM ins)
        |      AS n_ins,
        |    (SELECT CAST(COUNT(DISTINCT pmonth) AS BIGINT) FROM v1s
        |     WHERE o_orderkey % 10 = 3 AND pmonth = '1997-02') AS n_hit),
        |u AS (
        |  SELECT 0 AS version, 'convert' AS operation,
        |    (SELECT n0 FROM parts) AS n_added,
        |    CAST(0 AS BIGINT) AS n_removed, o_orderkey, price_c, pmonth
        |  FROM t0
        |  UNION ALL
        |  SELECT 1, 'append', (SELECT n_ins FROM parts),
        |    CAST(0 AS BIGINT), o_orderkey, price_c, pmonth FROM v1s
        |  UNION ALL
        |  SELECT 2, 'update', (SELECT n_hit FROM parts),
        |    (SELECT n_hit FROM parts), o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 AND pmonth = '1997-02'
        |         THEN price_c + 111 ELSE price_c END, pmonth
        |  FROM v1s)
        |SELECT version, pmonth, operation, n_added, n_removed,
        |  CAST(1 AS BOOLEAN) AS imported, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |FROM u GROUP BY version, pmonth, operation, n_added, n_removed
        |ORDER BY version, pmonth""".stripMargin
  )
}
