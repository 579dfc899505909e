package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** §2-I: Structured Streaming operators.
  *
  * Every query reads the events table through a streaming file source,
  * runs with `Trigger.AvailableNow` into a memory sink, and returns the
  * finished result — deterministic because the input is static, so the
  * final state equals the batch answer (the oracle SQL). Watermark
  * late-data semantics (I6) are inherently multi-batch and live in the
  * MemoryStream unit tests instead.
  *
  * Scale: these are the standard production shapes — hash-partitioned
  * stateful aggregation keyed by (bucket, type) / user, state store per
  * partition (RocksDB provider at real scale), watermarks bounding state.
  */
/** Named-state processor behind stream_tws_totals: running (Σ cents, n)
  * per user. Top-level so the closure stays serializable. */
class TwsRunningTotals extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}

  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var (t, n) = if (st.exists()) st.get() else (0L, 0L)
    rows.foreach { r => t += r._2; n += 1 }
    st.update((t, n))
    Iterator.single((key, t, n))
  }
}

/** CEP funnel processor behind stream_cep_funnel: counts per-user
  * completed click → view → purchase sequences (strict event order,
  * purchase within 6h of the click). The imperative DP mirrors the
  * oracle's two-window relational DP exactly:
  *   cLast  = latest click strictly before the current row;
  *   vcLast = max over strictly-preceding views of THAT view's cLast
  *            (monotone: the latest eligible view carries the latest
  *            usable click, so one running max suffices);
  *   a purchase completes iff vcLast exists and ts − vcLast ≤ 6h.
  * Rows are sorted (ts, event_id) inside the batch — the same unique
  * order the oracle's ROWS frame uses; state carries the DP registers
  * so sequences SPANNING microbatches complete (spec'd via
  * MemoryStream). Top-level so the closure stays serializable. */
class CepFunnel extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, String), (Long, Long, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}

  private val None_ = Long.MinValue
  @transient private var st: ValueState[(Long, Long, Long, Long)] = _

  override def init(outputMode: OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long, Long)]("cep",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long, String)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var (cLast, vcLast, nPurch, nFun) =
      if (st.exists()) st.get() else (None_, None_, 0L, 0L)
    val sorted = rows.toArray.sortBy(r => (r._2, r._3))
    sorted.foreach { case (_, ts, _, tpe) =>
      tpe match {
        case "purchase" =>
          nPurch += 1
          if (vcLast != None_ && ts - vcLast <= 21600000000L) nFun += 1
        case "view" =>
          if (cLast != None_ && cLast > vcLast) vcLast = cLast
        case "click" =>
          if (ts > cLast || cLast == None_) cLast = ts
        case _ => ()
      }
    }
    st.update((cLast, vcLast, nPurch, nFun))
    Iterator.single((key, nPurch, nFun))
  }
}

object Streams {

  // One footer probe per sf dir, not per query: 14 streaming queries × 2
  // bench reps would otherwise re-open the same parquet footer 28 times.
  // Keyed by path only — a testdata dir's physical schema never changes
  // within a session.
  private val tsTypeCache =
    new scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.types.DataType]

  private[graft] def readEvents(s: SparkSession, d: String): DataFrame = {
    Tables.enableNanos(s)
    // A streaming file source needs the schema up front; probe the on-disk
    // ts physical type with a footer-only batch read (the column has
    // shipped as both TIMESTAMP_NANOS→long and TIMESTAMP_MICROS), then
    // normalize to the engine-wide BIGINT epoch-ns contract exactly as
    // Tables.events does for batch.
    val tsType = tsTypeCache.getOrElseUpdate(d,
      s.read.parquet(s"$d/events.parquet").schema("ts").dataType)
    val eventsSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // Size the state-shard count to the stream's actual volume (read off
    // the source file, the throughput proxy a production job would size
    // from): each stateful operator opens/commits one state store per
    // shuffle partition per microbatch, so SMALL streams want few shards
    // (fixed commit cost dominates: measured ~1.8s -> ~1.1s per query at
    // 32 -> 8 on the 2 MB sf0.1 file) while BIG streams want the cores
    // (the pinned 8 left 3/4 of the box idle on sf10's 194 MB / 10M-event
    // replay — stream_session sat at 28.8 s). clamp(bytes/8MB, 8, 32):
    // sf0.1 -> 8, sf10 -> 24. Consumed by runToMemory below; the
    // MemoryStream-based specs never pass through here and keep 8.
    streamShards.set(math.min(32L, math.max(8L,
      new java.io.File(s"$d/events.parquet").length() / (8L << 20))).toInt)
    // The file source wants a directory; select just the events table from
    // the sf dir via a glob filter (landing-directory consumption shape).
    Tables.normalizeEventTs(
      s.readStream.schema(eventsSchema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
  }

  private val streamShards = new java.util.concurrent.atomic.AtomicInteger(8)

  /** Like [[runToMemory]] but lands the stream's result via foreachBatch
    * into a parquet dir (overwrite per batch — the final batch leaves the
    * final result) and reads it back DISTRIBUTED. The memory sink
    * materializes the whole result on the driver, which caps it at
    * spark.driver.maxResultSize — fine for bounded aggregates (per-type /
    * per-bucket rows), fatal for results that GROW with the data (per-
    * session rows broke at sf30: 1.07 GB of task results). This is the
    * production shape for a large streaming result anyway: sink to
    * storage, not to the driver. */
  private def runToParquet(s: SparkSession, df: DataFrame, name: String,
                           mode: String): DataFrame = {
    requireNoWatermarkAppendAgg(df, name, mode)
    val dir = s"${graft.fixtureRoot}/stream_sink_$name"
    // Clear the PREVIOUS run's sink before starting: a run that yields
    // zero microbatches (or dies before its first batch) writes nothing,
    // and reading back a stale dir would silently return the previous
    // run's result instead of failing.
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(dirPath, true)
    val prior = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShards.get().toString)
    val priorNoData = noDataBatchesOff(s)
    try {
      val q = df.writeStream.outputMode(mode)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(dir); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      if (!fs.exists(dirPath))
        throw new IllegalStateException(
          s"stream $name produced no microbatches — no sink output at $dir")
      s.read.parquet(dir)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prior)
      restoreNoDataBatches(s, priorNoData)
    }
  }

  /** Skip the trailing NO-DATA microbatch for the aggregate/stateful rows
    * run through [[runToMemory]]/[[runToParquet]]: AvailableNow over a
    * static input delivers every row in the data batches, and the extra
    * batch exists only to advance the watermark for append-mode WINDOW
    * emission and state eviction — every sink here is complete/update
    * (state re-emitted per batch) or an immediate-emission append
    * (dropDuplicates, inner interval join), so that batch plans and runs a
    * full IncrementalExecution to produce nothing. One fewer microbatch
    * per stream at ANY scale — protocol work, not a local-mode tweak. The
    * `stream_vt_*`/CDF rows manage their own writeStream and keep the
    * default (their batch ids are graded). */
  private def noDataBatchesOff(s: SparkSession): Option[String] = {
    val k = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prior = s.conf.getOption(k)
    s.conf.set(k, "false")
    prior
  }

  /** Refuses what [[noDataBatchesOff]] would silently break: an
    * append-mode aggregation over an event-time watermark emits a window
    * only once the watermark passes its end, and with no trailing no-data
    * batch the watermark never advances past the last data batch, so the
    * final windows would never be emitted. */
  private def requireNoWatermarkAppendAgg(df: DataFrame, name: String,
                                          mode: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      EventTimeWatermark}
    if (mode.equalsIgnoreCase("append")) require(
      !df.queryExecution.analyzed.exists {
        case a: Aggregate => a.child.exists(_.isInstanceOf[EventTimeWatermark])
        case _ => false
      },
      s"stream $name: an append-mode aggregation over an event-time " +
      "watermark needs the trailing no-data microbatch to emit its final " +
      "windows, which these helpers skip; run it in complete or update mode")
  }

  private def restoreNoDataBatches(s: SparkSession,
                                   prior: Option[String]): Unit = {
    val k = "spark.sql.streaming.noDataMicroBatches.enabled"
    prior match {
      case Some(v) => s.conf.set(k, v)
      case None => s.conf.unset(k)
    }
  }

  private[graft] def runToMemory(s: SparkSession, df: DataFrame,
                                 name: String, mode: String): DataFrame = {
    requireNoWatermarkAppendAgg(df, name, mode)
    // State-shard count sized by readEvents (see above); queries build
    // their stream via readEvents immediately before running it here, and
    // the harness executes queries sequentially, so the handoff is safe.
    val prior = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShards.get().toString)
    val priorNoData = noDataBatchesOff(s)
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prior)
      restoreNoDataBatches(s, priorNoData)
    }
  }

  val queries: Map[String, Q] = Map(
    // I1: 1h tumbling counts + decimal sums per event_type (integer-µs
    // bucketing — exact on both engines).
    "stream_tumbling" -> ((s, d) => {
      import s.implicits._
      val agg = readEvents(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .withColumn("bucket_us", expr("ts_us - ts_us % 3600000000"))
        .groupBy($"bucket_us", $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(Tables.dec($"value")).cast("decimal(18,6)").as("sum_value"))
      runToMemory(s, agg, "graft_stream_tumbling", "complete")
        .select($"bucket_us", $"event_type", $"n",
          Tables.e6($"sum_value").as("sum_value_e6"))
        .orderBy("bucket_us", "event_type")
    }),

    // I2: 1h window sliding every 15min (4 overlapping buckets per event).
    "stream_sliding" -> ((s, d) => {
      import s.implicits._
      val agg = readEvents(s, d)
        .withColumn("t", timestamp_micros(Tables.tsUs))
        .groupBy(window($"t", "1 hour", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(unix_micros($"window.start").as("bucket_us"), $"event_type", $"n")
      runToMemory(s, agg, "graft_stream_sliding", "complete")
        .orderBy("bucket_us", "event_type")
    }),

    // I3: per-user session windows with a 30min gap.
    "stream_session" -> ((s, d) => {
      import s.implicits._
      val agg = readEvents(s, d)
        .withColumn("t", timestamp_micros(Tables.tsUs))
        .groupBy(session_window($"t", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n"))
        .select($"user_id",
          unix_micros($"session_window.start").as("session_start_us"),
          $"n",
          (unix_micros($"session_window.end") - unix_micros($"session_window.start")
            - 1800000000L).as("span_us"))
      // per-session result rows GROW with the data — parquet sink, not the
      // driver-materializing memory sink (maxResultSize breach at sf30)
      runToParquet(s, agg, "graft_stream_session", "complete")
        .orderBy("user_id", "session_start_us")
    }),

    // I4: stateful streaming dedup on the natural key (order-independent
    // output: the key set).
    "stream_dedup_state" -> ((s, d) => {
      import s.implicits._
      val deduped = readEvents(s, d)
        .withColumn("t", timestamp_micros(Tables.tsUs))
        .withWatermark("t", "1 hour")
        .dropDuplicates("user_id", "event_type")
        .select($"user_id", $"event_type")
      runToMemory(s, deduped, "graft_stream_dedup", "append")
        .orderBy("user_id", "event_type")
    }),

    // I5: arbitrary stateful processing — running per-user event count via
    // flatMapGroupsWithState; final state = batch COUNT(*).
    "stream_stateful_count" -> ((s, d) => {
      import s.implicits._
      val counted = readEvents(s, d)
        .select($"user_id")
        .as[Long]
        .groupByKey(identity)
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (uid: Long, rows: Iterator[Long], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            Iterator((uid, n))
        }
        .toDF("user_id", "n_events")
      runToMemory(s, counted, "graft_stream_stateful", "update")
        .orderBy("user_id")
    }),

    // Stream–static broadcast enrichment: the canonical "join the firehose
    // with a dimension" shape. The static nation dim broadcasts to every
    // task; the stream is NEVER shuffled for the join (only the downstream
    // aggregation shuffles on the group key), and the dim is re-resolvable
    // per microbatch (slowly-changing dims pick up updates). Key is a
    // deterministic user_id → nationkey mapping.
    "stream_static_enrich" -> ((s, d) => {
      import s.implicits._
      val dim = Tables.nation(s, d)
        .select($"n_nationkey".cast("long").as("nk"), $"n_name")
      val enriched = readEvents(s, d)
        .withColumn("nk", $"user_id" % 25)
        .join(broadcast(dim), "nk")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n"),
          sum(Tables.dec($"value")).cast("decimal(18,6)").as("sum_value"))
      runToMemory(s, enriched, "graft_stream_enrich", "complete")
        .select($"n_name", $"n", Tables.e6($"sum_value").as("sum_value_e6"))
        .orderBy("n_name")
    }),

    // Stream–stream interval join: each purchase matched to the same
    // user's clicks in the preceding six hours — the attribution-join
    // shape. Both sides carry watermarks (they bound the join state: a
    // click older than watermark−6h can never match a future purchase and
    // is evicted); the range predicate rides on the watermarked
    // event-time columns so Spark derives those state bounds. With
    // AvailableNow over the static table everything lands in one
    // microbatch, so the appended result equals the batch interval join
    // the oracle runs. The 2× user sample bounds graded output; the
    // shape shuffles each stream once on user_id at any scale.
    "stream_interval_join" -> ((s, d) => {
      import s.implicits._
      val purchases = readEvents(s, d)
        .filter($"event_type" === "purchase" && $"user_id" % 2 === 0)
        .select($"event_id".as("p_id"), $"user_id".as("pu"),
          timestamp_micros(Tables.tsUs).as("pt"))
        .withWatermark("pt", "1 hour")
      val clicks = readEvents(s, d)
        .filter($"event_type" === "click" && $"user_id" % 2 === 0)
        .select($"event_id".as("c_id"), $"user_id".as("cu"),
          timestamp_micros(Tables.tsUs).as("ct"))
        .withWatermark("ct", "7 hours")
      val joined = purchases.join(clicks,
          $"pu" === $"cu" &&
          $"ct" >= $"pt" - expr("INTERVAL 6 HOURS") && $"ct" <= $"pt")
        .select($"p_id", $"c_id", $"pu".as("user_id"),
          (unix_micros($"pt") - unix_micros($"ct")).as("gap_us"))
      runToMemory(s, joined, "graft_stream_ij", "append")
        .orderBy("p_id", "c_id")
    }),

    // transformWithState (Spark 4's arbitrary-state successor to
    // flatMapGroupsWithState): per-user running (value total, event
    // count) in a NAMED ValueState on the RocksDB provider — the API a
    // production stateful consumer migrates to (named state variables,
    // TTL, timers). Values are quantized to cents BEFORE keying (rule
    // R8), the static input lands in one AvailableNow batch, so the
    // final emission per key equals the batch aggregate the oracle runs.
    "stream_tws_totals" -> ((s, d) => {
      import s.implicits._
      val prior = s.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val totals = readEvents(s, d)
          .select($"user_id",
            round(Tables.dec($"value") * 100).cast("long").as("cents"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new TwsRunningTotals(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "total_cents", "n_events")
        runToMemory(s, totals, "graft_stream_tws", "update")
          .orderBy("user_id")
      } finally prior match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }),

    // 10th streaming oracle: streaming CDC apply — foreachBatch feeding the
    // partition-COW MERGE sink, the standard production pattern for
    // maintaining a queryable partitioned table from a change stream
    // (micro-batch granularity, each batch one atomic-per-partition merge).
    // Base table: per-user state from "historical" events (event_id%3=0),
    // partitioned by p = user_id % 8, with the deciding event time STORED
    // (ev_ts). The stream carries the rest; each microbatch reduces to one
    // change row per user — the LATEST event (by µs time, event_id
    // tiebreak) wins, deleted if its cents divide by 7 — and foreachBatch
    // merges it CONDITIONALLY (targetSeqCol = ev_ts): the globally latest
    // event wins whether it arrived as history or stream, in ANY microbatch
    // order, so the semantics don't depend on AvailableNow yielding one
    // batch. The oracle replicates the same global reduction relationally
    // and the final on-disk table is hash-compared through a re-read.
    // Scale: stream work per batch is one hash-agg; merge work scales with
    // the affected partitions, not the table.
    "stream_cdc_apply" -> ((s, d) => {
      import s.implicits._
      val dir = s"${graft.fixtureRoot}/stream_cdc"
      val hist = Tables.events(s, d)
        .withColumn("ts_us", Tables.tsUs)
        .filter($"event_id" % 3 === 0)
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts_us".desc, $"event_id".desc)
      hist.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id".as("k"),
          round(Tables.dec($"value") * 100).cast("long").as("cents"),
          // the deciding event time is STORED in the table so the merge can
          // be conditional ("apply only if newer") — microbatch-order-safe
          $"ts_us".as("ev_ts"),
          ($"user_id" % 8).cast("string").as("p"))
        .coalesce(2).write.partitionBy("p").mode("overwrite").parquet(dir)
      val stream = readEvents(s, d).filter($"event_id" % 3 =!= 0)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bw = Window.partitionBy(col("user_id"))
            .orderBy(Tables.tsUs.desc, col("event_id").desc)
          val changes = batch
            .withColumn("rn", row_number().over(bw)).filter(col("rn") === 1)
            .select(col("user_id").as("k"),
              round(Tables.dec(col("value")) * 100).cast("long").as("cents"),
              Tables.tsUs.as("ev_ts"),
              (col("user_id") % 8).cast("string").as("p"),
              // seq = the event's µs time, NOT a per-batch constant, and the
              // merge is CONDITIONAL on the stored ev_ts: if the source ever
              // splits into >1 microbatch (maxFilesPerTrigger, larger SF),
              // the globally latest event still wins in ANY batch order —
              // matching the oracle's global reduction.
              Tables.tsUs.as("seq"))
            .withColumn("op",
              when(col("cents") % 7 === 0, lit("D")).otherwise(lit("U")))
          graft.sources.MergeSink.mergeInto(
            batch.sparkSession, dir, changes, Seq("k"), "p",
            targetSeqCol = Some("ev_ts"))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(dir)
        .groupBy($"p".cast("string").as("p"))
        .agg(count(lit(1)).as("n_users"), sum($"cents").as("sum_cents"))
        .orderBy("p")
    }),

    // 9th streaming oracle: ONLINE near-duplicate detection — the form a
    // live ingest pipeline needs (catch a near-dup the moment it lands,
    // not in the nightly batch). Each incoming doc gets its 60-bit
    // signature from the engine's codegen SimHash60 expression, fans out
    // to 4×15-bit LSH band buckets (pigeonhole: hamming ≤ 12 pairs share
    // ≥1 exact band with high probability — same banding as
    // dedup_simhash_pairs), and each bucket's state holds the (doc_id,
    // sig) seen so far; a new doc emits (doc_id, dup_of = least earlier
    // matching doc). Determinism: within a batch the group sorts by
    // doc_id, so "earlier" ≡ lower doc_id — exactly the batch semantics
    // the oracle replicates. Scale: state is per-bucket and bounded by
    // bucket occupancy (a production job adds TTL/caps per bucket); the
    // shuffle key is the band bucket, never the corpus.
    "stream_neardup_simhash" -> ((s, d) => {
      import s.implicits._
      val docsSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val bands = s.readStream.schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .filter($"doc_id" < 200)
        .select($"doc_id",
          graft.plans.SimHash60.simhash60(split($"text", " ")).as("sig"))
        .select($"doc_id", $"sig", explode(sequence(lit(0), lit(3))).as("b"))
        .select(($"b".cast("long") * 32768L +
            expr("shiftright(sig, 15 * b) & 32767")).as("bucket"),
          $"doc_id", $"sig")
      val pairs = bands.as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Array[(Long, Long)], (Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (_: Long, rows: Iterator[(Long, Long, Long)],
           state: org.apache.spark.sql.streaming.GroupState[Array[(Long, Long)]]) =>
            val arrived = rows.map(r => (r._2, r._3)).toArray.sortBy(_._1)
            var seen = state.getOption.getOrElse(Array.empty[(Long, Long)])
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            arrived.foreach { case (id, sig) =>
              var best = Long.MaxValue
              seen.foreach { case (pid, psig) =>
                if (pid < id && pid < best &&
                  java.lang.Long.bitCount(sig ^ psig) <= 12) best = pid
              }
              if (best != Long.MaxValue) out += ((id, best))
              seen = seen :+ ((id, sig))
            }
            state.update(seen)
            out.iterator
        }.toDF("doc_id", "dup_of")
      runToMemory(s, pairs, "graft_stream_neardup", "update")
        .groupBy($"doc_id")
        .agg(min($"dup_of").as("dup_of"))
        .orderBy("doc_id")
    }),

    // 11th streaming oracle: streaming quantile estimation — the KLL
    // sketch as a STREAMING aggregation. The state store carries one
    // serialized ~k·H-item sketch per event_type between microbatches
    // (TypedImperativeAggregate partials merge exactly like map-side
    // partials do in batch — mergeability is what makes the sketch a
    // streaming-native operator; exact per-group quantiles would need
    // every value in state). Graded like agg_quantile_sketch_rank: the
    // streamed estimates are then ranked against the STATIC table and
    // the emitted flags assert the worst-case rank bound held; the
    // oracle pins flags = 1 plus exact group sizes. Cross-microbatch
    // merging is spec'd via MemoryStream (QuantileSketchSpec).
    "stream_quantile_sketch" -> ((s, d) => {
      import s.implicits._
      import graft.plans.QuantileSketchAgg.{quantileSketch, rankOkSql}
      val agg = readEvents(s, d)
        .select($"event_type",
          round(Tables.dec($"value") * 100).cast("long").as("x"))
        .groupBy($"event_type")
        .agg(quantileSketch($"x", 512, Seq(0.5, 0.99)).as("qs"),
          count(lit(1)).as("n"))
        .select($"event_type", $"n",
          element_at($"qs", 1).as("p50"), element_at($"qs", 2).as("p99"))
      val sk = runToMemory(s, agg, "graft_stream_qsketch", "complete")
      val base = Tables.events(s, d)
        .select($"event_type",
          round(Tables.dec($"value") * 100).cast("long").as("x"))
      base.join(broadcast(sk), "event_type")
        .groupBy($"event_type")
        .agg(max($"n").as("n"),
          sum(when($"x" < $"p50", 1L).otherwise(0L)).as("r50_lt"),
          sum(when($"x" <= $"p50", 1L).otherwise(0L)).as("r50_le"),
          sum(when($"x" < $"p99", 1L).otherwise(0L)).as("r99_lt"),
          sum(when($"x" <= $"p99", 1L).otherwise(0L)).as("r99_le"))
        .select($"event_type", $"n",
          expr(rankOkSql(512, "r50_lt", "r50_le", "(n + 1) div 2"))
            .cast("long").as("p50_ok"),
          expr(rankOkSql(512, "r99_lt", "r99_le", "(99 * n + 99) div 100"))
            .cast("long").as("p99_ok"))
        .orderBy("event_type")
    }),

    // 12th streaming oracle: heavy hitters over the stream — the
    // Misra–Gries sketch (SpaceSavingAgg, k=8) as a streaming
    // aggregation, the trending-keys use case every event firehose runs.
    // Counter VALUES are encounter-order-dependent (batch policy: spec-
    // gated, not hashed), so the query emits the sketch's PROOF
    // OBLIGATIONS computed against the static table: every key with true
    // frequency > n/(k+1) is reported (MG presence theorem), and every
    // reported counter lies in [true − n/(k+1), true] (never
    // overestimates, bounded underestimate — preserved across both
    // map-side partials and cross-microbatch state-store merges by the
    // Agarwal et al. mergeability result). Oracle pins both flags to 1
    // plus exact group sizes.
    "stream_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      // Skewed key mix so the theorems BITE: two thirds of rows land on
      // 4 hot keys (~17% each > n/(k+1) = 11% ⇒ all four MUST be
      // reported), one third churns a 200-key tail that pressures the
      // k=8 buffer into real decrements (so the bounds check sees
      // genuine underestimates, not exact counts).
      val keyExpr = expr(
        "CASE WHEN user_id % 3 = 0 THEN 100 + user_id % 200 ELSE user_id % 4 END")
      val agg = readEvents(s, d)
        .select($"event_type", keyExpr.as("key"))
        .groupBy($"event_type")
        .agg(graft.plans.SpaceSavingAgg.heavyHitters($"key", 8).as("hh"),
          count(lit(1)).as("n"))
      val sk = runToMemory(s, agg, "graft_stream_hh", "complete")
      // The sketch is ≤ k entries per group BY CONSTRUCTION (5 groups ×
      // 8 keys here), so a driver-side snapshot is bounded — and gives
      // the three verification branches independent lineages (the memory
      // sink's view cannot be self-joined against its own derivatives).
      // Same bounded-driver policy as the merge sink's partition list.
      val skRows = sk.select($"event_type", $"n", $"hh").collect()
      val nDf = skRows.map(r => (r.getString(0), r.getLong(1))).toSeq
        .toDF("event_type", "n")
      val estDf = skRows.flatMap { r =>
        r.getSeq[org.apache.spark.sql.Row](2).map(e =>
          (r.getString(0), r.getLong(1), e.getLong(0), e.getLong(1)))
      }.toSeq.toDF("event_type", "n", "key", "est")
      val truth = Tables.events(s, d)
        .select($"event_type", expr(
          "CASE WHEN user_id % 3 = 0 THEN 100 + user_id % 200 ELSE user_id % 4 END")
          .as("key"))
        .groupBy($"event_type", $"key").agg(count(lit(1)).as("tc"))
      // A near-uniform key distribution is MG's degenerate case: the
      // merge's (k+1)-largest subtraction can legitimately empty a
      // group's sketch (no key exceeds n/(k+1), so both theorems hold
      // VACUOUSLY) — groups therefore come from the sketch table and an
      // absent flag coalesces to 1, not from the per-entry join.
      val bounds = estDf.join(truth, Seq("event_type", "key"), "left")
        .groupBy($"event_type")
        .agg(min(expr(
          """CASE WHEN est <= coalesce(tc, 0)
            | AND est >= coalesce(tc, 0) - n div 9 THEN 1 ELSE 0 END"""
            .stripMargin.replaceAll("\n", " "))).as("bounds_ok"))
      val missing = truth
        .join(broadcast(nDf), "event_type")
        .filter(expr("tc > n div 9"))
        .join(estDf.select($"event_type", $"key".as("rep_key")),
          col("key") === col("rep_key") &&
            estDf("event_type") === truth("event_type"), "left_anti")
        .groupBy($"event_type").agg(count(lit(1)).as("n_missing"))
      nDf
        .join(bounds, Seq("event_type"), "left")
        .join(missing, Seq("event_type"), "left")
        .select($"event_type", $"n",
          coalesce($"bounds_ok", lit(1L)).cast("long").as("bounds_ok"),
          when(coalesce($"n_missing", lit(0L)) === 0L, 1L).otherwise(0L)
            .as("all_present"))
        .orderBy("event_type")
    }),

    // Complex-event-processing funnel (click → view → purchase within
    // 6h, strict order) via transformWithState — the arbitrary-state API
    // doing what windowed aggregation cannot: pattern detection with a
    // per-key DP register set (two running maxes + two counters) instead
    // of buffered events. State per user is CONSTANT (4 longs) no matter
    // how long the stream — the property that makes CEP viable at
    // firehose scale; sequences spanning microbatches complete because
    // the registers persist (MemoryStream-spec'd). Oracle: the identical
    // DP as two ROWS-frame window maxes in DuckDB.
    "stream_cep_funnel" -> ((s, d) => {
      import s.implicits._
      val prior = s.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val funnels = readEvents(s, d)
          .select($"user_id", expr("ts div 1000").as("ts_us"), $"event_id",
            $"event_type")
          .as[(Long, Long, Long, String)]
          .groupByKey(_._1)
          .transformWithState(new CepFunnel(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "n_purchases", "n_funnels")
        runToMemory(s, funnels, "graft_stream_cep", "update")
          .filter($"n_purchases" > 0)
          .select($"user_id", $"n_purchases", $"n_funnels")
          .orderBy("user_id")
      } finally prior match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }),

    // Streaming Count-Min frequency state, per event type. Unlike the KLL
    // and Misra–Gries streaming sketches (order-dependent ⇒ graded via
    // proof flags), CMS merge is elementwise ADDITION — commutative and
    // associative — so the state after any microbatch sequence is
    // bit-identical to the batch matrix, and the streaming estimates get
    // a FULL relational DuckDB oracle (the 13th streaming oracle, and
    // the strongest grading a streaming sketch admits). The per-type
    // matrix is the production shape for online per-key frequency
    // serving: fixed 4×128 state per group in the state store, point
    // estimates answerable mid-stream without a key-domain shuffle.
    "stream_cms_freq" -> ((s, d) => {
      import s.implicits._
      def hex(k: org.apache.spark.sql.Column) =
        md5(concat(lit("cms:"), k.cast("string")).cast("binary"))
      val agg = readEvents(s, d)
        .select($"event_type", $"user_id")
        .groupBy($"event_type")
        .agg(graft.plans.CountMinAgg.cmsSketch(hex($"user_id"), 4, 128).as("sk"))
      val sk = runToMemory(s, agg, "graft_stream_cms", "complete")
      val probes = Tables.events(s, d)
        .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n_exact"))
        .withColumn("rn", row_number().over(Window.partitionBy($"event_type")
          .orderBy($"n_exact".desc, $"user_id".asc)))
        .filter($"rn" <= 3)
      val withHex = probes.join(broadcast(sk), "event_type")
        .withColumn("hx", hex($"user_id"))
      val ests = (0 until 4).map { j =>
        element_at($"sk",
          (conv(substring($"hx", 1 + 8 * j, 8), 16, 10).cast("long") % 128
            + lit(j * 128) + 1).cast("int"))
      }
      withHex.select($"event_type", $"user_id", $"n_exact",
          least(ests: _*).as("n_cms"))
        .orderBy($"event_type", $"n_exact".desc, $"user_id")
    }),

    // 15th streaming oracle: STREAMING ANN index maintenance — the
    // production loop for a continuously-ingested embedding corpus. The
    // bottom-90% id prefix is the indexed base: its centroids are trained
    // once (the same frozen-index contract as sim_ann_ivf_incremental) and
    // the inverted file is initialized from the base assignment. The
    // appended decile then ARRIVES AS A STREAM (two landing-file drops,
    // maxFilesPerTrigger=1 ⇒ provably multiple microbatches); each
    // microbatch assigns ONLY its own vectors two-level against the frozen
    // centroids (|batch|·~2·√nC pair-dots — no corpus recompute, no state
    // store: assignment is per-row against a broadcast index, the
    // embarrassingly-streamable kind) and appends them to the inverted
    // file via an idempotent per-batch directory write (overwrite of
    // batch=<id> — a replayed batch rewrites the same directory, the
    // standard foreachBatch exactly-once recipe; at production scale the
    // write is an append into the cid-partitioned layout). The graded
    // per-list occupancy hashes every vector's assignment, base and
    // streamed alike; the oracle is the SAME relational derivation as the
    // batch-incremental row, so the hash match proves stream ≡ batch.
    "stream_ann_index_maintain" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AnnSearch
      val root = s"${graft.fixtureRoot}/stream_ann"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val landing = s"$root/landing"
      val inverted = s"$root/inverted"
      val e = Tables.embeddings(s, d)
      val n = Tables.rowCount(s, d, "embeddings")
      val baseN = n * 9 / 10
      val nC = AnnSearch.autoCentroids(baseN)
      val nG = AnnSearch.autoCoarse(nC)
      val trainN = AnnSearch.autoTrainN(baseN, nC)
      val eqb = AnnSearch.quantize(e.filter($"vec_id" < baseN),
        "vec_id", "embedding")
      val cent = AnnSearch.trainCentroids(eqb, nC, trainN, "vec_id")
      val (coarse, f2g) = AnnSearch.coarseFine(cent, nG)
      AnnSearch.assignTwoLevel(eqb, coarse, f2g, "vec_id")
        .coalesce(2).write.mode("overwrite").parquet(s"$inverted/batch=-1")
      val app = e.filter($"vec_id" >= baseN).select($"vec_id", $"embedding")
      app.filter($"vec_id" % 2 === 0)
        .coalesce(1).write.mode("append").parquet(landing)
      app.filter($"vec_id" % 2 === 1)
        .coalesce(1).write.mode("append").parquet(landing)
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          AnnSearch.assignTwoLevel(
              AnnSearch.quantize(batch, "vec_id", "embedding"),
              coarse, f2g, "vec_id")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$inverted/batch=$bid")
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.read.parquet(inverted)
        .groupBy($"cid")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when($"vec_id" >= baseN, 1L).otherwise(0L)).as("n_new"))
        .orderBy($"cid")
      cent.unpersist()
      out
    }),

    // 16th streaming oracle: CHANGE DATA FEED OUT of the versioned table —
    // the second half of the lakehouse loop (stream_cdc_apply flows
    // changes IN; this streams them back OUT). The table's `_log`
    // directory IS the stream: each published manifest is one new file, so
    // a plain file source watching `_log` delivers commits in order
    // (maxFilesPerTrigger=1 ⇒ provably one microbatch per commit). Each
    // microbatch derives its commit's row-level diff with
    // VersionedTable.changes and lands it in an idempotent per-version
    // sink directory (overwrite of v=<n> — a replayed batch rewrites the
    // same dir, the standard foreachBatch exactly-once recipe). Graded
    // twice over: per-(version, change_type) aggregates must match the
    // declarative deltas, AND the feed must be COMPLETE — replaying
    // inserts EXCEPT ALL deletes from the sink alone must reconstruct the
    // final snapshot (the `replayed_final` row). At scale this is the
    // downstream-materialized-view primitive: consumers keep sync'd
    // replicas from the feed without ever re-reading the table.
    "stream_cdf_replay" -> ((s, d) => {
      import s.implicits._
      graft.operators.Etl.writeVersionedFixture(s, d)
      val vt = graft.operators.Etl.vtPath
      val root = s"${graft.fixtureRoot}/stream_cdf_replay"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val sink = s"$root/sink"
      val manifestSchema = StructType(Seq(
        StructField("version", IntegerType), StructField("action", StringType),
        StructField("file", StringType), StructField("part", StringType),
        StructField("smin", LongType), StructField("smax", LongType),
        StructField("ts", LongType), StructField("op", StringType)))
      val q = s.readStream.schema(manifestSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$vt/_log")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val versions = batch.select("version").distinct()
            .collect().map(_.getInt(0)).sorted
          versions.foreach { v =>
            // no coalesce: v0's diff is the WHOLE initial snapshot as
            // inserts — one writer task for it serializes the feed (37 s
            // vs 13 s at sf10); the per-version dir overwrite stays
            // idempotent at any file count
            graft.sources.VersionedTable.changes(batch.sparkSession, vt, v, v)
              .select(col("_commit_version").as("version"),
                col("_change_type").as("change_type"),
                col("o_orderkey"), col("price_c"))
              .write.mode("overwrite").parquet(s"$sink/v=$v")
          }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val feed = s.read.parquet(sink)
        .select($"version", $"change_type", $"o_orderkey", $"price_c")
      val perVersion = feed.groupBy($"version", $"change_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
      val replayed = feed.filter($"change_type" === "insert")
        .select($"o_orderkey", $"price_c")
        .exceptAll(feed.filter($"change_type" === "delete")
          .select($"o_orderkey", $"price_c"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .select(lit(-1).as("version"), lit("replayed_final").as("change_type"),
          $"n_rows", $"xor_key", $"sum_price_c")
      perVersion.unionByName(replayed).orderBy("version", "change_type")
    }),

    // The same change feed through the ENGINE surface instead of the
    // hand-rolled recipe above: `spark.readStream.format("graftvt")` — the
    // commit log as a first-class streaming SOURCE (offsets = committed
    // versions, each microbatch = one version's row-level diff via
    // VersionedTable.changes; GraftVtStreamSource). Graded three ways in
    // one row: the per-(version, change_type) aggregates must match the
    // declarative deltas (same oracle as stream_cdf_replay, so the two
    // surfaces can never drift apart), the feed must replay to the final
    // snapshot, AND delivery order is pinned — `maxVersionsPerTrigger=1`
    // plus SupportsTriggerAvailableNow means microbatch id EQUALS commit
    // version, graded as n_off_batch = 0 per group (a source that batched
    // versions together, reordered, or double-delivered fails the hash).
    "stream_vt_source" -> ((s, d) => {
      import s.implicits._
      graft.operators.Etl.writeVersionedFixture(s, d)
      val vt = graft.operators.Etl.vtPath
      val root = s"${graft.fixtureRoot}/stream_vt_source"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val sink = s"$root/sink"
      val q = s.readStream.format("graftvt")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(vt)
        .select($"_commit_version".as("version"),
          $"_change_type".as("change_type"), $"o_orderkey", $"price_c")
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          // idempotent per-batch dir (replay rewrites the same dir); bid
          // recorded per row so the grade can pin batch==version
          batch.withColumn("bid", lit(bid))
            .write.mode("overwrite").parquet(s"$sink/b=$bid")
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val feed = s.read.parquet(sink)
      val perVersion = feed.groupBy($"version", $"change_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"),
          sum(when($"bid" =!= $"version".cast("long"), 1L).otherwise(0L))
            .as("n_off_batch"))
      val replayed = feed.filter($"change_type" === "insert")
        .select($"o_orderkey", $"price_c")
        .exceptAll(feed.filter($"change_type" === "delete")
          .select($"o_orderkey", $"price_c"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .select(lit(-1).as("version"), lit("replayed_final").as("change_type"),
          $"n_rows", $"xor_key", $"sum_price_c", lit(0L).as("n_off_batch"))
      perVersion.unionByName(replayed).orderBy("version", "change_type")
    }),

    // The stream source's `startingVersion=latest`, graded end to end:
    // the stream first runs against a 2-commit table and must emit
    // NOTHING (latest pins the position AFTER the current snapshot — the
    // pre-existing data is never re-delivered), but the position it
    // checkpoints even in that empty run is the load-bearing claim: two
    // commits land AFTER the run (an append and a partition drop) and the
    // restart must drain exactly those — v2's inserts, v3's deletes —
    // one version per microbatch (n_bids = 1 per group). A source that
    // re-resolved "latest" at restart would skip both intervening commits
    // (zero rows); one that seeded at 0 would re-deliver the snapshot
    // (v0/v1 rows) — either way the hash fails.
    "stream_vt_source_latest" -> ((s, d) => {
      import s.implicits._
      val root = s"${graft.fixtureRoot}/stream_vt_source_latest"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val tbl = s"$root/table"
      val sink = s"$root/sink"
      import graft.sources.VersionedTable
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100).cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      VersionedTable.create(s, tbl,
        base.filter($"pmonth" === "1997-01"), "pmonth")
      VersionedTable.appendCommit(s, tbl,
        base.filter($"pmonth" === "1997-02"), "pmonth")
      def run(): Unit = {
        val q = s.readStream.format("graftvt")
          .option("startingVersion", "latest")
          .option("maxVersionsPerTrigger", "1")
          .load(tbl)
          .select($"_commit_version".as("version"),
            $"_change_type".as("change_type"), $"o_orderkey", $"price_c")
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            batch.withColumn("bid", lit(bid))
              .write.mode("overwrite").parquet(s"$sink/b=$bid")
            ()
          }
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      run() // nothing to drain; the position (v1) is checkpointed
      VersionedTable.appendCommit(s, tbl,
        base.filter($"pmonth" === "1997-03"), "pmonth") // v2: inserts
      VersionedTable.dropPartitionsCommit(s, tbl, Set("1997-01")) // v3: deletes
      run() // resumes from the checkpoint: exactly v2 then v3
      s.read.parquet(sink)
        .groupBy($"version", $"change_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"),
          countDistinct($"bid").as("n_bids"))
        .orderBy("version", "change_type")
    }),

    // The stream source's startingTimestamp option, graded: on the
    // ts-stamped table (v0 ts=1000 create, v1 ts=2000 append, v2 ts=3000
    // tombstone delete), startingTimestamp=1500 must begin the stream at
    // v1 — the first commit AT OR AFTER the timestamp (Delta's CDF
    // convention: "changes since t" must NOT re-deliver the snapshot
    // committed before t) — and drain v1's inserts then v2's deletes, one
    // version per microbatch (bid must equal version−1; off-batch rows
    // are counted and must be zero). A source that re-resolved the ts to
    // v0, rounded to the wrong side, or skipped the tombstone diff fails
    // the hash.
    "stream_vt_source_ts" -> ((s, d) => {
      import s.implicits._
      graft.operators.Etl.writeVersionedFixture(s, d)
      val vt = graft.operators.Etl.vtTsPath
      val root = s"${graft.fixtureRoot}/stream_vt_source_ts"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val sink = s"$root/sink"
      val q = s.readStream.format("graftvt")
        .option("startingTimestamp", "1500")
        .option("maxVersionsPerTrigger", "1")
        .load(vt)
        .select($"_commit_version".as("version"),
          $"_change_type".as("change_type"), $"o_orderkey", $"price_c")
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          batch.withColumn("bid", lit(bid))
            .write.mode("overwrite").parquet(s"$sink/b=$bid")
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(sink)
        .groupBy($"version", $"change_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"),
          sum(when($"bid" =!= ($"version".cast("long") - 1L), 1L)
            .otherwise(0L)).as("n_off_batch"))
        .orderBy("version", "change_type")
    }),

    // Streaming ingest INTO the versioned table through the engine surface:
    // `df.writeStream.format("graftvt")` (GraftVtSink) — one versioned
    // commit per microbatch, stamped with (txnAppId, batchId) so replays
    // are idempotent. Graded as a 2-restart ingest (landing file i appears
    // before run i; each AvailableNow run commits exactly one version, so
    // snapshot v = modulus buckets 0..v — fully deterministic) followed by
    // a DUPLICATE-DELIVERY run: a fresh checkpoint re-reads ALL landing
    // files under the same txnAppId, and the sink must skip every replayed
    // batch — latest_version stays 1 and the final content is unchanged.
    // A sink that double-appended, merged batches into one commit, or lost
    // a restart's position fails the hash.
    "stream_vt_sink" -> ((s, d) => {
      import s.implicits._
      val root = s"${graft.fixtureRoot}/stream_vt_sink"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val landing = s"$root/landing"
      val tbl = s"$root/table"
      val base = Tables.orders(s, d).select(
        $"o_orderkey",
        round(Tables.dec($"o_totalprice") * 100)
          .cast("long").as("price_c"),
        date_format($"o_orderdate", "yyyy-MM").as("pmonth"))
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("price_c", LongType),
        StructField("pmonth", StringType)))
      def ingestRun(ckpt: String): Unit = {
        val q = s.readStream.schema(schema).parquet(landing)
          .writeStream.format("graftvt")
          .option("partitionCol", "pmonth")
          .option("txnAppId", "ingest")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start(tbl)
        q.awaitTermination()
      }
      // two ingest restarts (r11: trimmed from three — the graded claims,
      // one-commit-per-batch + restart position + replay skip, all survive
      // and the fixture sheds one full streaming-query startup);
      // coalesce(1) is deliberate and bounded: ONE landing file per run so
      // each restart admits exactly one new file (~50k rows at sf0.1)
      (0 to 1).foreach { i =>
        base.filter($"o_orderkey" % 3 === i)
          .coalesce(1).write.mode("append").parquet(landing)
        ingestRun(s"$root/ckpt")
      }
      // duplicate delivery: fresh checkpoint, same table, same txnAppId —
      // every landing file re-arrives as replayed batch ids the sink must skip
      ingestRun(s"$root/ckpt2")
      import graft.sources.VersionedTable
      val latestAfter = VersionedTable.latestVersion(s, tbl)
      val perVersion = (0 to 1).map { v =>
        VersionedTable.read(s, tbl, v)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(o_orderkey)").as("xor_key"),
            sum($"price_c").as("sum_price_c"))
          .select(lit(s"v$v").as("tag"), $"n_rows", $"xor_key",
            $"sum_price_c", lit(latestAfter).as("latest_version"))
      }.reduce(_ unionByName _)
      val postReplay = VersionedTable.read(s, tbl, latestAfter)
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(o_orderkey)").as("xor_key"),
          sum($"price_c").as("sum_price_c"))
        .select(lit("post_replay").as("tag"), $"n_rows", $"xor_key",
          $"sum_price_c", lit(latestAfter).as("latest_version"))
      perVersion.unionByName(postReplay).orderBy("tag")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Per-commit deltas reconstructed declaratively from the base table
    // (v0 create = all inserts; v1 update = new-image inserts + old-image
    // deletes; v2 delete = deletes), plus the replay-completeness row: the
    // final state derived from the FEED ALONE must equal the latest
    // snapshot's reconstruction.
    "stream_cdf_replay" ->
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
        |feed AS (
        |  SELECT 0 AS version, 'insert' AS change_type, o_orderkey, price_c
        |  FROM base
        |  UNION ALL SELECT 1, 'insert', o_orderkey, price_c + 111 FROM upd
        |  UNION ALL SELECT 1, 'delete', o_orderkey, price_c FROM upd
        |  UNION ALL SELECT 2, 'delete', o_orderkey, price_c FROM del),
        |fin AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3
        |              AND pmonth >= '1996-01' AND pmonth <= '1996-12'
        |         THEN price_c + 111 ELSE price_c END AS price_c
        |  FROM base
        |  WHERE NOT (o_orderkey % 100 = 42
        |             AND pmonth >= '1996-03' AND pmonth <= '1996-06')),
        |u AS (
        |  SELECT version, change_type, COUNT(*) AS n_rows,
        |    bit_xor(o_orderkey) AS xor_key,
        |    CAST(SUM(price_c) AS BIGINT) AS sum_price_c
        |  FROM feed GROUP BY version, change_type
        |  UNION ALL
        |  SELECT -1, 'replayed_final', COUNT(*), bit_xor(o_orderkey),
        |    CAST(SUM(price_c) AS BIGINT)
        |  FROM fin)
        |SELECT * FROM u ORDER BY version, change_type""".stripMargin,
    // Same deltas as stream_cdf_replay (one derivation grading both the
    // hand-rolled _log recipe and the format("graftvt") engine surface),
    // plus the delivery-order pin: n_off_batch counts rows whose microbatch
    // id differed from their commit version — the declarative answer is 0.
    "stream_vt_source" ->
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
        |feed AS (
        |  SELECT 0 AS version, 'insert' AS change_type, o_orderkey, price_c
        |  FROM base
        |  UNION ALL SELECT 1, 'insert', o_orderkey, price_c + 111 FROM upd
        |  UNION ALL SELECT 1, 'delete', o_orderkey, price_c FROM upd
        |  UNION ALL SELECT 2, 'delete', o_orderkey, price_c FROM del),
        |fin AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3
        |              AND pmonth >= '1996-01' AND pmonth <= '1996-12'
        |         THEN price_c + 111 ELSE price_c END AS price_c
        |  FROM base
        |  WHERE NOT (o_orderkey % 100 = 42
        |             AND pmonth >= '1996-03' AND pmonth <= '1996-06')),
        |u AS (
        |  SELECT version, change_type, COUNT(*) AS n_rows,
        |    bit_xor(o_orderkey) AS xor_key,
        |    CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |    CAST(0 AS BIGINT) AS n_off_batch
        |  FROM feed GROUP BY version, change_type
        |  UNION ALL
        |  SELECT -1, 'replayed_final', COUNT(*), bit_xor(o_orderkey),
        |    CAST(SUM(price_c) AS BIGINT), CAST(0 AS BIGINT)
        |  FROM fin)
        |SELECT * FROM u ORDER BY version, change_type""".stripMargin,
    // startingTimestamp=1500 on the ts table (v0@1000, v1@2000, v2@3000):
    // the stream begins at v1 — v1's diff is the append window's inserts,
    // v2's is the tombstone delete of keys %10=7 at their ORIGINAL prices
    // (the prior-snapshot rows the tombstones address). v0's snapshot must
    // NOT appear.
    // startingVersion=latest drains ONLY the post-subscription commits:
    // v2 = the appended 1997-03 inserts, v3 = the dropped 1997-01 rows as
    // deletes. The two pre-existing commits must not appear.
    "stream_vt_source_latest" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |feed AS (
        |  SELECT 2 AS version, 'insert' AS change_type, o_orderkey, price_c
        |  FROM base WHERE pmonth = '1997-03'
        |  UNION ALL
        |  SELECT 3, 'delete', o_orderkey, price_c FROM base
        |  WHERE pmonth = '1997-01')
        |SELECT version, change_type, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |  CAST(1 AS BIGINT) AS n_bids
        |FROM feed GROUP BY version, change_type
        |ORDER BY version, change_type""".stripMargin,
    "stream_vt_source_ts" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c,
        |    strftime(o_orderdate, '%Y-%m') AS pmonth
        |  FROM orders),
        |feed AS (
        |  SELECT 1 AS version, 'insert' AS change_type, o_orderkey, price_c
        |  FROM base WHERE pmonth >= '1997-07' AND pmonth <= '1997-09'
        |  UNION ALL
        |  SELECT 2, 'delete', o_orderkey, price_c FROM base
        |  WHERE pmonth >= '1997-01' AND pmonth <= '1997-09'
        |    AND o_orderkey % 10 = 7)
        |SELECT version, change_type, COUNT(*) AS n_rows,
        |  bit_xor(o_orderkey) AS xor_key,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |  CAST(0 AS BIGINT) AS n_off_batch
        |FROM feed GROUP BY version, change_type
        |ORDER BY version, change_type""".stripMargin,
    // Version v of the ingested table = modulus buckets 0..v (file i lands
    // before run i; each run commits exactly one version); post_replay =
    // buckets 0..1 with latest_version STILL 1 — the duplicate-delivery
    // run must have committed nothing.
    "stream_vt_sink" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        |      AS price_c
        |  FROM orders),
        |u AS (
        |  SELECT 'v' || CAST(v.version AS VARCHAR) AS tag,
        |    COUNT(*) AS n_rows, bit_xor(o_orderkey) AS xor_key,
        |    CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |    1 AS latest_version
        |  FROM (VALUES (0), (1)) v(version)
        |  JOIN base b ON b.o_orderkey % 3 <= v.version
        |  GROUP BY v.version
        |  UNION ALL
        |  SELECT 'post_replay', COUNT(*), bit_xor(o_orderkey),
        |    CAST(SUM(price_c) AS BIGINT), 1
        |  FROM base WHERE o_orderkey % 3 <= 1)
        |SELECT * FROM u ORDER BY tag""".stripMargin,
    // Byte-identical to sim_ann_ivf_incremental's oracle: the streaming
    // path must land EXACTLY where the batch append path lands (frozen
    // base-trained centroids, two-level assignment, per-list occupancy) —
    // one derivation grading two execution engines' worth of machinery.
    "stream_ann_index_maintain" ->
      """WITH p0 AS (SELECT COUNT(*) AS n FROM embeddings),
        |pb AS (SELECT n, n * 9 // 10 AS bn FROM p0),
        |p1 AS (SELECT n, bn,
        |  CAST(GREATEST(8, LEAST(4096, CEIL(SQRT(bn)))) AS BIGINT) AS nc FROM pb),
        |p AS (SELECT n, bn, nc,
        |  CAST(GREATEST(4, LEAST(64, CEIL(SQRT(nc)))) AS BIGINT) AS ng,
        |  LEAST(bn, 32 * nc) AS tn FROM p1),
        |e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS q
        |  FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS cid, q AS cv,
        |    list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM e, p WHERE vec_id < p.nc),
        |ta AS (
        |  SELECT cid, q FROM (
        |    SELECT s.cid, t.q, row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |      2 * list_reduce(list_transform(list_zip(t.q, s.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |        - s.cn2 DESC, s.cid ASC) AS rn
        |    FROM e t CROSS JOIN seeds s, p WHERE t.vec_id < p.tn) x
        |  WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT cid, pos, floor(SUM(x) / COUNT(*)) AS cx FROM (
        |      SELECT cid, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |      FROM ta) d
        |    GROUP BY cid, pos) y
        |  GROUP BY cid),
        |centn AS (
        |  SELECT cid, cv,
        |    list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b) AS cn2
        |  FROM cent),
        |coarse AS (
        |  SELECT cid AS gid, cv AS gv, cn2 AS gn2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY cid) AS rn FROM centn) z, p
        |  WHERE rn <= p.ng),
        |f2g AS (
        |  SELECT cid, cv, cn2, gid FROM (
        |    SELECT c.cid, c.cv, c.cn2, g.gid,
        |      row_number() OVER (PARTITION BY c.cid ORDER BY
        |        2 * list_reduce(list_transform(list_zip(c.cv, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM centn c CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vg AS (
        |  SELECT vec_id, q, gid FROM (
        |    SELECT e.vec_id, e.q, g.gid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(e.q, g.gv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - g.gn2 DESC, g.gid ASC) AS rn
        |    FROM e CROSS JOIN coarse g) x
        |  WHERE rn = 1),
        |vf AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, f.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        2 * list_reduce(list_transform(list_zip(v.q, f.cv), z -> z[1] * z[2]), (a, b) -> a + b)
        |          - f.cn2 DESC, f.cid ASC) AS rn
        |    FROM vg v JOIN f2g f ON v.gid = f.gid) x
        |  WHERE rn = 1)
        |SELECT vf.cid, COUNT(*) AS n_vecs,
        |  CAST(SUM(CASE WHEN vf.vec_id >= p.bn THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM vf, p GROUP BY vf.cid ORDER BY vf.cid""".stripMargin,
    "stream_tumbling" ->
      """SELECT (epoch_us(ts) - epoch_us(ts) % 3600000000) AS bucket_us, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_e6
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_sliding" ->
      """SELECT bucket_us, event_type, COUNT(*) AS n FROM (
        |  SELECT (epoch_us(ts) // 900000000 - k) * 900000000 AS bucket_us, event_type
        |  FROM events, range(0, 4) r(k))
        |GROUP BY bucket_us, event_type ORDER BY bucket_us, event_type""".stripMargin,
    "stream_session" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
        |o AS (SELECT user_id, tu,
        |  CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu) >= 1800000000
        |       THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, tu,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY tu
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o)
        |SELECT user_id, MIN(tu) AS session_start_us, COUNT(*) AS n,
        |  MAX(tu) - MIN(tu) AS span_us
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin,
    "stream_dedup_state" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "stream_stateful_count" ->
      """SELECT user_id, COUNT(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Batch dual of the streaming CDC apply: the merge is CONDITIONAL on
    // the stored event time (targetSeqCol) — the globally latest event per
    // (key, partition) wins whether it arrived as history or as a change,
    // in any microbatch order; stream side (src=1) breaks exact-time ties.
    "stream_cdc_apply" ->
      """WITH hist AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events WHERE event_id % 3 = 0),
        |base AS (
        |  SELECT user_id AS k,
        |    CAST(round(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents,
        |    ts_us, user_id % 8 AS p
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts_us DESC, event_id DESC) AS rn FROM hist)
        |  WHERE rn = 1),
        |str AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events WHERE event_id % 3 <> 0),
        |chg AS (
        |  SELECT user_id AS k,
        |    CAST(round(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents,
        |    ts_us, user_id % 8 AS p
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts_us DESC, event_id DESC) AS rn FROM str)
        |  WHERE rn = 1),
        |chg2 AS (
        |  SELECT k, cents, ts_us, p,
        |    CASE WHEN cents % 7 = 0 THEN 'D' ELSE 'U' END AS op FROM chg),
        |merged AS (
        |  SELECT k, cents, p, op FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k, p
        |      ORDER BY ts_us DESC, src DESC) AS rn2
        |    FROM (
        |      SELECT k, cents, ts_us, p, NULL AS op, 0 AS src FROM base
        |      UNION ALL
        |      SELECT k, cents, ts_us, p, op, 1 AS src FROM chg2))
        |  WHERE rn2 = 1 AND (op IS NULL OR op <> 'D'))
        |SELECT CAST(p AS VARCHAR) AS p, count(*) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM merged GROUP BY p ORDER BY p""".stripMargin,
    // Batch dual of the online near-dup: same md5-derived signature
    // replication as dedup_simhash_pairs, then dup_of = least earlier doc
    // sharing a band with hamming <= 12 — "earlier" in one AvailableNow
    // batch is lower doc_id by construction.
    "stream_neardup_simhash" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |h AS (
        |  SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, k,
        |    CAST(SUM(CASE WHEN (h >> k) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
        |  FROM h, range(0, 60) r(k) GROUP BY doc_id, k),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, simhash, b, (simhash >> (15 * b)) & 32767 AS chunk
        |  FROM sig, range(0, 4) r(b))
        |SELECT y.doc_id AS doc_id, CAST(min(x.doc_id) AS BIGINT) AS dup_of
        |FROM bands x JOIN bands y
        |  ON x.b = y.b AND x.chunk = y.chunk AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 12
        |GROUP BY y.doc_id ORDER BY doc_id""".stripMargin,
    "stream_tws_totals" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(round(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT))
        |    AS BIGINT) AS total_cents,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_static_enrich" ->
      """SELECT n_name, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_e6
        |FROM events JOIN nation ON user_id % 25 = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // Batch dual of the streaming interval join (one AvailableNow batch ⇒
    // the appended stream result is exactly this).
    "stream_interval_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 21600000000
        | AND epoch_us(c.ts) <= epoch_us(p.ts)
        |WHERE p.user_id % 2 = 0
        |ORDER BY p_id, c_id""".stripMargin,
    // The estimates are ε-approximate (not hashable); the PROOF OBLIGATION
    // is: the oracle pins the theorem flags to 1 and the exact group
    // sizes (same grading pattern as agg_quantile_sketch_rank).
    "stream_quantile_sketch" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p99_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // MG counters are order-dependent; the PROOF OBLIGATIONS (presence
    // of all true heavy keys, counter bounds) are pinned instead.
    "stream_heavy_hitters" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(1 AS BIGINT) AS bounds_ok, CAST(1 AS BIGINT) AS all_present
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The CEP DP in relational form: c_last / vc_last as ROWS-frame
    // running maxes in the same unique (t, event_id) order the processor
    // sorts by; a purchase completes iff vc_last exists within 6h.
    "stream_cep_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |  FROM events),
        |w1 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'click' THEN t END) OVER (
        |      PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS c_last
        |  FROM e),
        |w2 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'view' AND c_last IS NOT NULL
        |                     THEN c_last END) OVER (
        |      PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vc_last
        |  FROM w1)
        |SELECT user_id,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
        |    AS n_purchases,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' AND vc_last IS NOT NULL
        |             AND t - vc_last <= 21600000000 THEN 1 END) AS BIGINT)
        |    AS n_funnels
        |FROM w2 GROUP BY user_id
        |HAVING COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
        |ORDER BY user_id""".stripMargin,
    // CMS merge is elementwise addition ⇒ streaming state ≡ batch matrix
    // bit-for-bit, so the relational CMS rebuild grades the stream
    // EXACTLY (cf. sketch_cms_freq; R9b casts on the SUMs).
    "stream_cms_freq" ->
      """WITH keys AS (
        |  SELECT event_type, user_id,
        |    md5('cms:' || CAST(user_id AS VARCHAR)) AS hx, COUNT(*) AS n_exact
        |  FROM events GROUP BY 1, 2),
        |js AS (SELECT unnest(range(4)) AS j),
        |cells AS (
        |  SELECT event_type, j,
        |    CAST(('0x' || substring(hx, 1 + 8*j, 8)) AS BIGINT) % 128 AS cell,
        |    CAST(SUM(n_exact) AS BIGINT) AS cnt
        |  FROM keys, js GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT * FROM (
        |    SELECT event_type, user_id, hx, n_exact, row_number() OVER (
        |      PARTITION BY event_type ORDER BY n_exact DESC, user_id) AS rn
        |    FROM keys)
        |  WHERE rn <= 3)
        |SELECT p.event_type, p.user_id, p.n_exact,
        |  CAST(MIN(c.cnt) AS BIGINT) AS n_cms
        |FROM p, js, cells c
        |WHERE c.event_type = p.event_type AND c.j = js.j
        |  AND c.cell =
        |    CAST(('0x' || substring(p.hx, 1 + 8*js.j, 8)) AS BIGINT) % 128
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 3 DESC, 2""".stripMargin
  )
}
