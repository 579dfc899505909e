package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Spark SQL surface for [[VersionedTable]]: `spark.read.format("graftvt")`,
  * `df.write.format("graftvt")`, and `CREATE [TEMPORARY] VIEW/TABLE ...
  * USING graftvt` — the difference between a Scala library and an engine
  * feature (anything that speaks Spark SQL or the DataFrame reader/writer
  * can now read a versioned snapshot or commit a new version, no
  * `VersionedTable.*` call in sight).
  *
  * Options (mirroring Delta's reader options; each maps 1:1 onto the
  * library read path, so the SQL surface can never drift from it):
  *   - `path`            table root (or pass to `.load(path)`)
  *   - `versionAsOf`     snapshot version to read (default: latest)
  *   - `timestampAsOf`   resolve the greatest version with commit
  *                       ts ≤ this value ([[VersionedTable.versionAsOf]]);
  *                       mutually exclusive with `versionAsOf`
  *   - `mergeSchema`     surface columns added by later commits, older
  *                       rows reading null (default false)
  *   - `partitions`      comma-separated partition values — manifest-level
  *                       pruning before any storage I/O
  *   - `readChangeFeed`  with `startingVersion`/`endingVersion`: the
  *                       row-level diff of a commit range (Delta's
  *                       table_changes) instead of a snapshot
  *   - `history`         commit metadata as a relation (DESCRIBE HISTORY)
  *
  * Architecture: a V1 `RelationProvider` over the library read path — the
  * pattern Delta itself ships for `format("delta")` batch reads. The
  * relation resolves the snapshot ONCE at creation (so a SQL view pins its
  * version exactly like a pinned `read()` — snapshot isolation carries
  * over), and `buildScan` re-applies Spark's pushed projection and
  * filters to that cached snapshot, where Catalyst pushes them into the
  * manifest's file index ([[KnownFilesIndex]], which skips files by part
  * key and column metrics) and the parquet scan — column pruning, file
  * skipping and predicate pushdown survive the V1 boundary with no log
  * replay per scan. `unhandledFilters` keeps every filter (the default),
  * so Spark re-evaluates them above the scan.
  *
  * Catalog integration (the full SQL DDL/DML surface, all V1-native):
  *   - `CREATE TABLE t USING graftvt OPTIONS (path, partitionCol)` — a
  *     persistent session-catalog table over an existing log; with
  *     `AS SELECT` (CTAS) the statement routes to `create` (version 0);
  *   - `INSERT INTO` / `INSERT OVERWRITE t` — [[GraftVtRelation.insert]]
  *     (InsertableRelation) maps them to appendCommit / overwriteCommit,
  *     one versioned commit per statement;
  *   - `MERGE INTO t USING s ...` — [[GraftVtMergeRule]] (injected via
  *     GraftExtensions) rewrites the resolved statement into a
  *     mergeCommit, Delta's analyzer-extension architecture;
  *   - `UPDATE t SET ... WHERE ...` / `DELETE FROM t [WHERE ...]` —
  *     [[GraftVtDmlRule]] routes them to partition-scoped COW rewrites
  *     (and whole-partition DELETE to a metadata-only partition drop);
  *   - `OPTIMIZE t [ZORDER BY (a, b)]`, `VACUUM t [RETAIN n VERSIONS]
  *     [GRACE n HOURS]`, `DESCRIBE HISTORY t` — [[GraftSqlParser]], a
  *     delegating parser for the maintenance verbs Spark's grammar lacks;
  *   - `SELECT ... FROM t VERSION|TIMESTAMP AS OF ...` — native time
  *     travel, resolved to the same pinned relation as the `versionAsOf` /
  *     `timestampAsOf` options ([[GraftVtTimeTravelRule]]).
  * A DSv2 `TableProvider` would change none of these semantics — Spark's
  * own DataFrameReader/Writer fall back to exactly this V1 surface for
  * tables that don't claim BATCH_READ/BATCH_WRITE capabilities, and the
  * row-level-operation API would re-implement the commit protocol the
  * library already owns.
  */
final class GraftVtSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graftvt"

  /** Streaming write surface: `df.writeStream.format("graftvt")
    * .option("partitionCol", c).start(path)` — each microbatch lands as
    * one appendCommit (the first creates the table), stamped with the
    * batch id so a REPLAYED microbatch after a crash-restart is skipped:
    * exactly-once streaming ingest into the versioned table, the Delta
    * transactional-sink (`txnAppId`/`txnVersion`) pattern carried in
    * commit op metadata ([[VersionedTable.txnOp]]/[[VersionedTable.lastTxn]]).
    * Options: `partitionCol` (required), `txnAppId` (idempotence scope —
    * set it per logical pipeline when several queries feed one table;
    * defaults to a single shared scope), `statsCol`, `fileSplits`. Only
    * OutputMode.Append is meaningful: each batch is new rows; a
    * complete/update stream needs merge semantics (see stream_cdc_apply's
    * MergeSink for that shape). */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graftvt sink: 'path' option (or start(path)) is required"))
    val partitionCol = parameters.get("partitionCol")
      .orElse(partitionColumns.headOption)
      .getOrElse(throw new IllegalArgumentException(
        "graftvt sink: 'partitionCol' option (or partitionBy) is required"))
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graftvt sink supports OutputMode.Append only, got $outputMode")
    new GraftVtSink(sqlContext.sparkSession, path, partitionCol,
      parameters.get("statsCol"),
      parameters.get("fileSplits").map(_.trim.toInt).getOrElse(1),
      parameters.getOrElse("txnAppId", "graftvt-stream"))
  }

  /** Streaming read surface: `spark.readStream.format("graftvt")
    * .option("startingVersion", v).load(path)` — the table's commit log
    * consumed as a CHANGE DATA FEED stream, Delta-source style: each
    * committed version is one ordered unit of the stream, delivered as its
    * row-level diff (`_commit_version`, `_change_type` + table columns via
    * [[VersionedTable.changes]]). Offsets are commit versions, so the
    * stream is exactly-once replayable from the checkpoint: a restarted
    * query re-derives precisely the committed version range it was handed
    * before (the diff of an immutable committed version never changes).
    * Options:
    *   - `startingVersion`  first version to emit (default 0 = full
    *                        history: the initial snapshot arrives as v0's
    *                        inserts, like Delta CDF's startingVersion=0);
    *                        `latest` = only commits after stream start
    *   - `startingTimestamp`  first version whose commit ts ≥ this value
    *                        (mutually exclusive with startingVersion;
    *                        commits without a recorded ts never match)
    *   - `maxVersionsPerTrigger`  admission cap per microbatch (rate
    *                        limiting; AvailableNow still drains to the
    *                        stream-start snapshot through Spark's
    *                        AvailableNowSourceWrapper) */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    checkStreamOptions(parameters)
    (shortName(), GraftVtStreamSource.cdfSchema(
      sqlContext.sparkSession, streamPath(parameters)))
  }

  private def checkStreamOptions(parameters: Map[String, String]): Unit =
    require(
      !(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "graftvt stream: startingVersion and startingTimestamp are mutually exclusive")

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val path = streamPath(parameters)
    checkStreamOptions(parameters)
    val starting = parameters.get("startingVersion").map(_.trim) match {
      case Some("latest") => VersionedTable.latestVersion(spark, path) + 1
      case Some(v)        => v.toInt
      case None           =>
        // Delta parity: first version whose commit ts is AT OR AFTER the
        // given timestamp (the CDF convention — a reader asking "changes
        // since t" must not re-see the snapshot committed before t)
        parameters.get("startingTimestamp").map(_.trim.toLong) match {
          case Some(t) =>
            val hist = VersionedTable.history(spark, path)
              .select(col("version"), col("ts")).collect()
              .collect { case r if !r.isNullAt(1) && r.getLong(1) >= t =>
                r.getInt(0) }
            if (hist.isEmpty) VersionedTable.latestVersion(spark, path) + 1
            else hist.min
          case None => 0
        }
    }
    val maxVersions = parameters.get("maxVersionsPerTrigger").map(_.trim.toInt)
    maxVersions.foreach(m => require(m > 0,
      s"graftvt: maxVersionsPerTrigger must be positive, got $m"))
    new GraftVtStreamSource(spark, path, starting, maxVersions)
  }

  private def streamPath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graftvt stream: 'path' option (or load(path)) is required"))

  /** Write path: `df.write.format("graftvt").option("partitionCol", c)
    * .mode(m).save(path)` — each SaveMode maps onto exactly one commit
    * primitive, so the DataFrame writer surface can never drift from the
    * library's transaction semantics:
    *   - ErrorIfExists → `create` (version 0; fails on an existing log)
    *   - Append        → `appendCommit` (blind adds-only commit; creates
    *                     the table when no log exists yet, Delta-style)
    *   - Overwrite     → `overwriteCommit` (whole-table replace as ONE
    *                     atomic version; history stays time-travelable)
    *   - Ignore        → no-op when a log exists, else `create`
    * Extra options: `statsCol` (per-file min/max column metrics recorded
    * in the manifest), `ts` (commit metadata timestamp), `fileSplits`
    * (hot-partition write salting). */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graftvt write: 'path' is required"))
    val partitionCol = parameters.getOrElse("partitionCol",
      throw new IllegalArgumentException(
        "graftvt write: 'partitionCol' option is required"))
    val statsCol = parameters.get("statsCol")
    val ts = parameters.get("ts").map(_.trim.toLong)
    val fileSplits = parameters.get("fileSplits").map(_.trim.toInt).getOrElse(1)
    val exists = VersionedTable.latestVersion(spark, path) >= 0
    mode match {
      case SaveMode.ErrorIfExists =>
        VersionedTable.create(spark, path, data, partitionCol, statsCol, ts,
          fileSplits)
      case SaveMode.Append =>
        if (exists)
          VersionedTable.appendCommit(spark, path, data, partitionCol,
            statsCol, ts, fileSplits)
        else
          VersionedTable.create(spark, path, data, partitionCol, statsCol,
            ts, fileSplits)
      case SaveMode.Overwrite =>
        if (exists)
          VersionedTable.overwriteCommit(spark, path, data, partitionCol,
            statsCol, ts, fileSplits)
        else
          VersionedTable.create(spark, path, data, partitionCol, statsCol,
            ts, fileSplits)
      case SaveMode.Ignore =>
        if (!exists)
          VersionedTable.create(spark, path, data, partitionCol, statsCol,
            ts, fileSplits)
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graftvt: 'path' option (or load(path)) is required"))
    require(
      !(parameters.contains("versionAsOf") &&
        parameters.contains("timestampAsOf")),
      "graftvt: versionAsOf and timestampAsOf are mutually exclusive")
    if (parameters.get("history").exists(_.trim.toBoolean))
      // commit metadata as a relation (DESCRIBE HISTORY): version, ts,
      // operation, file-op counts, row-count deltas — all from the log
      return new GraftVtCdfRelation(sqlContext,
        VersionedTable.history(spark, path))
    if (parameters.get("readChangeFeed").exists(_.trim.toBoolean)) {
      // batch CDF (Delta's table_changes): the row-level diff of a commit
      // range as a queryable relation — `_commit_version`, `_change_type`
      // + table columns, straight off VersionedTable.changes
      val from = parameters.get("startingVersion").map { s =>
        // `latest` is a STREAM-path option; the batch CDF range must be an
        // explicit integer (Delta's table_changes contract) — fail with a
        // graftvt-prefixed message, not a raw NumberFormatException
        scala.util.Try(s.trim.toInt).getOrElse(throw new IllegalArgumentException(
          s"graftvt: batch readChangeFeed startingVersion must be an integer, got '$s'"))
      }.getOrElse(0)
      val to = parameters.get("endingVersion").map { s =>
        scala.util.Try(s.trim.toInt).getOrElse(throw new IllegalArgumentException(
          s"graftvt: batch readChangeFeed endingVersion must be an integer, got '$s'"))
      }.getOrElse(VersionedTable.latestVersion(spark, path))
      require(to >= from,
        s"graftvt: endingVersion $to precedes startingVersion $from")
      return new GraftVtCdfRelation(sqlContext,
        VersionedTable.changes(spark, path, from, to))
    }
    val version = parameters.get("versionAsOf").map(_.trim.toInt)
      .orElse(parameters.get("timestampAsOf").map(t =>
        VersionedTable.versionAsOf(spark, path, t.trim.toLong)))
      .getOrElse(VersionedTable.latestVersion(spark, path))
    require(version >= 0, s"graftvt: $path has no committed version")
    val mergeSchema = parameters.get("mergeSchema").exists(_.trim.toBoolean)
    val partValues = parameters.get("partitions")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    new GraftVtRelation(sqlContext, path, version, partValues, mergeSchema,
      parameters)
  }
}

/** Metadata-derived relation (batch CDF, history): the frame is computed
  * once at relation creation (a pinned, immutable log slice), scanned
  * as-is. */
private final class GraftVtCdfRelation(override val sqlContext: SQLContext,
                                       feed: DataFrame)
    extends BaseRelation with TableScan {
  override def schema: StructType = feed.schema
  override def buildScan(): RDD[Row] = feed.rdd
}

private[graft] final class GraftVtRelation(override val sqlContext: SQLContext,
                                            val path: String, initialVersion: Int,
                                            partValues: Option[Set[String]],
                                            mergeSchema: Boolean,
                                            val tableParameters: Map[String, String])
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private val spark = sqlContext.sparkSession

  /** The pinned snapshot version. `@volatile var`, not `val`: a SQL view
    * still pins (nothing re-assigns it on the read path), but an INSERT
    * INTO through THIS relation instance advances it — the session catalog
    * caches one LogicalRelation per table, so without the bump a
    * SELECT-after-INSERT in the same session would keep reading the
    * pre-insert snapshot (V1 JDBC relations are stateless and dodge this;
    * a pinned-version relation must refresh itself). */
  @volatile private var version: Int = initialVersion

  /** The pinned version's snapshot and the distinct part keys of its live
    * data and tombstone files (what the metadata-only DELETE evaluates),
    * both from one log replay. */
  @volatile private var pinned: (DataFrame, Seq[String]) = pin(version)

  private def pin(v: Int): (DataFrame, Seq[String]) = {
    // entries committed before the manifest recorded their partition spec
    // take the table's declared one, so the file index still prunes them
    // by part key
    val declared = tableParameters.get("partitionCol")
    val entries = VersionedTable.replayEntries(spark, path, v).map(e =>
      if (e.action == "add" && e.pcol.isEmpty) e.copy(pcol = declared) else e)
    (VersionedTable.read(spark, path, v, partValues, mergeSchema,
      preEntries = Some(entries)),
      entries.collect {
        case e if e.action == "add" || e.action == "tomb" => e.part
      }.distinct)
  }

  def pinnedVersion: Int = version

  private[sources] def livePartKeys: Seq[String] = pinned._2

  override val schema: StructType = pinned._1.schema

  /** `INSERT INTO` / `INSERT OVERWRITE` on a catalog `graftvt` table —
    * Spark's InsertIntoDataSourceCommand routes here. Each statement is
    * one versioned commit (appendCommit / overwriteCommit), exactly the
    * DataFrame-writer SaveMode mapping, so the SQL DML surface cannot
    * drift from the library's transaction semantics. Columns arrive
    * BY POSITION (PreprocessTableInsertion has already aligned arity and
    * types to this relation's schema) — renamed to the table's field
    * names before the commit, which partitions by name. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    GraftVtDml.requireMutable(this,
      if (overwrite) "INSERT OVERWRITE" else "INSERT")
    val partitionCol = tableParameters.getOrElse("partitionCol",
      throw new IllegalArgumentException(
        "graftvt insert: table must declare a 'partitionCol' option"))
    val named = data.toDF(schema.fieldNames.toSeq: _*)
    val statsCol = tableParameters.get("statsCol")
    val fileSplits = tableParameters.get("fileSplits").map(_.trim.toInt).getOrElse(1)
    if (overwrite)
      VersionedTable.overwriteCommit(spark, path, named, partitionCol,
        statsCol, ts = None, fileSplits = fileSplits)
    else
      VersionedTable.appendCommit(spark, path, named, partitionCol,
        statsCol, ts = None, fileSplits = fileSplits)
    refreshSnapshot()
  }

  /** Re-pin to the latest committed version (after a write through this
    * relation, or an external commit — [[GraftVtMergeCommand]] calls it).
    * A committed version never changes, so re-pinning the pinned one
    * replays nothing. */
  private[graft] def refreshSnapshot(): Unit = {
    val latest = VersionedTable.latestVersion(spark, path)
    if (latest != version) {
      pinned = pin(latest)
      version = latest
    }
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(toColumn)
      .foldLeft(pinned._1)((df, c) => df.filter(c))
    val projected =
      if (requiredColumns.isEmpty)
        // COUNT(*)-style scan: no columns requested, only row multiplicity
        filtered.select()
      else filtered.select(requiredColumns.map(col).toSeq: _*)
    projected.rdd
  }

  /** Best-effort translation of Spark's source filters back to Columns so
    * the INNER plan's parquet scan can push them down; anything exotic is
    * simply not forwarded (Spark re-applies all filters above — see
    * `unhandledFilters` default). */
  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === v)
    case EqualNullSafe(a, v)      => Some(col(a) <=> v)
    case GreaterThan(a, v)        => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v)           => Some(col(a) < v)
    case LessThanOrEqual(a, v)    => Some(col(a) <= v)
    case In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c)                   => toColumn(c).map(!_)
    case _                        => None
  }
}

/** V1 [[org.apache.spark.sql.execution.streaming.Sink]]: one versioned
  * commit per microbatch. Exactly-once mechanics:
  *   - the incoming frame is bound to the query's IncrementalExecution and
  *     can't be re-planned by a batch writer — re-wrapped via
  *     [[PlanShim.executedBatch]] (ForeachBatchSink's own recipe);
  *   - every commit's op metadata carries `(txnAppId, batchId)`; addBatch
  *     consults the max committed batch id ONCE per (re)start (one
  *     metadata-bounded log read, then a driver-side counter — streaming
  *     guarantees a single active query per checkpoint) and skips batches
  *     at or below it, so a microbatch replayed after a crash between
  *     commit and checkpoint-advance lands exactly once. */
private final class GraftVtSink(spark: SparkSession, path: String,
                                partitionCol: String, statsCol: Option[String],
                                fileSplits: Int, appId: String)
    extends org.apache.spark.sql.execution.streaming.Sink {

  private var committedThrough: Option[Long] = None

  override def addBatch(batchId: Long, data: DataFrame): Unit = synchronized {
    val watermark = committedThrough.getOrElse {
      val w = VersionedTable.lastTxn(spark, path, appId)
      committedThrough = Some(w)
      w
    }
    if (batchId <= watermark) return
    val batch = PlanShim.executedBatch(spark, data)
    if (VersionedTable.latestVersion(spark, path) < 0)
      VersionedTable.create(spark, path, batch, partitionCol, statsCol,
        ts = None, fileSplits = fileSplits,
        opName = VersionedTable.txnOp("create", appId, batchId))
    else
      VersionedTable.appendCommit(spark, path, batch, partitionCol, statsCol,
        ts = None, fileSplits = fileSplits,
        opName = VersionedTable.txnOp("append", appId, batchId))
    committedThrough = Some(batchId)
  }

  override def toString: String = s"GraftVtSink[$path]"
}

private object GraftVtStreamSource {
  /** Stream schema, fixed at source creation (Delta pins the stream to the
    * snapshot schema at start the same way): CDF metadata columns + the
    * table's union schema as of the latest committed version. */
  def cdfSchema(spark: SparkSession, path: String): StructType = {
    val latest = VersionedTable.latestVersion(spark, path)
    require(latest >= 0,
      s"graftvt stream: $path has no committed version to derive a schema from")
    val table = VersionedTable
      .read(spark, path, latest, None, mergeSchema = true).schema
    StructType(
      StructField("_commit_version", IntegerType, nullable = false) +:
      StructField("_change_type", StringType, nullable = false) +:
      table.fields.toSeq)
  }
}

/** V1 [[Source]] over the commit log. An offset is the HIGHEST version
  * delivered so far (LongOffset), so `getBatch(Some(a), b)` is the diff of
  * versions a+1..b — a contiguous, immutable slice of the log, which makes
  * recovery trivial: replaying any (a, b] re-reads identical rows.
  * `getOffset` advances at most `maxVersionsPerTrigger` versions past the
  * last batch handed out; Spark persists the returned offset to the
  * checkpoint's offset log BEFORE calling getBatch (WAL-then-process), the
  * same contract FileStreamSource runs under. */
private final class GraftVtStreamSource(spark: SparkSession, path: String,
                                        startingVersion: Int,
                                        maxVersionsPerTrigger: Option[Int])
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{
    Offset => OffsetV2, ReadLimit}

  override val schema: StructType = GraftVtStreamSource.cdfSchema(spark, path)

  /** Highest version already handed out in a getBatch `end` (or restored
    * from the checkpoint via the first getBatch after restart); rate
    * limiting is measured from here. Driver-side only, like every V1
    * source's admission state. */
  @volatile private var lastEnd: Long = startingVersion - 1L

  /** End-of-stream fence for Trigger.AvailableNow: versions committed
    * AFTER the trigger fires belong to the next run. Implementing
    * [[org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow]]
    * directly (FileStreamSource's pattern) keeps `maxVersionsPerTrigger`
    * effective under AvailableNow — the generic AvailableNowSourceWrapper
    * would otherwise capture a rate-capped `getOffset` as the fence and
    * stop the drain one version in. */
  @volatile private var availableAtPrepare: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableAtPrepare = Some(VersionedTable.latestVersion(spark, path).toLong)

  /** Offsets round-trip through the checkpoint as raw JSON
    * (SerializedOffset), so parse from `json` rather than pattern-matching
    * on LongOffset alone. */
  private def versionOf(o: OffsetV2): Long = o match {
    case lo: LongOffset => lo.offset
    case other          => other.json.trim.toLong
  }

  /** Next end offset from a position floor: advance to the latest
    * committed version, capped by `maxVersionsPerTrigger` and the
    * AvailableNow fence, never regressing below the floor. When nothing is
    * new this returns the floor ITSELF — deliberately an offset, not
    * null/None, so the stream's POSITION is checkpointed even before any
    * data flows (a `startingVersion=latest` stream that restarts before
    * its first commit must not re-resolve "latest" and skip the versions
    * committed in between; the one empty batch this costs is the same
    * artifact FileStreamSource exhibits). */
  private def nextEnd(floor: Long): Long = {
    val latestNow = VersionedTable.latestVersion(spark, path).toLong
    val latest = availableAtPrepare.fold(latestNow)(math.min(latestNow, _))
    val capped = maxVersionsPerTrigger
      .fold(latest)(m => math.min(latest, floor + m))
    math.max(capped, floor)
  }

  /** Admission control (the path MicroBatchExecution actually drives for a
    * SupportsAdmissionControl source): the floor is the last PROCESSED
    * offset when the checkpoint has one — `startingVersion` only seeds the
    * very first batch. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 =
    LongOffset(nextEnd(Option(startOffset).map(versionOf)
      .getOrElse(startingVersion - 1L)))

  override def getOffset: Option[OffsetV1] =
    Some(LongOffset(nextEnd(math.max(lastEnd, startingVersion - 1L))))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val from = start.map(versionOf(_) + 1L).getOrElse(startingVersion.toLong)
    val to = versionOf(end)
    lastEnd = math.max(lastEnd, to)
    val batch =
      if (from > to)
        // replayed empty range (possible on restart edge): schema-aligned
        // zero rows, never a throw — the offset log is the authority
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else VersionedTable.changes(spark, path, from.toInt, to.toInt)
    PlanShim.asStreaming(spark, align(batch))
  }

  /** Conform a changes() result to the declared stream schema exactly:
    * same columns, same order, same types (a column introduced after
    * stream start is dropped; one missing from an old diff reads null). */
  private def align(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    df.select(schema.fields.toSeq.map { f =>
      if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  override def commit(end: OffsetV1): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftVtStreamSource[$path]"
}
