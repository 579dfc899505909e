package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central table access for the engine.
  *
  * Scale notes (100 TB design intent):
  *  - All reads are plain `spark.read.parquet` DataFrames — Catalyst pushes
  *    filters/column pruning into the scan, so each query only pays for the
  *    columns/rows it touches. No eager caching of full tables (at 100 TB the
  *    fact tables don't fit in memory; rely on columnar scan + pushdown).
  *  - Dimension tables (region/nation/supplier at realistic scale) stay small;
  *    join sites use `broadcast()` explicitly.
  *  - `events.ts` is written as Parquet TIMESTAMP(NANOS) which Spark 4 refuses
  *    by default; we set `spark.sql.legacy.parquet.nanosAsLong` (runtime
  *    settable) so `ts` surfaces as BIGINT epoch-ns — exact integer time
  *    arithmetic, shared with the DuckDB oracle via epoch_ns().
  */
object Tables {
  /** Must precede any read of events.parquet (harness session lacks the conf). */
  def enableNanos(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Inferred schema per input file, resolved ONCE per process: the base
    * tables are immutable inputs, but `spark.read.parquet` re-runs footer
    * schema inference on every DataFrame construction — a pure-metadata
    * cost every registered query pays once per table it touches. The cached
    * value is the inference result itself (computed from the parquet on
    * first touch — no hand-written schema to drift), and user-specified
    * schemas read file sources all-nullable exactly like inference, so the
    * resulting DataFrame is identical. No row data is cached. One entry
    * per path, `(length, mtime, schema)`: a file rebuilt in place replaces
    * its entry instead of adding a generation. */
  private[graft] val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, Long, org.apache.spark.sql.types.StructType)]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") enableNanos(spark)
    val path = s"$sfDir/$name.parquet"
    // Validate on (length, mtime), not path alone: a base table
    // regenerated at the same path within one JVM (a fixture rebuild
    // mid-session) must re-infer instead of silently reading with the
    // stale schema. One local stat per table construction — micro vs the
    // footer inference it memoizes.
    val st = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(new org.apache.hadoop.fs.Path(path))
    val (len, mtime) = (st.getLen, st.getModificationTime)
    val schema = schemaCache.compute(path, (_, old) =>
      if (old != null && old._1 == len && old._2 == mtime) old
      else (len, mtime, spark.read.parquet(path).schema))._3
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Engine-wide contract: `events.ts` is BIGINT epoch-ns. The driver's
    * generator has shipped the column as both TIMESTAMP(NANOS) (read as
    * long via nanosAsLong) and TIMESTAMP(MICROS) (surfaces as a real
    * TimestampType); adapt on the observed schema so every downstream
    * `ts div 1000` (= epoch-µs, the DuckDB epoch_us(ts) domain) is exact
    * either way. unix_micros is session-timezone-independent. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ carries no zone: take wall-clock µs since the NTZ epoch
        // (session-timezone-independent — DuckDB's timestamps are naive
        // too, so its epoch_us(ts) yields the same raw stored micros).
        df.withColumn("ts", expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact row count of a base table, read from its parquet footer on the
    * driver — identical to `table(...).count()` (footer record counts are
    * exact), computed from the parquet input on every call (no cache),
    * minus the Spark job a count action costs. Used where a query derives
    * integer PARAMETERS from COUNT(*) (the ANN auto-sizing family). */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    graft.sources.LogCodec.footerRowCount(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet"))

  /** Determinism rule R2: all DOUBLE measures go through DECIMAL(18,6) so
    * aggregation is exact and associative on both engines. */
  def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,6)")

  /** Output-boundary rule (R2'): graded final projections never emit a raw
    * DECIMAL (or FLOAT) column — the grading driver stringifies decimals
    * differently per engine (DuckDB-pandas `253942.0` vs Spark parquet
    * `253942.000000`), failing the hash-compare on numerically identical
    * values. Micro-scale instead: ×1e6 is lossless for DECIMAL(18,6) and the
    * result is integral, so the BIGINT cast is exact. Oracle side uses the
    * matching `CAST(x * 1000000 AS BIGINT) AS <name>_e6`. Keep DECIMAL math
    * internal (R2 still holds); convert only at the output boundary. */
  def e6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // (28,6), not (18,6): DuckDB's SUM(DECIMAL(18,6)) widens to (38,6), so
    // an 18,6 funnel here caps Spark alone at 1e12 while the oracle keeps
    // going — fn_unpivot hit exactly that at sf10 (3-group price sum). With
    // (28,6) the shared ×1e6 BIGINT boundary (~9.2e12 units) binds first on
    // both engines. (28,6)×DECIMAL(7,0) → (36,6): no precision clipping.
    (c.cast("decimal(28,6)") * 1000000).cast("long")

  /** Shared cross-engine time domain for `events.ts` (rule R3 refined):
    * DuckDB ≤1.0 truncates the Parquet TIMESTAMP(NANOS) column to µs on
    * read, so every oracle-facing comparison/output uses truncated epoch-µs
    * (`ts div 1000` here, `epoch_us(ts)` in DuckDB — both truncate). */
  val tsUs: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr("ts div 1000")
}
