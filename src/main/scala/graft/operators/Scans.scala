package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** §2-A: scans / sources. Columnar parquet scans with pushdown; the
  * vectorized reader handles everything here including the BIGINT-ns
  * events path (SURVEY §1.2). */
object Scans extends QueryModule {

  val queries: Map[String, Q] = Map(
    // A1: full scan + projection of a dimension table.
    "scan_parquet" -> ((s, d) => {
      Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    // A6: the ns-timestamp events table (Parquet TIMESTAMP(NANOS) trap —
    // read as BIGINT epoch-ns via nanosAsLong). Emitted at µs precision:
    // DuckDB ≤1.0 truncates TIMESTAMP_NS to µs on read, so µs is the finest
    // granularity both engines share (Tables.tsUs).
    "scan_events_ns" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id", Tables.tsUs.as("ts_us"), $"user_id", $"event_type")
        .orderBy("event_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "scan_parquet" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""",
    "scan_events_ns" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events ORDER BY event_id"""
  )
}
