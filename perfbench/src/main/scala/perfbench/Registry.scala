package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A registry workload: a fixed, ordered list of (module, row key) from
  * the per-module `queries` maps that `graft.SparkEntry.queries` merges.
  * Each op builds the row's DataFrame (`fn(spark, dataDir)`) and collects
  * it; the result digest is compared with the DuckDB oracle's by run.py. */
final class Registry(spark: SparkSession, conf: Conf, runner: Runner,
                     rows: Seq[(String, String)]) extends Workload {
  // Resolving the maps and oracle strings initialises the operator modules;
  // this is part of set-up (see Main.setUp).
  private val fns: Seq[(String, String, graft.Q)] =
    rows.map { case (m, k) => (m, k, Registry.moduleQueries(m)(k)) }
  private val oracle: Map[String, String] = graft.SparkEntry.oracleSql

  def pass(p: Int, traced: Boolean): Unit = fns.foreach { case (m, k, fn) =>
    runner.op[DataFrame, (DataFrame, Array[Row])](k, "query", m, oracle.getOrElse(k, ""),
        digest = r => Some(Digest.of(r._1, r._2)))(fn(spark, conf.data))(df => (df, df.collect()))(
        _ => None)
    Registry.releaseResidue(spark)
  }
}

object Registry {
  def moduleQueries(m: String): Map[String, graft.Q] = m match {
    case "Etl" => graft.operators.Etl.queries
    case "Ingest" => graft.operators.Ingest.queries
    case "Streams" => graft.streaming.Streams.queries
    case "TpchQueries" => graft.operators.TpchQueries.queries
    case "Joins" => graft.operators.Joins.queries
  }

  /** Fixed-cost-dominated lakehouse and streaming rows: graftvt SQL
    * verbs (MERGE, UPDATE, DELETE), concurrent commits, keep-last dedup,
    * incremental aggregation, a quality report, a CSV round trip, and
    * stream start-up plus microbatch planning (windowed, stateful, dedup,
    * CDC into a versioned table). Rows that need Etl's shared versioned fixture are not in the
    * list: that fixture takes ~30 s to build on a 4-core host, more than a
    * run can spend. */
  val lakehouse: Seq[(String, String)] = Seq(
    "Etl" -> "etl_sql_merge_into",
    "Etl" -> "etl_sql_update",
    "Etl" -> "etl_sql_delete",
    "Etl" -> "etl_concurrent_commits",
    "Etl" -> "etl_dedup_lastwins",
    "Etl" -> "etl_incremental_agg",
    "Etl" -> "etl_quality_report",
    "Ingest" -> "ingest_csv_roundtrip",
    "Streams" -> "stream_tumbling",
    "Streams" -> "stream_stateful_count",
    "Streams" -> "stream_dedup_state",
    "Streams" -> "stream_cdc_apply")

  /** Data-bound analytic rows on sf0.25 data: scans, exchanges, joins and
    * the engine's plan rewrites (band join), no graftvt or streaming. They
    * are the TPC-H and join rows whose time grows most with the data: fitting
    * each row's time at sf0.1 and sf0.3 to fixed + per-scale cost on a
    * 4-core host, at most 36% of each row's sf0.3 time does not scale with
    * the data (perfbench/README.md has the figures). */
  val analyst: Seq[(String, String)] = Seq(
    "TpchQueries" -> "tpch_q9_profit",
    "TpchQueries" -> "tpch_q12_priority_mix",
    "TpchQueries" -> "tpch_q18_large_orders",
    "Joins" -> "join_inner_equi",
    "Joins" -> "join_interval_overlap",
    "Joins" -> "join_range_auto")

  val workloads: Map[String, Seq[(String, String)]] = Map(
    "lakehouse_stream_sf01" -> lakehouse,
    "analyst_sf1" -> analyst)

  /** Untimed, between ops: release what a row leaves pinned for the
    * session (cached fixpoint RDDs, stream memory-sink views, streams). */
  def releaseResidue(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => })
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.sharedState.cacheManager.clearCache()
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}
