package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator group's registry: its queries, and for each key the
  * equivalent ANSI SQL DuckDB runs on the same parquet tables. */
trait QueryModule {
  def queries: Map[String, Q]
  def oracleSql: Map[String, String]
}

/** Driver contract — see SURVEY.md §2 (operator inventory) and §7 (build
  * plan). Each operator group lives in its own module; this object only
  * concatenates their registries. */
object SparkEntry {

  /** Flagship query: the reference's signature schedule-expansion semantic
    * (SURVEY §2-G1) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Etl.queries("etl_schedule_expand")(spark, "/root/testdata/sf0.001")

  /** The operator modules, in merge order, one per group in SURVEY.md §2.
    * A `def`: each module initialises on the first read of [[queries]] or
    * [[oracleSql]], not when this object does. */
  private[graft] def modules: Seq[QueryModule] = Seq(
    operators.Scans,
    operators.Ingest,
    operators.FilterProject,
    operators.Joins,
    operators.Aggregates,
    operators.Windows,
    operators.SortSet,
    operators.Etl,
    functions.Scalars,
    operators.TextOps,
    operators.SimOps,
    operators.VectorOps,
    operators.Multimodal,
    operators.Subqueries,
    operators.Advanced,
    operators.TpchQueries,
    operators.TypeProbes,
    operators.Analytics,
    operators.Pipeline,
    streaming.Streams)

  def queries: Map[String, Q] = merged("query", modules.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = merged("oracle", modules.map(_.oracleSql))

  /** Concatenates the modules' maps, asserting that no key is silently
    * shadowed across modules (a `++` overwrite once cost a graded row —
    * round 12's etl_sql_time_travel collision). */
  private def merged[V](what: String, maps: Seq[Map[String, V]]): Map[String, V] = {
    val all = maps.reduce(_ ++ _)
    require(all.size == maps.map(_.size).sum, {
      val dup = maps.flatMap(_.keys)
        .groupBy(identity).collect { case (k, v) if v.size > 1 => k }
      s"duplicate $what keys across registries: ${dup.mkString(", ")}"
    })
    all
  }
}
