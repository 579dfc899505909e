package graft

import org.apache.spark.sql.SparkSession

/** The session every harness main runs on (`Bench`, `Verify`,
  * `FuzzVerify`, `ExplBatch`, `RecallProbe`):
  *   - `local[SPARK_GRAFT_CPUS]`, 4 cores by default
  *   - shuffle width `SPARK_GRAFT_SHUFFLE_PARTITIONS`, the core count by
  *     default
  *   - UTC session time zone, UI off, WARN logging
  *   - [[graft.plans.GraftExtensions]]: the custom SQL functions, the
  *     band-join rewrite and the graftvt SQL verbs are session features,
  *     not per-query registrations (the documented deployment,
  *     `spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Shuffle width must scale with the data on scale-up runs: at sf30, 32
  * partitions put ~6M lineitem rows in one task's hash map, 100+ GB of
  * spill on the big joins. Pass `SPARK_GRAFT_SHUFFLE_PARTITIONS=128` or
  * more there; AQE coalesces small shuffles back down, so over-provisioning
  * costs little. On a real cluster this is executors × cores × 2-3.
  *
  * `getOrCreate` makes the call idempotent: a second call returns the
  * session the first one built, its extensions injected once. A caller that
  * already holds a default session without the extensions must clear it
  * first (`SparkSession.clearDefaultSession`), as `GraftSessionSpec` does. */
object GraftSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
