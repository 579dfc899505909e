package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** Driver-representation regression probes.
  *
  * Round 1 lost 22 queries to a single output-representation divergence
  * (raw DECIMAL stringified differently per engine) that no local check
  * caught. These five tiny constant-shaped queries pin down the exact
  * boundary conventions this engine emits — one query per risky type
  * family — so if the grading harness's stringification ever drifts
  * again, the failure localizes to ONE named probe instead of smearing
  * across dozens of operator queries.
  *
  * Conventions under test (the only representations graded queries use):
  *  - DECIMAL measures  → micro-scaled BIGINT (`*_e6`, Tables.e6 / R2')
  *  - DATE              → ISO `CAST(d AS STRING)`
  *  - TIMESTAMP         → truncated epoch-µs BIGINT (rule R3)
  *  - ARRAY             → ','-joined STRING (R9a: never a raw array cell)
  *  - BINARY            → uppercase hex STRING
  *  - window-SUM math   → CAST(... AS BIGINT) on the oracle side (R9b:
  *    DuckDB integer arithmetic against `SUM(x) OVER ()` is HUGEINT,
  *    which pandas renders float64 and the driver stringifies as `0.0`)
  * All run over the 5-row region dim: negligible cost, deterministic,
  * total ORDER BY on the key.
  */
object TypeProbes extends QueryModule {

  val queries: Map[String, Q] = Map(
    // DECIMAL boundary: exact micro-scaling of a decimal constant and a
    // decimal product (the two shapes every *_e6 query uses).
    "probe_decimal_e6" -> ((s, d) => {
      import s.implicits._
      Tables.region(s, d)
        .select($"r_regionkey",
          Tables.e6(lit("123.456789").cast("decimal(18,6)")).as("const_e6"),
          Tables.e6((Tables.dec(lit(2.5)) * ($"r_regionkey" + 1)).cast("decimal(18,6)"))
            .as("scaled_e6"))
        .orderBy("r_regionkey")
    }),

    // DATE boundary: ISO string casts, including a leap day and date math.
    "probe_date_iso" -> ((s, d) => {
      import s.implicits._
      Tables.region(s, d)
        .select($"r_regionkey",
          lit("2024-02-29").as("leap_day"),
          date_add(lit("2024-01-31").cast("date"), $"r_regionkey".cast("int"))
            .cast("string").as("rolled"))
        .orderBy("r_regionkey")
    }),

    // TIMESTAMP boundary: truncated epoch-µs BIGINT of a constant instant
    // with sub-second precision (the events-table time domain).
    "probe_timestamp_us" -> ((s, d) => {
      import s.implicits._
      Tables.region(s, d)
        .select($"r_regionkey",
          (unix_micros(lit("2024-01-02 03:04:05.123456").cast("timestamp_ntz")
            .cast("timestamp")) + $"r_regionkey").as("ts_us"))
        .orderBy("r_regionkey")
    }),

    // ARRAY boundary: ARRAY<BIGINT> computed internally, emitted as a
    // ','-joined STRING (incl. empty and singleton). Rule R9a: the driver's
    // pandas compare cannot sort ndarray cells, so arrays never cross the
    // output boundary raw — array_join ↔ array_to_string on both sides.
    "probe_array_bigint" -> ((s, d) => {
      import s.implicits._
      Tables.region(s, d)
        .select($"r_regionkey",
          array_join(array($"r_regionkey", $"r_regionkey" * 2, lit(7L)), ",")
            .as("arr_csv"),
          array_join(
            expr("CASE WHEN r_regionkey = 0 THEN array() ELSE array(r_regionkey) END")
              .cast("array<bigint>"), ",").as("arr_edge_csv"))
        .orderBy("r_regionkey")
    }),

    // BINARY boundary: uppercase hex of UTF-8 bytes (never raw binary).
    "probe_binary_hex" -> ((s, d) => {
      import s.implicits._
      Tables.region(s, d)
        .select($"r_regionkey", hex($"r_name".cast("binary")).as("name_hex"))
        .orderBy("r_regionkey")
    }),

    // HUGEINT boundary (R9b): integer div/mod against an unbounded-window
    // SUM — the exact shape that silently became DuckDB HUGEINT → pandas
    // float64 in pipe_source_mixture / multimodal_shard_manifest. Spark
    // side is BIGINT throughout; the oracle must CAST its window-derived
    // arithmetic back to BIGINT before output.
    "probe_hugeint_window" -> ((s, d) => {
      import s.implicits._
      val all = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.region(s, d)
        .select($"r_regionkey",
          sum($"r_regionkey" + 1).over(all).as("tot"))
        .select($"r_regionkey",
          expr("(1000000 * (r_regionkey + 1)) div tot").as("share_ppm"),
          expr("(1000000 * (r_regionkey + 1)) % tot").as("rem_ppm"))
        .orderBy("r_regionkey")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "probe_decimal_e6" ->
      """SELECT r_regionkey,
        |  CAST(CAST('123.456789' AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS const_e6,
        |  CAST(CAST(CAST(2.5 AS DECIMAL(18,6)) * (r_regionkey + 1) AS DECIMAL(18,6))
        |    * 1000000 AS BIGINT) AS scaled_e6
        |FROM region ORDER BY r_regionkey""".stripMargin,
    "probe_date_iso" ->
      """SELECT r_regionkey,
        |  '2024-02-29' AS leap_day,
        |  CAST(CAST('2024-01-31' AS DATE) + r_regionkey AS VARCHAR) AS rolled
        |FROM region ORDER BY r_regionkey""".stripMargin,
    "probe_timestamp_us" ->
      """SELECT r_regionkey,
        |  epoch_us(TIMESTAMP '2024-01-02 03:04:05.123456') + r_regionkey AS ts_us
        |FROM region ORDER BY r_regionkey""".stripMargin,
    // R9a corollary: DuckDB array_to_string([]) is NULL (string_agg
    // semantics) while Spark array_join([]) is '' — COALESCE the oracle.
    "probe_array_bigint" ->
      """SELECT r_regionkey,
        |  array_to_string([r_regionkey, r_regionkey * 2, 7], ',') AS arr_csv,
        |  COALESCE(array_to_string(
        |    CASE WHEN r_regionkey = 0 THEN CAST([] AS BIGINT[])
        |         ELSE [r_regionkey] END, ','), '') AS arr_edge_csv
        |FROM region ORDER BY r_regionkey""".stripMargin,
    "probe_binary_hex" ->
      """SELECT r_regionkey, upper(hex(r_name)) AS name_hex
        |FROM region ORDER BY r_regionkey""".stripMargin,
    // R9b: the // and % against SUM(...) OVER () are HUGEINT in DuckDB;
    // without the CASTs pandas renders them float64 and the driver's
    // stringify diverges ("0.0" vs "0"). Every window-SUM-arithmetic
    // oracle must cast its outputs back to BIGINT like this.
    "probe_hugeint_window" ->
      """WITH w AS (
        |  SELECT r_regionkey, SUM(r_regionkey + 1) OVER () AS tot
        |  FROM region)
        |SELECT r_regionkey,
        |  CAST((1000000 * (r_regionkey + 1)) // tot AS BIGINT) AS share_ppm,
        |  CAST((1000000 * (r_regionkey + 1)) % tot AS BIGINT) AS rem_ppm
        |FROM w ORDER BY r_regionkey""".stripMargin
  )
}
