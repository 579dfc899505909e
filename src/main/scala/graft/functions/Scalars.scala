package graft.functions

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** §2-H: scalar-function matrix (string/date/math/json/array/conditional +
  * the posexplode generator). All pure codegen'd built-ins — no UDFs in the
  * hot path. Float-derived values are emitted as micro-scaled BIGINTs
  * (round(x*1e4 or 1e6)) so cross-engine formatting can't drift (rule R2). */
object Scalars extends QueryModule {

  val queries: Map[String, Q] = Map(
    // H1: string functions.
    "fn_string" -> ((s, d) => {
      import s.implicits._
      Tables.part(s, d)
        .select($"p_partkey",
          upper($"p_name").as("name_up"),
          lower($"p_type").as("type_lo"),
          substring($"p_name", 1, 5).as("name5"),
          length($"p_name").as("name_len"),
          trim(lpad($"p_brand", 12, "_")).as("brand_pad"),
          regexp_replace($"p_brand", "Brand#", "B").as("brand_short"),
          regexp_extract($"p_type", "^([A-Z]+)", 1).as("type_first_word"))
        .orderBy("p_partkey")
    }),

    // H2: date functions on NTZ timestamps.
    "fn_date" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderkey",
          date_trunc("month", $"o_orderdate").cast("date").cast("string").as("order_month"),
          year($"o_orderdate").as("order_year"),
          ((dayofweek($"o_orderdate") + lit(5)) % 7).as("order_wd_mon0"),
          date_add($"o_orderdate".cast("date"), 7).cast("string").as("plus7"),
          datediff(lit("2000-01-01").cast("date"), $"o_orderdate".cast("date")).as("days_to_y2k"))
        .orderBy("o_orderkey")
    }),

    // H3: integer/decimal math (no float transcendentals — rule R2).
    "fn_math" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber",
          abs($"l_linenumber" - 3).as("abs_ln"),
          floor(Tables.dec($"l_quantity")).cast("long").as("qty_floor"),
          ceil(Tables.dec($"l_quantity")).cast("long").as("qty_ceil"),
          ($"l_orderkey" % 7).as("mod7"),
          pmod($"l_orderkey" - 3, lit(7)).as("pmod7"),
          pow(lit(2), $"l_linenumber").cast("long").as("pow2"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // H4: JSON extraction from events.props, aggregated.
    "fn_json" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy("event_type")
    }),

    // H5: array functions over the 64-dim embedding column, incl. a
    // higher-order aggregate fold (sum of first 3 dims, micro-scaled).
    "fn_array" -> ((s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select($"vec_id", $"label",
          size($"embedding").as("dim"),
          round(element_at($"embedding", 1).cast("double") * 1e4).cast("long").as("e1_e4"),
          round(aggregate(slice($"embedding", 1, 3), lit(0.0),
            (acc, x) => acc + x.cast("double")) * 1e4).cast("long").as("sum3_e4"),
          array_contains(array(lit(1), lit(3), lit(5)), $"label").as("label_odd135"))
        .orderBy("vec_id")
    }),

    // H6: CASE WHEN / COALESCE / cast matrix.
    "fn_case_cast" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .select($"c_custkey",
          when($"c_acctbal" < 0, "neg")
            .when($"c_acctbal" < 5000, "small")
            .otherwise("big").as("bal_class"),
          coalesce(expr("nullif(c_mktsegment, 'BUILDING')"), lit("(bldg)")).as("seg_or_tag"),
          $"c_custkey".cast("string").as("key_s"),
          $"c_acctbal".cast("decimal(18,2)").cast("string").as("bal_s"),
          $"c_nationkey".cast("decimal(10,0)").cast("int").as("nat_i"))
        .orderBy("c_custkey")
    }),

    // ANSI-safe error handling: the try_* family returns NULL where strict
    // ANSI evaluation would raise — malformed casts, impossible dates,
    // division by zero, out-of-bounds array access. At 100 TB this is the
    // difference between one poison row killing a stage and a NULL you can
    // route to a quarantine sink (rule: ingest never throws on data).
    // DuckDB mirrors with TRY_CAST / CASE / NULL-on-OOB list access.
    "fn_try_arith" -> ((s, d) => {
      import s.implicits._
      Tables.nation(s, d)
        .select($"n_nationkey",
          expr("try_cast(cast(n_nationkey as string) as int)").as("ok_int"),
          expr("try_cast(concat(n_name, '!') as int)").as("bad_int"),
          expr("""cast(try_cast(concat('1995-02-', lpad(cast(n_nationkey + 7 as string), 2, '0'))
                 |  as date) as string)""".stripMargin.replaceAll("\n", " "))
            .as("maybe_date"),
          expr("cast(try_divide(1000, n_nationkey % 4) as bigint)").as("safe_div"),
          expr("try_element_at(array(10L, 20L, 30L), cast(n_nationkey % 5 + 1 as int))")
            .as("maybe_elem"))
        .orderBy("n_nationkey")
    }),

    // VARIANT (Spark 4 semi-structured type): parse_json into a variant,
    // typed extraction with variant_get — the shredding-friendly path for
    // heterogeneous JSON at scale (vs per-query string re-parsing).
    "fn_variant" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type",
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          countDistinct($"k").as("n_distinct_k"))
        .orderBy("event_type")
    }),

    // URL decomposition: parse_url on synthesized catalog URLs. The oracle
    // replicates host/path/query with anchored regexes (DuckDB 1.0 has no
    // URL functions), which also documents the exact grammar relied on.
    "fn_url_parse" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .filter($"c_custkey" < 500)
        .select($"c_custkey",
          concat(lit("https://shop.example.com/seg/"), lower($"c_mktsegment"),
            lit("/item?id="), $"c_custkey", lit("&ref=home")).as("url"))
        .select($"c_custkey", $"url",
          parse_url($"url", lit("HOST")).as("host"),
          parse_url($"url", lit("PATH")).as("path"),
          parse_url($"url", lit("QUERY")).as("query"))
        .orderBy("c_custkey")
    }),

    // Global regex extraction: every run of 7+ lowercase letters per
    // document, emitted pipe-joined (a plain string survives any
    // harness-side array stringification) plus the match count. Java
    // regex and RE2 agree on this class-run pattern; both engines scan
    // left-to-right and take maximal runs. Pure map — scan-shaped.
    "fn_regexp_extract_all" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 100)
        .select($"doc_id",
          array_join(expr("regexp_extract_all(text, '[a-z]{7,}', 0)"), "|")
            .as("matches"),
          size(expr("regexp_extract_all(text, '[a-z]{7,}', 0)"))
            .cast("long").as("n_matches"))
        .orderBy("doc_id")
    }),

    // H7 promoted to an oracle row (r3): MAP construction and the map HOF
    // surface (map_concat, element_at, map_filter, transform_values,
    // map_keys/values, aggregate-fold), emitted in CANONICAL STRING form
    // ("k:v" pairs, keys sorted, comma-joined) because a raw MAP cell is
    // driver-unsortable (same class as rule R9a arrays). The oracle
    // rebuilds the same entries relationally — UNION ALL + string_agg —
    // so the hash-match proves entry-level semantics, not just counts.
    "fn_map_canonical" -> ((s, d) => {
      import s.implicits._
      Tables.nation(s, d)
        .select($"n_nationkey",
          map(lit("nk"), $"n_nationkey".cast("long"),
              lit("rk"), $"n_regionkey".cast("long"),
              lit("len"), length($"n_name").cast("long")).as("m"))
        .withColumn("m2",
          map_concat($"m", map(lit("x2"), $"n_nationkey".cast("long") * 2L)))
        .withColumn("mv",
          expr("transform_values(map_filter(m2, (k, v) -> v % 2 = 0), (k, v) -> v + 1)"))
        .select($"n_nationkey",
          element_at($"m2", "rk").as("rk"),
          size($"m2").cast("long").as("m2_size"),
          expr("array_join(transform(array_sort(map_keys(mv)), " +
            "k -> concat(k, ':', element_at(mv, k))), ',')").as("m_canon"),
          expr("aggregate(map_values(m2), CAST(0 AS BIGINT), (a, v) -> a + v)")
            .as("v_sum"))
        .orderBy("n_nationkey")
    }),

    // H8: generator/UDTF surface — posexplode of tokenized text (0-based pos).
    "fn_explode_pos" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 50)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "fn_map_canonical" ->
      """WITH b AS (
        |  SELECT n_nationkey AS k, CAST(n_regionkey AS BIGINT) AS r,
        |    CAST(length(n_name) AS BIGINT) AS l
        |  FROM nation),
        |ent AS (
        |  SELECT k, 'nk' AS mk, CAST(k AS BIGINT) AS mv FROM b
        |  UNION ALL SELECT k, 'rk', r FROM b
        |  UNION ALL SELECT k, 'len', l FROM b
        |  UNION ALL SELECT k, 'x2', CAST(2 * k AS BIGINT) FROM b),
        |canon AS (
        |  SELECT k, string_agg(mk || ':' || CAST(mv + 1 AS VARCHAR), ',' ORDER BY mk) AS m_canon
        |  FROM ent WHERE mv % 2 = 0 GROUP BY k),
        |agg AS (
        |  SELECT k, count(*) AS m2_size, CAST(sum(mv) AS BIGINT) AS v_sum
        |  FROM ent GROUP BY k)
        |SELECT b.k AS n_nationkey, b.r AS rk, agg.m2_size,
        |  coalesce(canon.m_canon, '') AS m_canon, agg.v_sum
        |FROM b JOIN agg ON b.k = agg.k LEFT JOIN canon ON b.k = canon.k
        |ORDER BY n_nationkey""".stripMargin,
    "fn_url_parse" ->
      """WITH u AS (
        |  SELECT c_custkey,
        |    'https://shop.example.com/seg/' || lower(c_mktsegment)
        |      || '/item?id=' || CAST(c_custkey AS VARCHAR) || '&ref=home' AS url
        |  FROM customer WHERE c_custkey < 500)
        |SELECT c_custkey, url,
        |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query
        |FROM u ORDER BY c_custkey""".stripMargin,
    "fn_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_up,
        |  lower(p_type) AS type_lo,
        |  substring(p_name, 1, 5) AS name5,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  trim(lpad(p_brand, 12, '_')) AS brand_pad,
        |  replace(p_brand, 'Brand#', 'B') AS brand_short,
        |  coalesce(regexp_extract(p_type, '^([A-Z]+)', 1), '') AS type_first_word
        |FROM part ORDER BY p_partkey""".stripMargin,
    "fn_date" ->
      """SELECT o_orderkey,
        |  CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS order_month,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST((dayofweek(CAST(o_orderdate AS DATE)) + 6) % 7 AS INT) AS order_wd_mon0,
        |  CAST(CAST(o_orderdate AS DATE) + 7 AS VARCHAR) AS plus7,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_y2k
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(abs(l_linenumber - 3) AS INT) AS abs_ln,
        |  CAST(floor(CAST(l_quantity AS DECIMAL(18,6))) AS BIGINT) AS qty_floor,
        |  CAST(ceil(CAST(l_quantity AS DECIMAL(18,6))) AS BIGINT) AS qty_ceil,
        |  l_orderkey % 7 AS mod7,
        |  ((l_orderkey - 3) % 7 + 7) % 7 AS pmod7,
        |  CAST(power(2, l_linenumber) AS BIGINT) AS pow2
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "fn_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "fn_array" ->
      """SELECT vec_id, label,
        |  CAST(len(embedding) AS INT) AS dim,
        |  CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT) AS e1_e4,
        |  CAST(round((CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) + CAST(embedding[3] AS DOUBLE)) * 10000) AS BIGINT) AS sum3_e4,
        |  list_contains([1, 3, 5], label) AS label_odd135
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "fn_case_cast" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'neg'
        |       WHEN c_acctbal < 5000 THEN 'small'
        |       ELSE 'big' END AS bal_class,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(bldg)') AS seg_or_tag,
        |  CAST(c_custkey AS VARCHAR) AS key_s,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal_s,
        |  CAST(CAST(c_nationkey AS DECIMAL(10,0)) AS INT) AS nat_i
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "fn_try_arith" ->
      """SELECT n_nationkey,
        |  TRY_CAST(CAST(n_nationkey AS VARCHAR) AS INT) AS ok_int,
        |  TRY_CAST(n_name || '!' AS INT) AS bad_int,
        |  CAST(TRY_CAST('1995-02-' || lpad(CAST(n_nationkey + 7 AS VARCHAR), 2, '0')
        |    AS DATE) AS VARCHAR) AS maybe_date,
        |  CASE WHEN n_nationkey % 4 = 0 THEN NULL
        |       ELSE 1000 // (n_nationkey % 4) END AS safe_div,
        |  CAST(list_extract([10, 20, 30], n_nationkey % 5 + 1) AS BIGINT) AS maybe_elem
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "fn_variant" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "fn_explode_pos" ->
      """SELECT doc_id,
        |  CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos,
        |  unnest(string_split(text, ' ')) AS token
        |FROM documents WHERE doc_id < 50
        |ORDER BY doc_id, pos""".stripMargin,
    "fn_regexp_extract_all" ->
      """SELECT doc_id,
        |  COALESCE(array_to_string(regexp_extract_all(text, '[a-z]{7,}'), '|'), '') AS matches,
        |  CAST(len(regexp_extract_all(text, '[a-z]{7,}')) AS BIGINT) AS n_matches
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin
  )
}
