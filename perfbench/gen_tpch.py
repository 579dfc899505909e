#!/usr/bin/env python3
"""Seeded TPC-H-ish + events/documents/embeddings generator for the
benchmark: the md5 scheme of tools/gen_sf.py with the workload seed folded
into every salt, so each seed gives a different but reproducible dataset.

Mirrors the schemas, key ranges and value domains of the reference test
tables (FIXTURES.md — int32/int64 column types, timestamp[ns] events.ts,
list<float> embeddings, value domains profiled from sf0.1) at any scale
factor. sf1 = 10x sf0.1: 6M lineitem / 1.5M
orders / 1M events / 50k documents / 20k embeddings.

Determinism: every value derives from md5(seed || salt || row-id) — no
RNG state; the same (seed, sf, duckdb-version) always reproduces the same
bytes.

Usage: python3 perfbench/gen_tpch.py <seed> <sf> <outdir> [table,...]

The optional table list limits generation to those tables (default: all).

region/nation are SF-independent: the five TPC-H regions and 25 nations
NATION_<k> with region k % 5, the shape of the reference test data.
events.ts must be parquet TIMESTAMP(NANOS) (Spark reads it as BIGINT
under nanosAsLong, DuckDB truncates to us — both engines' oracle paths
depend on that); DuckDB 1.0 downcasts TIMESTAMP_NS to us on COPY, so the
column is generated as BIGINT nanos and finalized through pyarrow.
"""
import sys
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings")


def main(seed: int, sf: float, out: str, tables=ALL_TABLES) -> None:
    import os
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_li = max(6_000, round(6_000_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    n_user = max(15, round(15_000 * sf))

    c = duckdb.connect()
    c.sql(f"SET threads TO {min(4, os.cpu_count())}")
    # 48-bit uniform hash of (salt, i): the single primitive everything
    # derives from. h48 in [0, 2^48); u01 in [0, 1).
    c.sql(f"""CREATE MACRO h48(s, i) AS
               CAST(('0x' || substr(md5('{seed}:' || s || '-' || CAST(i AS VARCHAR)), 1, 12))
                    AS BIGINT)""")
    c.sql("CREATE MACRO u01(s, i) AS h48(s, i) / 281474976710656.0")

    def ids(n):
        """Row ids 0..n-1 as a table: a scan of it runs on every thread,
        where DuckDB runs a range() source on one, so the md5-heavy
        projections below run in parallel."""
        c.sql(f"CREATE TABLE IF NOT EXISTS ids_{n} AS SELECT i FROM range({n}) t(i)")
        return f"ids_{n} t"

    if "region" in tables:
        c.sql(f"""COPY (
          SELECT CAST(i AS INTEGER) AS r_regionkey,
            (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1] AS r_name
          FROM range(5) t(i) ORDER BY i
        ) TO '{out}/region.parquet' (FORMAT PARQUET)""")
    if "nation" in tables:
        c.sql(f"""COPY (
          SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || CAST(i AS VARCHAR) AS n_name,
            CAST(i % 5 AS INTEGER) AS n_regionkey
          FROM range(25) t(i) ORDER BY i
        ) TO '{out}/nation.parquet' (FORMAT PARQUET)""")

    if "customer" in tables:
        c.sql(f"""COPY (
          SELECT i AS c_custkey,
            printf('Customer#%09d', i) AS c_name,
            CAST(h48('cn', i) % 25 AS INTEGER) AS c_nationkey,
            round(-1000 + 11000 * u01('cb', i), 2) AS c_acctbal,
            (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])
              [CAST(h48('cm', i) % 5 AS INTEGER) + 1] AS c_mktsegment
          FROM {ids(n_cust)} ORDER BY i
        ) TO '{out}/customer.parquet' (FORMAT PARQUET)""")

    if "supplier" in tables:
        c.sql(f"""COPY (
          SELECT i AS s_suppkey,
            printf('Supplier#%09d', i) AS s_name,
            CAST(h48('sn', i) % 25 AS INTEGER) AS s_nationkey,
            round(-1000 + 11000 * u01('sb', i), 2) AS s_acctbal
          FROM {ids(n_supp)} ORDER BY i
        ) TO '{out}/supplier.parquet' (FORMAT PARQUET)""")

    if "part" in tables:
        c.sql(f"""COPY (
          SELECT i AS p_partkey,
            (['blue','cold','hot','large','new','old','red','small'])
              [CAST(h48('pa', i) % 8 AS INTEGER) + 1] || ' ' ||
            (['anvil','bolt','gear','gizmo','plate','ring','rod','widget'])
              [CAST(h48('pb', i) % 8 AS INTEGER) + 1] AS p_name,
            'Brand#' || CAST(1 + h48('pr', i) % 25 AS VARCHAR) AS p_brand,
            (['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'])
              [CAST(h48('pt', i) % 6 AS INTEGER) + 1] AS p_type,
            CAST(1 + h48('ps', i) % 50 AS INTEGER) AS p_size,
            round(900 + 100 * u01('pp', i), 2) AS p_retailprice
          FROM {ids(n_part)} ORDER BY i
        ) TO '{out}/part.parquet' (FORMAT PARQUET)""")

    if "orders" in tables:
        c.sql(f"""COPY (
          SELECT i AS o_orderkey,
            h48('oc', i) % {n_cust} AS o_custkey,
            (['F','O','P'])[CAST(h48('os', i) % 3 AS INTEGER) + 1] AS o_orderstatus,
            round(1000 + 499000 * u01('op', i), 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' +
              INTERVAL (h48('od', i) % 2404) DAY AS o_orderdate,
            (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])
              [CAST(h48('oy', i) % 5 AS INTEGER) + 1] AS o_orderpriority
          FROM {ids(n_ord)} ORDER BY i
        ) TO '{out}/orders.parquet' (FORMAT PARQUET)""")

    # lineitem rows sample their order INDEPENDENTLY (the reference data has
    # Poisson-like 1..17 lines per order, linenumber 1..7 with repeats —
    # not the dense TPC-H 1..n numbering); the row id breaks the ties of
    # repeated (order, linenumber), so the file's row order is fixed too
    if "lineitem" in tables:
        c.sql(f"""COPY (
          SELECT h48('lo', i) % {n_ord} AS l_orderkey,
            h48('lp', i) % {n_part} AS l_partkey,
            h48('ls', i) % {n_supp} AS l_suppkey,
            CAST(1 + h48('ln', i) % 7 AS INTEGER) AS l_linenumber,
            CAST(1 + h48('lq', i) % 50 AS DOUBLE) AS l_quantity,
            round(900 + 104100 * u01('le', i), 2) AS l_extendedprice,
            (h48('ld', i) % 11) / 100.0 AS l_discount,
            (h48('lt', i) % 9) / 100.0 AS l_tax,
            (['A','N','R'])[CAST(h48('lr', i) % 3 AS INTEGER) + 1] AS l_returnflag,
            (['F','O'])[CAST(h48('ll', i) % 2 AS INTEGER) + 1] AS l_linestatus,
            TIMESTAMP '1995-01-02' +
              INTERVAL (h48('lh', i) % 2498) DAY AS l_shipdate
          FROM {ids(n_li)} ORDER BY l_orderkey, l_linenumber, i
        ) TO '{out}/lineitem.parquet' (FORMAT PARQUET)""")

    # events: same absolute ~30-day window as the reference data at every sf
    # (10x sf => 10x density); ts strictly monotone in event_id because
    # jitter < step. Generated as BIGINT nanos, finalized to timestamp[ns].
    ts0, ts1 = 1704067798778549829, 1706657176220708106
    step = (ts1 - ts0) // n_ev
    if "events" in tables:
        c.sql(f"""COPY (
          SELECT i AS event_id,
            {ts0} + i * {step} + h48('ej', i) % {step} AS ts,
            h48('eu', i) % {n_user} AS user_id,
            (['click','error','purchase','signup','view'])
              [CAST(h48('et', i) % 5 AS INTEGER) + 1] AS event_type,
            round(least(-50 * ln(1 - least(u01('ev', i), 0.9999990)), 600), 2)
              AS value,
            '{{"k": ' || CAST(h48('ek', i) % 100 AS VARCHAR) || '}}' AS props
          FROM {ids(n_ev)} ORDER BY i
        ) TO '{out}/events_stage.parquet' (FORMAT PARQUET)""")

    # documents: 31-word vocab, 10..100 words; ~2% near-dups (copy of the
    # previous doc with every 17th word rewritten) and ~0.4% exact dups —
    # the structure the dedup operators exist for
    if "documents" in tables:
        c.sql(f"""COPY (
          WITH base AS (
            SELECT i,
              list_transform(range(10 + CAST(h48('dl', i) % 91 AS INTEGER)),
                j -> (['a','agg','batch','big','column','customer','data','dup',
                       'fast','filter','group','hash','join','key','line','merge',
                       'order','part','query','row','scan','slow','small','sort',
                       'spark','stream','table','the','value','vector','window'])
                      [CAST(h48('dw-' || CAST(i AS VARCHAR), j) % 31 AS INTEGER) + 1])
                AS words
            FROM {ids(n_doc)}),
          lagged AS (
            SELECT i, words, lag(words) OVER (ORDER BY i) AS prev FROM base),
          final AS (
            SELECT i,
              CASE
                WHEN i % 250 = 1 AND prev IS NOT NULL THEN prev
                WHEN i % 50 = 2 AND prev IS NOT NULL THEN
                  list_transform(range(len(prev)),
                    j -> CASE WHEN j % 17 = CAST(h48('dp', i) % 17 AS INTEGER)
                              THEN 'dup' ELSE prev[j + 1] END)
                ELSE words
              END AS words
            FROM lagged)
          SELECT i AS doc_id,
            array_to_string(words, ' ') AS text,
            CASE WHEN u01('dg', i) < 0.4 THEN 'en'
                 ELSE (['de','es','fr','zh'])
                   [CAST(h48('dn', i) % 4 AS INTEGER) + 1] END AS lang,
            'src' || CAST(h48('ds', i) % 20 AS VARCHAR) AS source,
            CAST(length(array_to_string(words, ' ')) AS BIGINT) AS n_chars
          FROM final ORDER BY i
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)""")

    # embeddings: 10 hash-derived centroids + noise, unit-normalized —
    # label IS the cluster, so ANN/kmeans queries see real structure
    if "embeddings" in tables:
        c.sql(f"""COPY (
          WITH raw AS (
            SELECT i, CAST(h48('el', i) % 10 AS INTEGER) AS label,
              list_transform(range(64),
                j -> (2 * u01('ec-' || CAST(h48('el', i) % 10 AS VARCHAR), j) - 1)
                   + 0.6 * (u01('en-' || CAST(i AS VARCHAR), j) - 0.5)) AS v
            FROM {ids(n_emb)}),
          normed AS (
            SELECT i, label,
              sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm, v
            FROM raw)
          SELECT i AS vec_id,
            CAST(list_transform(v, x -> CAST(x / nrm AS FLOAT)) AS FLOAT[])
              AS embedding,
            label
          FROM normed ORDER BY i
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)""")
    c.close()

    # finalize events: BIGINT nanos -> parquet TIMESTAMP(NANOS)
    if "events" in tables:
        t = pq.read_table(f"{out}/events_stage.parquet")
        ts_idx = t.schema.get_field_index("ts")
        t = t.set_column(ts_idx, pa.field("ts", pa.timestamp("ns")),
                         t.column("ts").cast(pa.timestamp("ns")))
        pq.write_table(t, f"{out}/events.parquet")
        os.remove(f"{out}/events_stage.parquet")
    print(f"generated seed={seed} sf={sf} at {out}: {', '.join(tables)}")


if __name__ == "__main__":
    main(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3],
         tuple(sys.argv[4].split(",")) if len(sys.argv) > 4 else ALL_TABLES)
