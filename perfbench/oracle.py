"""DuckDB oracle digests for registry rows.

A row's digest is the order-insensitive digest of tools/check_oracle.py's
compare: columns sorted by name, every cell stringified, NULL spelled once,
rows sorted. perfbench.Digest computes the same digest from the Spark
result on the JVM side; run.py compares the two.
"""
import datetime as dt
import decimal
import hashlib
import math

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == math.floor(v) and abs(v) < 1e16:
            return f"{int(v)}.0"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, dt.datetime):
        base = v.strftime("%Y-%m-%d %H:%M:%S")
        return base + (f".{v.microsecond:06d}" if v.microsecond else "")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(cell(x) for x in v) + "]"
    return str(v)


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(names[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest(), len(lines)


def oracle_digests(data_dir: str, sqls: dict) -> dict:
    """{name: (digest, rows)} or {name: ("error: ...", -1)} per oracle SQL."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    import os
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(sqls.items()):
        try:
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            out[name] = digest(names, cur.fetchall())
        except Exception as e:  # reported as the row's mismatch cause
            out[name] = (f"error: {type(e).__name__}: {e}", -1)
    con.close()
    return out
