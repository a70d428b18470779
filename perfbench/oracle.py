"""Output check: each query's Spark result against its DuckDB oracle SQL.

Both sides are canonicalised the same way: columns sorted by name, rows
sorted by all columns, floats equal within a relative 1e-9. The oracle's
canonical rows are cached per (inputs, query, SQL text), since they depend
only on those.
"""
import glob
import hashlib
import math
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(con, sql):
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    quoted = ", ".join(f'"{c}"' for c in cols)
    rows = con.sql(f"SELECT {quoted} FROM ({sql}) ORDER BY ALL").fetchall()
    return cols, rows


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_eq(a[k], b[k]) for k in a)
    return a == b


def _oracle_rows(con, name, sql, cache_dir):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    canon = _canon(con, f"SELECT * FROM ({sql})")
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(canon, f)
    os.replace(tmp, path)
    return canon


def check(data_dir, results_dir, oracle_sql, cache_dir):
    """Return ({query: problem} for every mismatch, {query: result rows})."""
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    problems, rows = {}, {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            problems[name] = "no result written"
            continue
        try:
            gcols, grows = _canon(
                con, f"SELECT * FROM read_parquet({sorted(files)!r})")
            ocols, orows = _oracle_rows(con, name, sql, cache_dir)
        except duckdb.Error as e:
            problems[name] = f"compare failed: {e}"[:300]
            continue
        rows[name] = len(grows)
        if gcols != ocols:
            problems[name] = f"columns {gcols} vs oracle {ocols}"
        elif len(grows) != len(orows):
            problems[name] = f"{len(grows)} rows vs oracle {len(orows)}"
        else:
            bad = next((i for i, (g, o) in enumerate(zip(grows, orows))
                        if not _eq(g, o)), None)
            if bad is not None:
                problems[name] = (f"row {bad}: {grows[bad]!r:.120} vs oracle "
                                  f"{orows[bad]!r:.120}")
    return problems, rows
