"""DuckDB oracle compare for the benchmark's query steps.

Same semantics as the repository's correctness gate: columns are sorted
by name, then the rows must match both in the order the engine returned
them and as sorted sets, value for value (NaN compares equal to NaN).

The oracle SQL is the engine's own rendering (`SparkEntry.oracleSqlRendered`)
with one change: every common table expression is marked MATERIALIZED.
That is a DuckDB evaluation hint, not a change of meaning; without it
DuckDB re-evaluates the document-shingling CTEs once per reference and
per recursion step, and the corpus oracles take minutes instead of
seconds. The queries run concurrently, one cursor each, and can start
before the engine's outputs exist.
"""
import math
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def compare(got, want):
    """None when the two frames match, else a one-line reason."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g = [tuple(_norm(v) for v in r) for r in got.itertuples(index=False)]
    w = [tuple(_norm(v) for v in r) for r in want.itertuples(index=False)]
    ordered = sum(1 for a, b in zip(g, w) if a != b)
    unordered = sum(1 for a, b in zip(sorted(map(repr, g)), sorted(map(repr, w)))
                    if a != b)
    if ordered or unordered:
        return f"{ordered} ordered / {unordered} sorted mismatching rows of {len(g)}"
    return None


_CTE = re.compile(r"(\b[A-Za-z_][A-Za-z0-9_]*\s+AS)\s*\((?=\s*(?:SELECT|WITH|VALUES|\())",
                  re.IGNORECASE)


def materialize_ctes(sql):
    return _CTE.sub(lambda m: m.group(1) + " MATERIALIZED (", sql)


def start(tables_dir, oracles):
    """Starts every oracle query {name: sql} on the input tables, all at
    once, one cursor and one DuckDB thread each (the oracles are mostly
    serial recursive CTEs; more threads per query only oversubscribe the
    cores). Returns {name: future of (frame, seconds)}. The engine's
    outputs are not needed yet, so the oracles can run while the
    benchmark JVM is still capturing them."""
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")

    def one(sql):
        cur = con.cursor()
        t = time.time()
        try:
            return cur.execute(materialize_ctes(sql)).fetchdf(), time.time() - t
        finally:
            cur.close()

    pool = ThreadPoolExecutor(max_workers=max(1, len(oracles)))
    futures = {name: pool.submit(one, sql) for name, sql in sorted(oracles.items())}
    pool.shutdown(wait=False)
    return futures


def compare_results(futures, results_dir):
    """[(query name, ok, detail)]: each started oracle against the output
    the engine wrote to `results_dir/<name>/`."""
    con = duckdb.connect()
    out = []
    for name, fut in sorted(futures.items()):
        got, secs = None, 0.0
        try:
            want, secs = fut.result()
            got = con.execute(
                f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").fetchdf()
            why = compare(got, want)
        except Exception as e:  # an unreadable result or oracle error is a failure
            why = f"{type(e).__name__}: {e}"
        detail = why or f"{len(got)} rows match"
        out.append((name, why is None, f"{detail} (oracle {secs:.1f} s)"))
    return out
