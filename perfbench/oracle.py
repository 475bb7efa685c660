"""Check query results against the suite's DuckDB oracles.

Each workload query's cold-pass result is collected from Spark and compared
with its ``suite.oracle_sql()`` twin run by DuckDB over the same parquet, using the
row comparison of ``tools/check_correctness.py``: same row count, same column
names, and equal rows after sorting, with floats compared to a relative 1e-6.
"""

from __future__ import annotations

import glob
import os
import sys
import time


def _compare(scols, srows, dcols, drows, cc) -> str | None:
    """None when equal, else a short description of the first difference."""
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duckdb={len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"schema spark={sorted(scols)} duckdb={sorted(dcols)}"
    sidx = [scols.index(c) for c in sorted(scols)]
    didx = [dcols.index(c) for c in sorted(dcols)]
    sa = sorted(([r[i] for i in sidx] for r in srows), key=cc._sort_key)
    da = sorted(([r[i] for i in didx] for r in drows), key=cc._sort_key)
    bad = [(x, y) for x, y in zip(sa, da) if not cc._rows_equal(x, y)]
    if bad:
        return f"{len(bad)} rows differ, first spark={bad[0][0]} duckdb={bad[0][1]}"
    return None


def check(root: str, data_dir: str, frames: dict, work_dir: str) -> dict:
    """``{query: {"problem": None | str, "spark_s", "duckdb_s", "compare_s"}}``
    for every query of ``frames`` (query -> the DataFrame its function
    returned, or None where it raised). A query without an oracle, or one
    that raised, has a problem."""
    import duckdb

    sys.path.insert(0, os.path.join(root, "tools"))
    import check_correctness as cc  # noqa: PLC0415 — the repo's own comparison
    from arrowhouse_spark import suite

    oracles = suite.oracle_sql()
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb')}'")
    con.execute("SET threads=4")
    for t in cc.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        if glob.glob(src):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    out: dict[str, dict] = {}
    try:
        for name, sdf in frames.items():
            rec = out[name] = {"problem": None, "spark_s": 0.0, "duckdb_s": 0.0, "compare_s": 0.0}
            if name not in oracles:
                rec["problem"] = "no oracle"
                continue
            if sdf is None:
                rec["problem"] = "spark: raised in the cold pass"
                continue
            t0 = time.time()
            try:
                scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
            except Exception as e:  # noqa: BLE001 — reported, never hidden
                rec["problem"] = f"spark: {e}"[:300]
                continue
            t1 = time.time()
            try:
                res = con.execute(oracles[name])
                dcols, drows = [d[0] for d in res.description], res.fetchall()
            except duckdb.Error as e:
                rec["problem"] = f"duckdb: {e}"[:300]
                continue
            t2 = time.time()
            rec["problem"] = _compare(scols, srows, dcols, drows, cc)
            rec["spark_s"], rec["duckdb_s"], rec["compare_s"] = t1 - t0, t2 - t1, time.time() - t2
    finally:
        con.close()
    return out
