"""Input-table reads (sources/parquet.py:read_parquet): each path's schema
is inferred once per SparkContext, and every suite fixture read goes
through it."""

from __future__ import annotations

import ast
import pathlib

import arrowhouse_spark.suite
from arrowhouse_spark.sources.parquet import read_parquet
from arrowhouse_spark.suite import _t


def _write_table(spark, tmp_path, name="t"):
    spark.createDataFrame(
        [(k % 10, k, f"v{k}") for k in range(20)], "k long, id long, s string"
    ).coalesce(2).write.parquet(str(tmp_path / f"{name}.parquet"))
    return str(tmp_path / f"{name}.parquet")


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_t_infers_schema_once_per_path(spark, tmp_path):
    path = _write_table(spark, tmp_path)
    first, n_first = _jobs_in_group(
        spark, "read-first", lambda: _t(spark, str(tmp_path), "t")
    )
    second, n_second = _jobs_in_group(
        spark, "read-second", lambda: _t(spark, str(tmp_path), "t")
    )
    assert (n_first, n_second) == (1, 0)
    assert first.schema == second.schema == spark.read.parquet(path).schema
    assert second.count() == 20


def test_read_parquet_self_join_and_pruning(spark, tmp_path):
    path = _write_table(spark, tmp_path, "sj")
    a, b = read_parquet(spark, path), read_parquet(spark, path)
    # 10 keys with 2 rows each: 2 x 2 matches per key
    assert a.join(b, "k").count() == 40
    assert a.alias("x").join(b.alias("y"), "id").filter("x.k = y.k").count() == 20

    pruned = read_parquet(spark, path, columns=["id"])
    assert pruned.columns == ["id"]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<id:bigint>" in plan


def _sf_dir_tainted(fn: ast.AST) -> set[str]:
    """Names in ``fn`` whose value is built from ``sf_dir``."""
    tainted = {"sf_dir"}
    changed = True
    while changed:
        changed = False
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and _mentions(node.value, tainted):
                for tgt in node.targets:
                    for n in ast.walk(tgt):
                        if isinstance(n, ast.Name) and n.id not in tainted:
                            tainted.add(n.id)
                            changed = True
    return tainted


def _mentions(expr: ast.AST, names: set[str]) -> bool:
    return any(isinstance(n, ast.Name) and n.id in names for n in ast.walk(expr))


def _is_read_parquet(call: ast.Call) -> bool:
    """``<x>.read.parquet(...)`` or ``<x>.read.<...>(...).parquet(...)``."""
    f = call.func
    if not (isinstance(f, ast.Attribute) and f.attr == "parquet"):
        return False
    return any(
        isinstance(n, ast.Attribute) and n.attr == "read" for n in ast.walk(f.value)
    )


def test_suite_reads_fixtures_only_through_t():
    """No suite module reads an ``sf_dir`` table with ``spark.read.parquet``:
    fixture tables go through ``_t``, so their schema is inferred once."""
    root = pathlib.Path(arrowhouse_spark.suite.__file__).parent
    offenders = []
    for path in sorted(root.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            tainted = _sf_dir_tainted(fn)
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and _is_read_parquet(node)
                    and any(_mentions(a, tainted) for a in node.args)
                ):
                    offenders.append(f"{path.name}:{node.lineno}")
    assert sorted(set(offenders)) == []
