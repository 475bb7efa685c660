"""run_concurrently (session.py): the engine's one driver-concurrency
helper."""

from __future__ import annotations

import ast
import pathlib
import time

import pytest

import arrowhouse_spark
from arrowhouse_spark.session import run_concurrently

RAW_CONCURRENCY = ("threading", "concurrent")


def test_run_concurrently_results_in_argument_order(spark):
    def slow():
        time.sleep(0.2)
        return "slow"

    assert run_concurrently(spark, slow, lambda: "fast", lambda: 3) == [
        "slow",
        "fast",
        3,
    ]
    assert run_concurrently(spark) == []


def test_run_concurrently_raises_first_failure_after_all_finish(spark):
    done = []

    def fail(msg, delay):
        def run():
            time.sleep(delay)
            raise ValueError(msg)

        return run

    def ok():
        time.sleep(0.3)
        done.append(True)

    # the second thunk fails first in time; the first in argument order wins
    with pytest.raises(ValueError, match="first"):
        run_concurrently(spark, fail("first", 0.2), fail("second", 0.0), ok)
    assert done == [True]


def test_no_raw_thread_pool_outside_session():
    """session.py:run_concurrently is the package's only driver-concurrency
    mechanism: no other module imports threading or concurrent.futures."""
    root = pathlib.Path(arrowhouse_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module or ""]
            else:
                continue
            for name in names:
                if name.split(".")[0] in RAW_CONCURRENCY:
                    offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == []
