"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones that matter
at cluster scale too (AQE, Arrow transfer, shuffle-partition sizing) — see
SURVEY.md §7 Phase 6.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "arrowhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults chosen for scale:
      - AQE on (runtime shuffle-partition coalescing, skew-join splitting);
      - Arrow-based transfer on (pandas/mapInArrow paths are Arrow-batched,
        matching the reference's RecordBatch-at-a-time model);
      - shuffle partitions sized from local cores for tests; on a real cluster
        set ``shuffle_partitions`` ≈ 2-3× total executor cores (AQE coalesces
        down as needed).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else int(cpus)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has no
        # ns timestamp — read as long (ns since epoch) and convert explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # whole-stage-codegen compiled-class cache (static conf, default
        # 100 entries): this engine serves a few hundred distinct query
        # shapes per session, each compiling ~5-15 codegen units, so the
        # default thrashes and every re-run pays Janino compilation again
        # (measured: a 50-query pass dropped 39-44 s → 32-37 s warm with
        # the cache sized to hold the suite). Scale-neutral: the cache
        # holds bytecode keyed on generated source, never data; 4096
        # entries is a few hundred MB of metaspace at worst. Override via
        # SPARK_CODEGEN_CACHE for constrained drivers. CAVEAT (round-13
        # ADVICE): this is a STATIC SQL conf — when getOrCreate() returns
        # an already-running session (test suites, multi-caller
        # processes) the builder setting is silently ignored and the
        # 100-entry default persists; only the process's FIRST session
        # creation applies it.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_CODEGEN_CACHE", "4096"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def shuffle_parts(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating backends
    where the value is non-numeric (Databricks auto-optimized shuffle
    reports ``"auto"``): fall back to the context's default parallelism
    (cores locally, executors×cores on a cluster), and to 200 — Spark's
    own default — when even that is unavailable (Connect). Operators use
    this for explicit pre-explode repartitions; the exact width is a
    parallelism hint, never a correctness input."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:  # noqa: BLE001 — Spark Connect: no SparkContext
            return 200


def run_concurrently(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run each thunk on its own driver thread and return their results in
    argument order — the engine's one driver-concurrency mechanism (Spark
    schedules concurrent jobs from one session fine, so independent job
    waves overlap instead of paying additive latency).

    Each thunk is wrapped by ``inheritable_thread_target(spark)`` HERE, in
    the caller's thread, so its jobs carry the caller's job group, local
    properties and tags: profiling, tracing and ``cancelJobGroup`` see
    them. Every thunk runs to completion, even after another one fails;
    then the first failure in ARGUMENT order is re-raised."""
    import threading

    results: list = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)

    def slot(i: int, thunk: Callable[[], Any]) -> Callable[[], None]:
        def run() -> None:
            try:
                results[i] = thunk()
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors[i] = exc

        # one wrap per thunk: each thread gets its own copy of the
        # caller's local properties, which Spark mutates per query
        return inheritable_thread_target(spark)(run)

    threads = [
        threading.Thread(target=slot(i, t)) for i, t in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results
