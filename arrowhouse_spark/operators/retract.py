"""Shared machinery for id-keyed retraction over partition-pruned stores.

Three persistent stores retract by the IDENTICAL sequence — locate the
retracted ids' rows with one left join grouped by the store's partition
column (hits and row total per partition), rewrite ONLY the touched,
not-drained partitions minus those rows (dynamic overwrite), drop
fully-drained partition directories via the Hadoop FS API, and remove
the store directory on a full drain — differing only in
the partition column (band stores: ``batch_id``; SCD2 history: ``kb``;
training shards: ``shard``). This module holds that sequence ONCE so a
fix to the broadcast gate or the drained-dir logic lands everywhere
(round-12 review finding #4); the per-store wrappers keep their own
docstrings, default id columns, and store-specific contracts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_ids(
    spark: SparkSession, ids, id_col: str
) -> DataFrame:
    """``ids`` (sequence or single-column DataFrame) → distinct,
    localCheckpoint()ed one-column relation named ``id_col``."""
    if not isinstance(ids, DataFrame):
        from arrowhouse_spark.sources.memory import one_block

        ids = one_block(spark, [(int(i),) for i in ids], f"{id_col} long")
    return ids.select(id_col).distinct().localCheckpoint()


def partitioned_store_retract(
    spark: SparkSession,
    store_path: str,
    ids,
    id_col: str,
    part_col: str,
    repartition_by_count: bool = False,
    sort_col: str | None = None,
) -> int:
    """Remove every store row whose ``id_col`` is in ``ids`` from a
    parquet store partitioned by ``part_col``. Missing/unreadable-empty
    store → 0 (the idempotent-re-run contract every forget op carries).
    ``repartition_by_count`` packs each touched partition into exactly
    one task (→ one file, the byte-stable shard layout);
    ``sort_col`` additionally sorts rows within partitions. The id set
    rides the count-gated broadcast (operators/idgate.py). Returns the
    number of rows removed."""
    from arrowhouse_spark.operators.components import _hadoop_fs
    from arrowhouse_spark.operators.idgate import gate_broadcast
    from arrowhouse_spark.operators.similarity import (
        _is_missing_store_error,
    )

    ids = normalize_ids(spark, ids, id_col)
    try:
        store = spark.read.parquet(store_path)
        store.schema
    except Exception as exc:  # noqa: BLE001 — classify, re-raise the rest
        if _is_missing_store_error(exc):
            return 0
        raise
    ids_j = gate_broadcast(ids.withColumn("__hit", F.lit(True)))
    # one locate pass: per partition, its row total and its retracted
    # rows; a partition is drained when every row is a hit
    hit = (
        store.select(id_col, part_col)
        .join(ids_j, id_col, "left")
        .groupBy(part_col)
        .agg(
            F.count(F.lit(1)).alias("__rows"),
            F.count("__hit").alias("__n"),
        )
        .filter(F.col("__n") > 0)
        .collect()
    )
    if not hit:
        return 0
    touched = [r[part_col] for r in hit]
    drained = [r[part_col] for r in hit if r["__n"] == r["__rows"]]
    removed = int(sum(r["__n"] for r in hit))
    if len(drained) < len(touched):
        keep = (
            store.filter(F.col(part_col).isin(touched))
            .join(ids_j, id_col, "left_anti")
            .localCheckpoint()  # self-read-overwrite discipline
        )
        writer = (
            keep.repartition(len(touched), part_col)
            if repartition_by_count
            else keep.repartition(part_col)
        )
        if sort_col is not None:
            writer = writer.sortWithinPartitions(sort_col)
        (
            writer.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(store_path)
        )
    for v in drained:
        fs, p = _hadoop_fs(spark, f"{store_path}/{part_col}={v}")
        if fs.exists(p):
            fs.delete(p, True)
    # full drain: no partition dirs left — remove the store directory so
    # the layout is not an unreadable shell
    fs, sdir = _hadoop_fs(spark, store_path)
    if fs.exists(sdir) and not any(
        st.getPath().getName().startswith(f"{part_col}=")
        for st in fs.listStatus(sdir)
    ):
        fs.delete(sdir, True)
    return removed
