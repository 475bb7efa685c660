"""Parquet source ≡ ``ParquetBlockInputStream``
(/root/reference/DataStreams/ParquetBlockInputStream.cpp:20-55).

The reference takes explicit row-group indices and column indices for pruning;
Spark's parquet source does both natively and better: column pruning from the
projected schema, row-group skipping from pushed-down predicates, partition
pruning, and dynamic partition pruning — all visible in
``df.explain("formatted")`` as PushedFilters / ReadSchema. At 100 TB the scan
is the dominant cost, so operators in this package are written so their
filters/projections remain pushable (no opaque UDF between filter and scan).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Read parquet; ``columns`` ≡ the reference's column-index pruning
    (explicit ``select`` guarantees ReadSchema is pruned even with no
    downstream projection)."""
    df = spark.read.parquet(path)
    if columns is not None:
        df = df.select(*columns)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, tables: Sequence[str] = TPCH_TABLES
) -> dict[str, DataFrame]:
    """Load the driver's synthetic star schema (TESTDATA.md) as DataFrames."""
    out: dict[str, DataFrame] = {}
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            out[t] = spark.read.parquet(p)
    return out

