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
from pyspark.sql.types import StructType

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

# (applicationId, path) -> the schema Spark inferred on the path's first read
_SCHEMAS: dict[tuple[str, str], StructType] = {}


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Read an input table; ``columns`` ≡ the reference's column-index
    pruning (explicit ``select`` guarantees ReadSchema is pruned even with
    no downstream projection).

    Cost: one schema-inference job per path per SparkContext. A
    schema-less ``spark.read.parquet`` runs a one-task job to open a
    footer on every call; here only a path's first read does, and it
    stores the inferred schema. Every read, the first included, then
    passes that schema to ``spark.read.schema(...)``, which submits no
    job and gives fresh attribute ids, so self-joins work.
    Contract: the table at ``path`` is immutable for the life of the
    SparkContext, as Spark assumes for catalog tables until ``REFRESH``.
    Stores rewritten in place must not be read through here."""
    key = (spark.sparkContext.applicationId, path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    df = spark.read.schema(schema).parquet(path)
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
            out[t] = read_parquet(spark, p)
    return out

