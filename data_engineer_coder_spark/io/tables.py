"""Parquet scan source (SURVEY.md §2.1 S3).

The reference materializes its tables eagerly from JSON into pandas
(``/root/reference/dags/my_data_pipeline.py:61-75``); here every table is
a lazy columnar Parquet scan — Catalyst pushes filters into the
row-group reader and prunes columns, so downstream operators only pay
for what they touch (verify with ``df.explain``: ``PushedFilters`` /
``ReadSchema``).

At 100 TB these tables would be date/key-partitioned directories; the
scan API is identical (``spark.read.parquet`` on the root), and static +
dynamic partition pruning apply automatically.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one fixture table.

    ``events.ts`` has shifted physical type across fixture generations:
    parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects →
    read nanos as long, truncate to micros) and currently plain
    ``timestamp[us]`` with no timezone, which Spark 4 reads as
    TIMESTAMP_NTZ.  Downstream operators use ``unix_micros`` / interval
    arithmetic that requires TIMESTAMP_LTZ, so we normalize every
    variant to LTZ here.  The session timezone is pinned to UTC
    (``session.py``), so NTZ→LTZ is value-preserving and matches the
    DuckDB oracle's naive ``epoch(ts)`` exactly.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        with conf_scope(spark, _NANOS_AS_LONG, "true"):
            df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


@contextmanager
def conf_scope(spark: SparkSession, key: str, value):
    """Set the session conf ``key`` to ``value`` for the body only, then
    restore the previous setting (or unset it).  Typical scopes: the
    ``nanosAsLong`` read in :func:`table` — the conf is captured when the relation
    is defined, so restoring it afterwards doesn't affect this DataFrame
    but keeps later TIMESTAMP(NANOS) reads in the shared session from
    silently degrading to bigint — and a stream's shuffle partitions,
    which must stay set until the query finishes (micro-batch planning
    reads the conf after ``start()`` returns)."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All fixture tables as lazy DataFrames keyed by name."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
