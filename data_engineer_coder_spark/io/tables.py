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

No read infers a schema twice.  A ``spark.read.parquet`` without a
schema runs a one-task Spark job that opens a footer — tens of
milliseconds of fixed cost per read, a large share of a small query.
:func:`fixture_schema` keeps a process-level map from a fixture's
identity to the ``StructType`` Spark inferred on its first read, and
every later read passes that schema.  The identity is the absolute
path, inode, size and ``st_mtime_ns`` of each leaf file (one for the
single-file layout, every file under a directory layout) plus the
``nanosAsLong`` scope the read ran in, so a rewritten fixture is
inferred again and a nanos-as-long schema never serves a plain read.
"""

from __future__ import annotations

import os
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
    if name != "events":
        return _scan(spark, path, nanos_as_long=False)
    df = _scan(spark, path, nanos_as_long=True)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# (leaf file identities, nanosAsLong) → the schema Spark inferred.
_SCHEMAS: dict[tuple, StructType] = {}


def _identity(path: str) -> tuple | None:
    """(abspath, inode, size, mtime_ns) of every leaf file under ``path``,
    or None when it does not exist (Spark then reports the missing path)."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(d, f) for d, _, names in os.walk(path) for f in names
        )
    elif os.path.exists(path):
        files = [path]
    else:
        return None
    out = []
    for f in files:
        st = os.stat(f)
        out.append((os.path.abspath(f), st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(out)


def fixture_schema(spark: SparkSession, path: str, nanos_as_long: bool = False) -> StructType:
    """The schema of the fixture at ``path``: inferred by Spark (one job)
    on the first read of this file identity and conf scope, served from
    the cache after that.  Batch scans and stream sources are given it."""
    key = (_identity(path), nanos_as_long)
    schema = _SCHEMAS.get(key)
    if schema is None:
        with _scope(spark, nanos_as_long):
            schema = spark.read.parquet(path).schema
        if key[0] is not None:
            _SCHEMAS[key] = schema
    return schema


def _scope(spark: SparkSession, nanos_as_long: bool):
    return conf_scope(spark, _NANOS_AS_LONG, "true") if nanos_as_long else nullcontext()


def _scan(spark: SparkSession, path: str, nanos_as_long: bool) -> DataFrame:
    """Parquet scan of ``path`` with its cached schema.  A ``nanos_as_long``
    relation is defined inside the conf scope, which it captures."""
    schema = fixture_schema(spark, path, nanos_as_long)
    with _scope(spark, nanos_as_long):
        return spark.read.schema(schema).parquet(path)


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
