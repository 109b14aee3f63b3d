"""File-format sources beyond parquet (SURVEY.md §2.1 S3 extension).

The reference's only file exchange is JSON-over-HTTP
(``/root/reference/dags/my_data_pipeline.py:34-38``); a complete engine
also reads the landed-file forms.  ``csv_json_roundtrip`` proves the
CSV and JSON readers/writers are lossless against the parquet truth:
a sample is written to BOTH formats, read back under explicit schemas,
and every row must appear exactly twice in the union — any formatting
drift (double round-trip, quoting, null encoding) breaks the count and
the oracle hash.

Scale posture: format choice changes the scan operator only — writes
are partition-parallel, reads split per file; schemas are explicit
(inference is a dev convenience the engine does not rely on, SURVEY.md
§1.3).  Doubles survive because Spark writes round-trip-safe shortest
reprs (Java ``Double.toString``).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io.tables import table
from ..operators._helpers import ts_str
from ..registry import register

_RT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts_s", T.StringType()),
    ]
)


@register(
    "csv_json_roundtrip",
    oracle="""
SELECT event_id, user_id, event_type, value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(2 AS BIGINT) AS n_copies
FROM events
WHERE event_id < 2000
""",
    tags=("source", "csv", "json"),
    doc=(
        "S3 formats: write a sample to CSV and JSON, read both back under "
        "explicit schemas; every row must appear exactly twice (lossless "
        "round-trip proven against the parquet truth)."
    ),
)
def csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    sample = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "user_id", "event_type", "value", ts_str("ts").alias("ts_s"))
    )
    out = tempfile.mkdtemp(prefix="fmt_rt_")
    try:
        csv_dir, json_dir = os.path.join(out, "csv"), os.path.join(out, "json")
        sample.write.mode("overwrite").option("header", "true").csv(csv_dir)
        sample.write.mode("overwrite").json(json_dir)
        csv = spark.read.schema(_RT_SCHEMA).option("header", "true").csv(csv_dir)
        js = spark.read.schema(_RT_SCHEMA).json(json_dir)
        # computed before the finally deletes the files it reads
        return (
            csv.unionByName(js)
            .groupBy("event_id", "user_id", "event_type", "value", "ts_s")
            .agg(F.count("*").alias("n_copies"))
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


# --------------------------------------------------------------------------
# CSV robustness: malformed rows must surface in the corrupt-record
# column under PERMISSIVE mode, never kill the job — the file-format
# twin of json_malformed_robustness (status-code branching parity,
# /root/reference/dags/my_data_pipeline.py:37-48).
# --------------------------------------------------------------------------

_CSV_LINES = [
    "1,alpha,10",
    "2,beta,not_a_number",  # type error → corrupt
    "3,gamma,30",
    "4,delta",  # missing column → corrupt
]

_CSV_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("qty", T.LongType()),
        T.StructField("_corrupt", T.StringType()),
    ]
)


@register(
    "csv_malformed_robustness",
    oracle="""
SELECT CAST(id AS BIGINT) AS id, name, CAST(qty AS BIGINT) AS qty, is_corrupt
FROM (VALUES
  (1, 'alpha', 10, FALSE),
  (2, 'beta', CAST(NULL AS INTEGER), TRUE),
  (3, 'gamma', 30, FALSE),
  (4, 'delta', CAST(NULL AS INTEGER), TRUE)
) AS t(id, name, qty, is_corrupt)
""",
    tags=("source", "csv", "robustness"),
    doc=(
        "S3 edge: malformed CSV rows (bad type, missing column) land in the "
        "PERMISSIVE corrupt-record column; valid fields of bad rows survive."
    ),
)
def csv_malformed_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(prefix="csv_bad_")
    try:
        with open(os.path.join(out, "rows.csv"), "w") as f:
            f.write("\n".join(_CSV_LINES) + "\n")
        df = (
            spark.read.schema(_CSV_SCHEMA)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(out)
        )
        return df.select(
            "id", "name", "qty", F.col("_corrupt").isNotNull().alias("is_corrupt")
        ).localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)


# --------------------------------------------------------------------------
# ORC: the other columnar format large estates actually hold (Hive
# heritage).  Written and read back under the explicit schema; the read
# result itself is the query output, so the oracle (parquet truth) proves
# the ORC write/read path is lossless — and ORC scans split/push down
# exactly like parquet, so the scale posture is unchanged.
# --------------------------------------------------------------------------


@register(
    "orc_roundtrip",
    oracle="""
SELECT event_id, user_id, event_type, value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
WHERE event_id < 2000
""",
    tags=("source", "orc"),
    doc="S3 formats: ORC write + schema-explicit read is lossless vs the parquet truth.",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    sample = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "user_id", "event_type", "value", ts_str("ts").alias("ts_s"))
    )
    out = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        sample.write.mode("overwrite").orc(out)
        return spark.read.schema(_RT_SCHEMA).orc(out).localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)


# --------------------------------------------------------------------------
# Partition-pruned read: write a sample partitioned by event_type, read
# back with a partition filter.  At 100 TB, partition pruning is the
# first and biggest scan reducer — this makes it a driver-checked fact,
# not just a plan-shape test: the pruned read must equal the oracle's
# filtered scan exactly.
# --------------------------------------------------------------------------


@register(
    "partition_pruned_read",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
WHERE event_id < 5000 AND event_type IN ('purchase', 'signup')
""",
    tags=("source", "parquet", "scale"),
    doc=(
        "Partitioned parquet write (partitionBy event_type) + pruned read: "
        "the IN filter on the partition column selects whole directories "
        "(PartitionFilters in the scan, non-matching partitions never "
        "opened)."
    ),
)
def partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    sample = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .select("event_id", "user_id", "event_type", "value")
    )
    out = tempfile.mkdtemp(prefix="part_prune_")
    try:
        sample.write.partitionBy("event_type").mode("overwrite").parquet(out)
        # Schema and partitions discovered from the files: the reader's
        # partition discovery is what this query exercises.
        back = spark.read.parquet(out)
        return back.filter(F.col("event_type").isin("purchase", "signup")).select(
            "event_id", "user_id", "event_type", F.col("value").cast("double").alias("value")
        ).localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)


# --------------------------------------------------------------------------
# Bucketed co-located join, driver-checked.  The 100 TB fact-fact join
# answer: both tables pre-bucketed on the join key → sort-merge join with
# ZERO Exchange (tests/test_scale.py asserts the plan; this query makes
# the RESULT an oracle-checked fact).
# --------------------------------------------------------------------------


@register(
    "bucketed_join_revenue",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey < 5000
GROUP BY o_orderstatus
""",
    tags=("join", "scale", "bucketing"),
    doc=(
        "Fact-fact join through bucketed managed tables (8 buckets on the "
        "order key, sortBy the same): the sort-merge join reads both sides "
        "pre-partitioned and pre-sorted, no Exchange in the plan."
    ),
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.scale import write_bucketed

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000).select(
        "o_orderkey", "o_orderstatus"
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 5000).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed(o, "bjr_orders", ["o_orderkey"], 8)
    write_bucketed(li, "bjr_lineitem", ["l_orderkey"], 8)
    ob = spark.table("bjr_orders")
    lb = spark.table("bjr_lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # MERGE hint: at fixture scale Catalyst would broadcast the small side
    # and never touch the bucket layout; forcing sort-merge exercises the
    # exchange-free path the layout exists for (what a 100 TB plan does
    # unhinted).
    return (
        ob.join(lb.hint("merge"), ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(rev.cast("decimal(38,6)")).cast("double").alias("revenue"),
        )
    )
