"""Shared helpers for oracle-parity query authoring.

Float determinism (SURVEY.md §7 watch list #1): double sums are
accumulation-order-dependent, so Spark and DuckDB can differ in the last
ULP — and *any* decimal rounding of a near-boundary value then diverges.
The fix is to make the aggregate bit-identical in both engines:

- fixture money/measure columns are true 2dp decimals (products of two
  such are ≤4dp, with tax ≤6dp), so ``CAST(x AS DECIMAL(38,6))`` loses
  nothing and is deterministic per-row;
- ``SUM`` over DECIMAL is exact in both Spark and DuckDB;
- the final ``CAST(... AS DOUBLE)`` maps the identical decimal to the
  identical double, bit-for-bit.  Derived ops (division by count,
  ROUND for display) then agree exactly.

Raw passthrough columns are never rounded — they are already identical
bits from the same parquet.

Temporal outputs are formatted to strings in both engines so python-side
timestamp representations can't diverge.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def _c(col: Column | str) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def dsum(col: Column | str) -> Column:
    """Exact decimal sum, emitted as a (deterministic) double."""
    return F.sum(_c(col).cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Deterministic average: exact-decimal sum / non-null count."""
    c = _c(col)
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).cast("double")


def sql_dsum(expr: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE) / COUNT({expr}) AS DOUBLE)"


def shuffle_parts(df_or_spark) -> int:
    """Cluster-proportional partition count for explicit repartitions.

    The hot text/dedup/similarity ops repartition BEFORE heavy per-row
    array work because a single-file scan otherwise pins the whole stage
    to one task, and AQE sizes post-shuffle stages from *pre*-explode
    byte counts, coalescing the parallelism away.  A literal 32 was right
    for this local[32] host but undersizes a 1000-executor cluster, so
    derive the count from ``sparkContext.defaultParallelism`` (total
    scheduler cores on a real cluster) — overridable through
    ``config.EngineConfig.shuffle_partitions`` (sizing rule there).
    """
    from ..config import get_config

    cfg = get_config()
    if cfg.shuffle_partitions is not None:
        return cfg.shuffle_partitions
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return max(
        int(spark.sparkContext.defaultParallelism), cfg.min_shuffle_partitions
    )


def with_global_pos(df, order_cols, pos_name: str = "pos", num_partitions: int = 32):
    """Attach a 1-based global rank column without a single-partition window.

    Scale-safe global ranking: range-partition on the sort key (contiguous
    key ranges per partition), ``row_number`` locally, then add per-partition
    row-count offsets (an aggregate of ≤ ``num_partitions`` rows, broadcast
    back).  Equal keys split across a range boundary get an arbitrary but
    valid order among themselves — callers needing a total order must pass a
    unique tiebreaker in ``order_cols``.
    """
    from pyspark.sql import Window

    parts = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = parts.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols))
    )
    # CRITICAL: `local` is referenced twice below (ranked rows + offsets).
    # Without a shared physical lineage each branch plans its OWN
    # repartitionByRange, whose range boundaries come from a fresh random
    # sample — the two `_pid` spaces then disagree and the offsets join
    # silently corrupts ranks.  Exchange reuse happens to save simple
    # scan-shaped inputs, but provably fails once the input subtree
    # contains joins (observed: chained with_global_pos calls returned
    # different ranks per run).  A lazy localCheckpoint pins both
    # branches to one materialized partitioning; shuffle files make
    # eviction-recomputation read the same boundaries.
    local = local.localCheckpoint(eager=False)
    offsets = (
        local.groupBy("_pid")
        .agg(F.count("*").alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(pos_name, F.col("_rn") + F.col("_off"))
        .drop("_pid", "_rn", "_off")
    )


def day_str(col: Column | str) -> Column:
    """Timestamp → 'yyyy-MM-dd' string (matches DuckDB strftime('%Y-%m-%d'))."""
    return F.date_format(_c(col), "yyyy-MM-dd")


def ts_str(col: Column | str) -> Column:
    """Timestamp → 'yyyy-MM-dd HH:mm:ss' string (DuckDB strftime('%Y-%m-%d %H:%M:%S'))."""
    return F.date_format(_c(col), "yyyy-MM-dd HH:mm:ss")


def md5_bucket(col: Column | str) -> Column:
    """0-255 bucket from the first two hex chars of md5(CAST(x AS string)).

    The engine's one split/sample gate (train_test_split,
    cluster_aware_split, quality gates): deterministic, repartition- and
    engine-independent.  SQL twin: :func:`sql_md5_bucket`.
    """
    return F.conv(F.substring(F.md5(_c(col).cast("string")), 1, 2), 16, 10).cast("int")


def sql_md5_bucket(expr: str) -> str:
    """DuckDB twin of :func:`md5_bucket`."""
    return f"('0x' || substring(md5(CAST(({expr}) AS VARCHAR)), 1, 2))::INT"


def md5_bucket16(col: Column | str) -> Column:
    """0-65535 bucket from the first FOUR hex chars of md5(CAST(x AS
    string)) — the PHYSICAL-LAYOUT hash for corpus-scaled bucketed
    tables (BM25 token buckets, ANN cell buckets).

    :func:`md5_bucket`'s 8 bits are part of the sampling/split gates'
    contract (fractions of 256) but cap any hash layout at 256 distinct
    buckets — at the ov-sf100 4096-bucket layout the upper 3840 dirs
    stayed empty and every real bucket held 16x its target (measured,
    BASELINE.md eleventh campaign).  16 bits cover the 4096-bucket
    clamp with headroom.  SQL twin: :func:`sql_md5_bucket16`.
    """
    return F.conv(F.substring(F.md5(_c(col).cast("string")), 1, 4), 16, 10).cast("int")


def sql_md5_bucket16(expr: str) -> str:
    """DuckDB twin of :func:`md5_bucket16`."""
    return f"('0x' || substring(md5(CAST(({expr}) AS VARCHAR)), 1, 4))::INT"


def sql_materialize(sql: str, ctes) -> str:
    """Mark each named CTE ``AS MATERIALIZED`` (its first ``<name> AS (``).

    DuckDB inlines a CTE at every reference, so an oracle whose heavy
    CTEs are referenced many times downstream re-derives them per
    reference and can go combinatorial; materializing them evaluates
    each once."""
    for cte in ctes:
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    return sql
