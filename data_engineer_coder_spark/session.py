"""SparkSession bootstrap for the engine.

The reference runs a single sequential Python process (see SURVEY.md §4.1,
``/root/reference/dags/my_data_pipeline.py:78,155``); here the execution
substrate is Spark.  Local mode is for tests/bench only — every config
below is chosen so the same plans scale to a multi-executor cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join split,
  broadcast demotion/promotion) — mandatory at 100 TB.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the static number a ceiling, not a target.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled: every pandas interchange (pandas UDFs, toPandas) is
  vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data_engineer_coder_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` (core count for local master),
    ``SPARK_GRAFT_DRIVER_MEM`` (local-mode heap).
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    shuffle_partitions = int(shuffle_partitions or max(int(cpus), 8))
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    # Scratch space (shuffle files, broadcast spill) on tmpfs when
    # available: this host's block device exhibits multi-minute IO
    # stalls that block otherwise-idle JVM stages.  On a real cluster
    # this is the local-SSD spark.local.dir, not RAM.  Spark ignores
    # spark.local.dir when SPARK_LOCAL_DIRS is set, so then the dir is
    # not made and the conf not set.
    local_dir = (
        "/dev/shm/spark-local"
        if os.path.isdir("/dev/shm") and not os.environ.get("SPARK_LOCAL_DIRS")
        else None
    )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan-split sizing: the 128 MB default is tuned for clusters
        # where a scan stage has thousands of splits anyway; on a
        # 32-core single node it hands a 500 MB CPU-heavy scan (filter
        # + broadcast join + partial agg all run inside the scan stage)
        # to a handful of tasks and idles the rest — same-session A/B on
        # the ov-sf10 exact BM25 serve: 29.9 s at 128m, 16.7 s at 16m,
        # 15.5 s at 8m (diminishing), so 16m.  On a real cluster raise
        # it back via the env override.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
    )
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    # Codegen JIT hygiene: the default 240m code cache fills across many
    # codegen-heavy queries in one JVM, after which generated aggregates
    # run INTERPRETED (observed: a decimal-sum stage at 100×, minutes
    # instead of seconds).  Reserve a big cache and let HotSpot flush.
    # (Do NOT lower spark.sql.codegen.hugeMethodLimit: forcing the
    # non-codegen fallback made the same aggregates deterministically
    # ~60× slower.)
    # -XX:-DontCompileHugeMethods: wide aggregate stacks (15 decimal aggs
    # in summary_stats) generate >8000-bytecode methods that HotSpot
    # otherwise refuses to JIT — measured 3.8s → 1.5s on summary_stats
    # at sf0.1.
    builder = builder.config(
        "spark.driver.extraJavaOptions",
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
        "-XX:-DontCompileHugeMethods",
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
