"""Streaming window operators T2–T6 (SURVEY.md §2.9), batch-first.

Each transformation is a pure ``DataFrame → DataFrame`` applied
identically to ``spark.read`` (oracle-checked below) and
``spark.readStream`` inputs (``streaming_tumbling_events`` runs the
*actual stream* through a memory sink and shares the batch oracle —
with ``availableNow`` over a complete input, streaming output ==
batch output).

Scale notes: windowed aggregations shuffle on (window, key) — bounded
state per key; the watermark bounds state retention in continuous
runs.  Session windows merge within the (user) partition only.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.tables import conf_scope, table
from ..operators._helpers import dsum, sql_dsum, sql_materialize, ts_str
from ..operators.dedup import (
    _ACCEPT_SURVIVORS,
    _AGREEMENT_CTES,
    _SHINGLE_SQL,
    _epoch_ctes,
    _hash_cte,
    _keep_first_ctes,
    _signature_ctes,
)
from ..registry import register
from . import core
from .core import run_to_memory, stream_events

# --------------------------------------------------------------------------
# Transformations (shared batch/stream code paths).
# --------------------------------------------------------------------------


def tumbling_hourly(ev: DataFrame) -> DataFrame:
    """T2: 1-hour tumbling window per event_type."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            ts_str("win.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_hourly(ev: DataFrame) -> DataFrame:
    """T3: 1-hour window sliding every 15 minutes."""
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(ts_str("win.start").alias("win_start"), "n", "sum_value")
    )


def sessionized(ev: DataFrame) -> DataFrame:
    """T4: per-user session windows with a 30-minute inactivity gap."""
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            ts_str("win.start").alias("session_start"),
            ts_str("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def watermarked_tumbling(ev: DataFrame) -> DataFrame:
    """T5: tumbling agg under a 10-minute watermark.  In batch mode the
    watermark is a no-op (per Spark semantics); in streaming it bounds
    state and drops late rows."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(ts_str("win.start").alias("win_start"), "n")
    )


def dedup_replays(ev: DataFrame) -> DataFrame:
    """T6: drop replayed events by event_id (within the watermark when
    streaming).  Duplicate rows are identical, so the kept row is
    value-deterministic."""
    return ev.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type", ts_str("ts").alias("ts_s"), "value"
    )


# --------------------------------------------------------------------------
# Oracle-checked batch twins + the real-stream query.
# --------------------------------------------------------------------------

_TUMBLING_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


@register(
    "tumbling_window_agg",
    oracle=_TUMBLING_ORACLE,
    tags=("streaming", "window"),
    doc="T2 batch twin: 1-hour tumbling window counts/sums per event type.",
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_hourly(table(spark, sf_dir, "events"))


@register(
    "streaming_tumbling_events",
    oracle=_TUMBLING_ORACLE,
    tags=("streaming", "window", "real-stream"),
    doc=(
        "T1+T2+T8 real stream: readStream(parquet) → tumbling agg → "
        "availableNow → memory sink; equals the batch result, so it "
        "shares the batch oracle."
    ),
)
def streaming_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Small window×type keyspace → 8 state partitions (see run_to_memory).
    return run_to_memory(
        tumbling_hourly(stream_events(spark, sf_dir)), "complete", shuffle_partitions=8
    )


@register(
    "sliding_window_agg",
    oracle=f"""
WITH e AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS win_start,
         value
  FROM events
  CROSS JOIN (SELECT unnest(range(0, 4)) AS k)
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       COUNT(*) AS n,
       {sql_dsum('value')} AS sum_value
FROM e
GROUP BY 1
""",
    tags=("streaming", "window"),
    doc="T3 batch twin: sliding 1h/15min window — each event in exactly 4 windows.",
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_hourly(table(spark, sf_dir, "events"))


@register(
    "session_window_agg",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM marked
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM numbered
GROUP BY user_id, sess
""",
    tags=("streaming", "window", "session"),
    doc="T4 batch twin: 30-min-gap session windows (oracle = gaps-and-islands SQL).",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionized(table(spark, sf_dir, "events"))


@register(
    "watermark_window_agg",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       COUNT(*) AS n
FROM events
GROUP BY 1
""",
    tags=("streaming", "window", "watermark"),
    doc="T5 batch twin: watermarked tumbling agg (watermark = no-op in batch).",
)
def watermark_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return watermarked_tumbling(table(spark, sf_dir, "events"))


@register(
    "stream_dedup",
    oracle="""
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       value
FROM (
  SELECT * FROM events
  UNION ALL
  SELECT * FROM events
)
GROUP BY ALL
""",
    tags=("streaming", "dedup"),
    doc="T6 batch twin: replayed feed (union with self) deduped by event_id.",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return dedup_replays(ev.unionByName(ev))


@register(
    "stream_dedup_within_watermark",
    oracle="""
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       value
FROM (
  SELECT * FROM events
  UNION ALL
  SELECT * FROM events
)
GROUP BY ALL
""",
    tags=("streaming", "dedup", "real-stream"),
    doc=(
        "T6 real stream, bounded state: replayed feed (two file-stream "
        "sources of the same events) deduped by event_id via "
        "dropDuplicatesWithinWatermark — unlike plain dropDuplicates, "
        "state for an id is dropped once the watermark passes it, so "
        "state size tracks the watermark horizon instead of the full "
        "stream history (the only viable posture on an unbounded feed).  "
        "Replay duplicates carry identical timestamps, so they always "
        "land within the watermark and the result equals exact dedup."
    ),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .core import run_to_memory, stream_events

    replay = stream_events(spark, sf_dir).unionByName(stream_events(spark, sf_dir))
    out = (
        replay.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            ts_str("ts").alias("ts_s"),
            "value",
        )
    )
    return run_to_memory(out, "append", shuffle_partitions=8)


# --------------------------------------------------------------------------
# T2b (round 8): trending top-k — per 1-hour window the top-3 event
# types by count.  The dashboard shape every event pipeline serves.
# Streaming semantics: ranking is not a streaming-supported operator,
# so the STREAM maintains only the mergeable per-(window, type) counts
# (complete mode, bounded keyspace) and the rank is a batch view over
# the sink — exactly how a production trending board is built (the
# stateful agg scales; the rank runs on windows × types rows, not the
# event stream).
# --------------------------------------------------------------------------

_TRENDING_ORACLE = """
SELECT win_start, event_type, n, rnk FROM (
  SELECT win_start, event_type, n,
         ROW_NUMBER() OVER (
           PARTITION BY win_start ORDER BY n DESC, event_type
         ) AS rnk
  FROM (
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
  )
) WHERE rnk <= 3
"""


def _rank_topk_types(counts: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("win_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("win_start", "event_type", "n", "rnk")
    )


@register(
    "trending_topk_batch",
    oracle=_TRENDING_ORACLE,
    tags=("streaming", "window"),
    doc="T2b batch twin: top-3 event types per 1-hour window.",
)
def trending_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = tumbling_hourly(table(spark, sf_dir, "events")).drop("sum_value")
    return _rank_topk_types(counts)


@register(
    "stream_trending_topk",
    oracle=_TRENDING_ORACLE,
    tags=("streaming", "window", "real-stream"),
    doc=(
        "T2b real stream: readStream → per-(hour, type) counts "
        "(complete mode, bounded keyspace) → memory sink; the top-3 "
        "rank is the batch view over the maintained counts, matching "
        "the batch twin's oracle."
    ),
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = run_to_memory(
        tumbling_hourly(stream_events(spark, sf_dir)).drop("sum_value"),
        "complete",
        shuffle_partitions=8,
    )
    return _rank_topk_types(counts)


# --------------------------------------------------------------------------
# T8d (round 9): the streaming MATERIALIZED-VIEW sink through the
# driver gate.  write_stream_rollup_merge maintains a standing
# per-(day, event_type) rollup ACID table epoch by epoch (merge into
# touched days only — history unread).  This query drives the REAL
# stream (3 forced micro-batches), then serves the standing table the
# way a dashboard would (avg derived from the mergeable sum/count
# states).  Oracle = full recompute over events, so the driver's
# value-hash parity is the streaming merge==recompute theorem instance
# (incremental_rollup_merge proves the same identity batch-side).
# --------------------------------------------------------------------------


@register(
    "stream_rollup_matview",
    oracle=f"""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "sink", "acid", "matview", "real-stream"),
    doc=(
        "T8d real stream: readStream (3 micro-batches) → per-epoch "
        "rollup MERGE into a standing ACID matview (touched days only) "
        "→ serve the view; oracle = full recompute."
    ),
)
def stream_rollup_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import current_manifest, read_table
    from .core import write_stream_rollup_merge

    ev = table(spark, sf_dir, "events").select("ts", "event_type", "value")
    tmp = tempfile.mkdtemp(prefix="matview_")
    try:
        src_dir = os.path.join(tmp, "src")
        ev.repartition(3).write.parquet(src_dir)  # 3 files → 3 epochs
        schema = spark.read.parquet(src_dir).schema
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        root = os.path.join(tmp, "t")
        # the per-epoch merge shuffles are sized to the keyspace (~150
        # (day,type) rows) by the gate runner
        _run_gate(spark, lambda ck: write_stream_rollup_merge(sdf, root, checkpoint=ck))
        if len(current_manifest(root)["txids"]) < 2:
            raise RuntimeError("matview stream produced fewer than 2 epochs")
        rows = (
            read_table(spark, root)
            .select("day", "event_type", "n", "sv", "mn", "mx")
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = spark.createDataFrame(
        rows,
        "day string, event_type string, n long, sv decimal(38,6), "
        "mn double, mx double",
    )
    return out.select(
        "day",
        "event_type",
        F.col("n").alias("n_events"),
        F.col("sv").cast("double").alias("sum_value"),
        F.col("mn").alias("min_value"),
        F.col("mx").alias("max_value"),
    )


# --------------------------------------------------------------------------
# T8e (round 9): the ONLINE NEAR-DUP INGEST GATE through the driver
# gate.  write_stream_neardup_gate screens each arriving micro-batch
# against a standing MinHash signature index (broadcast band probe → no
# index shuffle) and within itself (keep-first by doc_id), then appends
# survivors + signatures + a per-epoch ledger exactly-once.  This query
# drives the REAL stream — the documents table split into 3
# deterministic epochs (doc_id % 3, files force-ordered) — and returns
# the ledger.  The oracle replays EVERY decision in plain SQL: same
# shingles, md5-derived hashes, 32 permutations, 8×4 band keys, and the
# ≥16/32 minima-agreement verdict, unrolled over the 3 epochs.
# --------------------------------------------------------------------------


def _neardup_gate_ctes() -> str:
    """The shared SQL-replay core of the ingest-gate oracles: shingles →
    md5 hashes → 32-permutation minima → 8×4 band keys → ≥16/32
    agreement pairs → the per-epoch accept/reject recursion (a0/a1/a2 =
    each epoch's accepted set).  The ledger oracle, the probe-pruning
    audit, and the index-compaction audit all append their own SELECT."""
    return f"""{_SHINGLE_SQL},
{_hash_cte("sh")},
{_signature_ctes("hv")},
{_AGREEMENT_CTES},
{_epoch_ctes("documents")},
{_keep_first_ctes(_ACCEPT_SURVIVORS)}"""


# The per-epoch ledger both gate oracles end with; ``nc1``/``nc2`` hold
# the number of distinct shingles the df cap excluded in epochs 1 and 2
# (epoch 0 has no earlier epochs, so it never excludes one).
_GATE_LEDGER_SELECT = """
SELECT 0 AS epoch,
       (SELECT COUNT(*) FROM e0) AS n_arrived,
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM e0) AS arrived_id_sum,
       CAST(0 AS BIGINT) AS n_capped_shingles,
       CAST(0 AS BIGINT) AS n_rejected_index,
       (SELECT COUNT(*) FROM rb0) AS n_rejected_batch,
       (SELECT COUNT(*) FROM a0) AS n_accepted
UNION ALL
SELECT 1,
       (SELECT COUNT(*) FROM e1),
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM e1),
       (SELECT n FROM nc1),
       (SELECT COUNT(*) FROM ri1),
       (SELECT COUNT(*) FROM rb1),
       (SELECT COUNT(*) FROM a1)
UNION ALL
SELECT 2,
       (SELECT COUNT(*) FROM e2),
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM e2),
       (SELECT n FROM nc2),
       (SELECT COUNT(*) FROM ri2),
       (SELECT COUNT(*) FROM rb2),
       (SELECT COUNT(*) FROM a2)
"""


def _neardup_gate_oracle() -> str:
    return _neardup_gate_ctes() + """,
nc1 AS (SELECT CAST(0 AS BIGINT) AS n),
nc2 AS (SELECT CAST(0 AS BIGINT) AS n)""" + _GATE_LEDGER_SELECT


@register(
    "stream_neardup_ingest",
    oracle=_neardup_gate_oracle(),
    tags=("streaming", "dedup", "llm", "acid", "real-stream"),
    doc=(
        "T8e real stream: 3 ordered micro-batches of documents through "
        "the online near-dup ingest gate (MinHash bands vs standing "
        "ACID index, >=16/32 minima agreement, within-batch keep-first); "
        "returns the per-epoch accept/reject ledger.  Oracle = full SQL "
        "replay of every gate decision."
    ),
)
def stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_neardup_gate(spark, sf_dir)


def _await_gate(q) -> None:
    """Wait for an availableNow gate stream, failing LOUDLY on timeout:
    a truncated run would otherwise surface as a confusing
    epoch-membership guard failure over a partial stats table
    (observed at ov-sf100, where 3 epochs of 1.67M docs exceed the old
    hardcoded 600 s).  ``SPARK_GRAFT_STREAM_TIMEOUT`` (seconds) sizes
    the cap for scaling campaigns; the default keeps fixture runs
    bounded."""
    import os as _os

    timeout_s = int(_os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "600"))
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"gate stream did not finish within {timeout_s}s — raise "
            "SPARK_GRAFT_STREAM_TIMEOUT for large fixtures"
        )


# Every gate drill's epochs are batch-bounded: size their per-epoch
# shuffles (and any stream state) to that, not to the batch-session
# default — the run_to_memory state-partitioning rule.
_GATE_SHUFFLE_PARTITIONS = 8


def _run_gate(spark, start, checkpoint: str | None = None) -> None:
    """The one gate-driving harness: ``start(ckpt)`` builds and starts a
    gate stream on checkpoint ``ckpt``; this pins the gate's shuffle
    partitions until the query finishes, fails loudly on timeout
    (``_await_gate``), and deletes the checkpoint it created once the
    query has stopped.  A caller-owned ``checkpoint`` (a drill resuming
    one stream across runs) is used as is and kept."""
    ckpt = checkpoint or core._ckpt_dir()
    try:
        with conf_scope(
            spark, "spark.sql.shuffle.partitions", _GATE_SHUFFLE_PARTITIONS
        ):
            _await_gate(start(ckpt))
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def _eval_index_split(docs: DataFrame, eval_root: str) -> DataFrame:
    """Commit the standing eval 8-gram index of ``docs``' held-out slice
    (``doc_id % _DECON_MOD == 0``, the ``ngram_decontaminate`` split) to
    ``eval_root`` before a decontaminating stream starts, and return the
    TRAIN slice that streams.  The index is hash-bucketed so the build
    parallelizes; gates read it whole and broadcast it per epoch (an
    eval set is small by construction)."""
    from ..io.acid_table import replace_partitions
    from ..operators.textops import _DECON_MOD, _DECON_N, ngram_array

    is_eval = F.pmod("doc_id", F.lit(_DECON_MOD)) == 0
    ev = (
        docs.filter(is_eval)
        .select(F.explode(ngram_array(F.split("text", " "), _DECON_N)).alias("g"))
        .distinct()
        .withColumn("b", F.pmod(F.xxhash64("g"), F.lit(8)))
    )
    replace_partitions(ev.repartition(F.col("b")), eval_root, ["b"], "eval-build")
    return docs.filter(~is_eval)


def _check_epoch_membership(src: DataFrame, key: str, ledger) -> None:
    """Loud determinism guard: every epoch must have seen EXACTLY the
    ``key % 3`` group of ``src`` (file-order violations would silently
    flip gate decisions — fail here, not at the oracle).  ``ledger``
    rows start (epoch, n_arrived, arrived_id_sum, ...)."""
    want = {
        int(r["e"]): (r["n"], int(r["ids"] or 0))
        for r in src.groupBy(F.pmod(key, F.lit(3)).alias("e"))
        .agg(F.count("*").alias("n"), F.sum(key).alias("ids"))
        .collect()
    }
    got = {e: (n, ids) for e, n, ids, *_ in ledger}
    if got != want:
        raise RuntimeError(
            f"epoch membership drifted from the {key}%3 split: {got} != {want}"
        )


def _ordered_epoch_stream(spark, df, tmp, n_epochs: int = 3, key: str = "doc_id",
                          copy_from: str | None = None):
    """Deterministic epoch split (``{key} % n_epochs``) of ``df`` as a
    file-source stream under ``tmp``: one file per epoch, arrival order
    forced BOTH ways the file source may sort pending files (name asc,
    mtime asc), one micro-batch per file.  ``copy_from`` names another
    tmp whose ``src`` files were ALREADY derived from the same ``df``
    with the same split — a replay run copies those bytes instead of
    re-running the n_epochs filter+coalesce jobs (the split is
    deterministic, so the rows are identical by construction)."""
    import os
    import shutil
    import time as _time

    src_dir = os.path.join(tmp, "src")
    os.makedirs(src_dir)
    now = _time.time()
    for e in range(n_epochs):
        dst = os.path.join(src_dir, f"e{e}.parquet")
        if copy_from is not None:
            shutil.copy(os.path.join(copy_from, "src", f"e{e}.parquet"), dst)
        else:
            part_dir = os.path.join(tmp, f"part{e}")
            df.filter(
                F.pmod(key, F.lit(n_epochs)) == e
            ).coalesce(1).write.parquet(part_dir)
            src_file = next(
                os.path.join(part_dir, f)
                for f in os.listdir(part_dir)
                if f.endswith(".parquet")
            )
            shutil.move(src_file, dst)
        os.utime(dst, (now + 30 * e, now + 30 * e))
    schema = spark.read.parquet(src_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def _run_neardup_gate(
    spark: SparkSession,
    sf_dir: str,
    df_cap: int | None = None,
    audit: str | None = None,
    compact_every: int | None = None,
    df_mode: str = "exact",
) -> DataFrame:
    """Shared harness for the gate queries: 3 deterministically ordered
    epochs of the documents table through the real stream, returning the
    per-epoch ledger (with the epoch-membership guard).

    ``audit`` switches the return value to a maintenance ledger instead:

    - ``"probe"`` — replay the EPOCH-2 index probe's file-pruning
      decisions against the bands table as it stood before epoch 2
      (the exact snapshot version and the exact ``band_range_hits``
      decision function the gate itself used), one row per index file;
    - ``"compact"`` — the signature index's per-version (n_dirs,
      n_rows) history across the 3 epoch appends and the scheduled
      mid-stream compaction (requires ``compact_every``).
    """
    import os
    import shutil
    import tempfile

    from ..io.acid_table import read_table
    from .core import write_stream_neardup_gate

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # df_buckets is a physical knob (like shuffle partitions): size it to
    # the corpus vocabulary so each bucket slice stays file-sized — 8 at
    # fixture scale, growing with the corpus (semantics are unaffected;
    # the oracle never sees the layout).  One bounded count sizes it.
    df_buckets = (
        max(8, min(1024, docs.count() // 6250))
        if df_cap and df_mode == "exact"
        else 8
    )
    tmp = tempfile.mkdtemp(prefix="ndgate_")
    try:
        sdf = _ordered_epoch_stream(spark, docs, tmp)
        roots = {n: os.path.join(tmp, n) for n in ("sigs", "docs", "stats", "dfs")}
        _run_gate(spark, lambda ck: write_stream_neardup_gate(
            sdf, roots["sigs"], roots["docs"], roots["stats"],
            df_cap=df_cap, df_root=roots["dfs"] if df_cap else None,
            checkpoint=ck, df_buckets=df_buckets,
            compact_every=compact_every, df_mode=df_mode,
        ))
        stats = [
            (int(r["epoch"]), r["n_arrived"], r["arrived_id_sum"],
             r["n_capped_shingles"], r["n_rejected_index"],
             r["n_rejected_batch"], r["n_accepted"])
            for r in read_table(spark, roots["stats"]).collect()
        ]
        _check_epoch_membership(docs, "doc_id", stats)
        if audit == "probe":
            # scratch dir is deleted in finally: checkpoint the audit rows
            return _neardup_probe_audit(
                spark, docs, roots["sigs"] + "_bands"
            ).localCheckpoint()
        if audit == "compact":
            return _neardup_compaction_audit(
                spark, roots["sigs"]
            ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        stats,
        "epoch int, n_arrived long, arrived_id_sum long, "
        "n_capped_shingles long, n_rejected_index long, "
        "n_rejected_batch long, n_accepted long",
    )


def _neardup_gate_capped_oracle(cap: int, mode: str = "exact") -> str:
    """Full replay of the DF-CAPPED gate: signatures are epoch-specific —
    a shingle whose document frequency over STRICTLY EARLIER epochs
    (arrived docs, accepted or not) exceeds ``cap`` is excluded from the
    current epoch's signatures, exactly as the standing df matview does
    it on the Spark side.  Each doc still gets ONE signature (from its
    own ingest epoch), so the pair/agreement/acceptance chain is
    unchanged once ``sig`` is built per-epoch.

    ``mode="cms"`` replays the COUNT-MIN variant instead: the exclusion
    set per epoch is the batch shingles whose min-over-d-rows sketch
    estimate (cells summed over ALL strictly-earlier arrived docs, the
    exact md5-bucket construction the Spark side uses) exceeds the cap
    — the one-sided sketch can only exclude MORE than exact df."""
    from .core import _GATE_CMS_D, _GATE_CMS_W

    def bsql(j: int, col: str) -> str:
        return (f"(('0x' || substring(md5('{j}|' || CAST({col} AS VARCHAR)),"
                f" 1, 8))::BIGINT % {_GATE_CMS_W})")

    if mode == "exact":
        excl_ctes = f"""df1 AS (
  SELECT h, COUNT(DISTINCT hv.doc_id) AS df
  FROM hv JOIN e0 ON e0.doc_id = hv.doc_id GROUP BY h
),
df2 AS (
  SELECT h, COUNT(DISTINCT hv.doc_id) AS df
  FROM hv JOIN (SELECT doc_id FROM e0 UNION SELECT doc_id FROM e1) u
       ON u.doc_id = hv.doc_id
  GROUP BY h
),
x1 AS (SELECT h FROM df1 WHERE df > {cap}),
x2 AS (SELECT h FROM df2 WHERE df > {cap})"""
    else:
        def probes(src: str) -> str:
            return " UNION ALL ".join(
                f"SELECT h, {j} AS j, {bsql(j, 'h')} AS bucket FROM {src}"
                for j in range(_GATE_CMS_D)
            )

        def cells(src: str) -> str:
            return " UNION ALL ".join(
                f"SELECT {j} AS j, {bsql(j, 'h')} AS bucket, c FROM {src}"
                for j in range(_GATE_CMS_D)
            )

        excl_ctes = f"""hc1 AS (
  SELECT h, COUNT(DISTINCT hv.doc_id) AS c
  FROM hv JOIN e0 ON e0.doc_id = hv.doc_id GROUP BY h
),
cms1 AS (
  SELECT j, bucket, SUM(c) AS cnt FROM ({cells('hc1')}) GROUP BY j, bucket
),
hc2 AS (
  SELECT h, COUNT(DISTINCT hv.doc_id) AS c
  FROM hv JOIN (SELECT doc_id FROM e0 UNION SELECT doc_id FROM e1) u
       ON u.doc_id = hv.doc_id
  GROUP BY h
),
cms2 AS (
  SELECT j, bucket, SUM(c) AS cnt FROM ({cells('hc2')}) GROUP BY j, bucket
),
b1 AS (SELECT DISTINCT h FROM hv JOIN e1 ON e1.doc_id = hv.doc_id),
b2 AS (SELECT DISTINCT h FROM hv JOIN e2 ON e2.doc_id = hv.doc_id),
x1 AS (
  SELECT h FROM (
    SELECT p.h, COALESCE(c1.cnt, 0) AS cnt
    FROM ({probes('b1')}) p
    LEFT JOIN cms1 c1 ON c1.j = p.j AND c1.bucket = p.bucket
  ) GROUP BY h HAVING MIN(cnt) > {cap}
),
x2 AS (
  SELECT h FROM (
    SELECT p.h, COALESCE(c2.cnt, 0) AS cnt
    FROM ({probes('b2')}) p
    LEFT JOIN cms2 c2 ON c2.j = p.j AND c2.bucket = p.bucket
  ) GROUP BY h HAVING MIN(cnt) > {cap}
)"""

    sql = f"""{_SHINGLE_SQL},
{_hash_cte("sh")},
{_epoch_ctes("documents")},
{excl_ctes},
hv0 AS (SELECT hv.doc_id, h FROM hv JOIN e0 ON e0.doc_id = hv.doc_id),
hv1 AS (
  SELECT hv.doc_id, h FROM hv JOIN e1 ON e1.doc_id = hv.doc_id
  WHERE h NOT IN (SELECT h FROM x1)
),
hv2 AS (
  SELECT hv.doc_id, h FROM hv JOIN e2 ON e2.doc_id = hv.doc_id
  WHERE h NOT IN (SELECT h FROM x2)
),
hvu AS (
  SELECT * FROM hv0 UNION ALL SELECT * FROM hv1 UNION ALL SELECT * FROM hv2
),
{_signature_ctes("hvu")},
{_AGREEMENT_CTES},
{_keep_first_ctes(_ACCEPT_SURVIVORS)},
nc1 AS (
  SELECT COUNT(DISTINCT hv.h) AS n FROM hv JOIN e1 ON e1.doc_id = hv.doc_id
  WHERE hv.h IN (SELECT h FROM x1)
),
nc2 AS (
  SELECT COUNT(DISTINCT hv.h) AS n FROM hv JOIN e2 ON e2.doc_id = hv.doc_id
  WHERE hv.h IN (SELECT h FROM x2)
)""" + _GATE_LEDGER_SELECT
    if mode != "exact":
        # The CMS exclusion subtree is deep; DuckDB inlines single-use
        # CTEs, and ``sig``/``hvu``/``hv1`` are each referenced several
        # times downstream — without materialization every reference
        # re-derives the whole shingle->sketch->exclusion chain and the
        # oracle goes combinatorial (measured: >550 s vs 0.2 s for the
        # pieces).  Same fix as the bpe_learn_iterative oracle.
        sql = sql_materialize(sql, ("hv", "x1", "x2", "sig", "m2"))
    return sql


@register(
    "stream_neardup_ingest_capped",
    oracle=_neardup_gate_capped_oracle(3),
    tags=("streaming", "dedup", "llm", "acid", "real-stream"),
    doc=(
        "T8e with EVOLVING boilerplate suppression — the EXACT-df "
        "variant for BOUNDED vocabularies: the gate maintains a standing "
        "shingle document-frequency matview (hash-bucketed mergeable "
        "counts, bucket layout persisted as table metadata, "
        "replace-merged per epoch under the same txid); shingles past "
        "df>3 over earlier epochs are excluded from signatures before "
        "banding.  Its per-epoch merge is Theta(vocab) (measured decade "
        "exponent 0.93 — any non-trivial batch touches every bucket), "
        "so at open-vocabulary 100 TB scale use "
        "stream_neardup_ingest_cms (fixed-size sketch state, measured "
        "0.55) instead.  Oracle = full SQL replay including the "
        "per-epoch exclusion sets."
    ),
)
def stream_neardup_ingest_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_neardup_gate(spark, sf_dir, df_cap=3)


def _neardup_probe_audit(spark, docs, bands_root) -> DataFrame:
    """Replay the EPOCH-2 probe's file-pruning decisions: for every file
    of the bands index as it stood before epoch 2 (the same
    ``version_before_txid`` snapshot the gate read), the footer
    ``band_key`` range, the row count, and the gate's would-read verdict
    under the REAL decision function (``band_range_hits``) against the
    REAL epoch-2 batch key set.  One row per index file; the layout
    guarantees exactly one file per (band index, source epoch) because
    each epoch's append hash-repartitions on ``bj`` before the
    partitioned write.  Driver-side state is bounded: 8 × batch docs
    keys + ≤ 16 file entries."""
    from ..io.acid_table import _dirs, manifest_at
    from ..operators.dedup import band_key_array, minhash_signatures
    from .core import EpochTxn, band_range_hits

    bands_v = EpochTxn(spark, 2).pinned_version(bands_root)
    man = manifest_at(bands_root, bands_v)
    sig2 = minhash_signatures(
        docs.filter(F.pmod("doc_id", F.lit(3)) == 2).select("doc_id", "text")
    )
    batch_keys = sorted(
        r["band_key"]
        for r in sig2.select(F.explode(band_key_array()).alias("band_key"))
        .distinct()
        .collect()
    )
    hit = band_range_hits(batch_keys)("band_key")
    rows = []
    for val in man["partitions"].values():
        for rel in _dirs(val):
            # rel = "_staging/epoch-N/bj=J"
            seg = rel.split("/")
            src_epoch = int(seg[1].split("-", 1)[1])
            bj = int(seg[2].split("=", 1)[1])
            files = man["dir_files"][rel]
            if len(files) != 1:
                raise RuntimeError(
                    f"expected one bands file per (bj, epoch) dir, {rel} has "
                    f"{len(files)} — the audit's file↔SQL-group mapping broke"
                )
            f = files[0]
            st = {c: tuple(v) for c, v in f.get("stats", {}).items()}
            if "band_key" not in st:
                raise RuntimeError(
                    f"no band_key footer stats for {rel}/{f['path']} — the "
                    "pruning the audit certifies is not active"
                )
            rows.append(
                (bj, src_epoch, int(f["rows"]), st["band_key"][0],
                 st["band_key"][1], bool(hit(st)))
            )
    return spark.createDataFrame(
        rows,
        "bj int, src_epoch int, n_keys long, min_key string, "
        "max_key string, was_read boolean",
    )


def _neardup_compaction_audit(spark, sig_root) -> DataFrame:
    """The signature index's commit history across the gate run with
    mid-stream maintenance: per version, total staging dirs and the
    time-travel row count.  Exactly 4 versions by construction (3 epoch
    appends + the scheduled compaction after epoch 1) — fail loudly if
    the schedule drifted."""
    from ..io.acid_table import read_table, table_history

    hist = table_history(spark, sig_root).select("version", "n_dirs")
    versions = sorted(r["version"] for r in hist.collect())
    if versions != [1, 2, 3, 4]:
        raise RuntimeError(
            f"expected 4 sig-index versions (3 appends + 1 compaction), "
            f"got {versions}"
        )
    counts = spark.createDataFrame(
        [
            (v, read_table(spark, sig_root, version=v).count())
            for v in (1, 2, 3, 4)
        ],
        "version int, n_rows long",
    )
    return hist.join(counts, "version").select(
        "version",
        F.col("n_dirs").cast("bigint").alias("n_dirs"),
        "n_rows",
    )


# --------------------------------------------------------------------------
# T8f (round 10): the gate's index probe is only allowed to READ files
# whose band_key footer range can collide with the batch — this audit
# drives the real 3-epoch stream, then replays the epoch-2 pruning
# decision per index file through the gate's own decision function
# against the gate's own snapshot, and the oracle recomputes every
# column from the raw fixture: each (band, epoch) file's key range and
# count from the accepted sets, and was_read = ∃ epoch-2 batch key in
# [min, max].  Range-vs-existence parity holds because the files are
# SORTED by band_key at write, so footer min/max are exact row values.
# --------------------------------------------------------------------------


@register(
    "stream_neardup_probe_prune_audit",
    oracle=_neardup_gate_ctes() + """,
k2 AS (
  SELECT DISTINCT b.band_key FROM bands b JOIN e2 ON e2.doc_id = b.doc_id
),
idx AS (
  SELECT b.doc_id, b.band_key,
         CAST(string_split(b.band_key, '_')[1] AS INT) AS bj,
         CAST(b.doc_id % 3 AS INT) AS src_epoch
  FROM bands b
  WHERE b.doc_id IN (SELECT doc_id FROM a0 UNION SELECT doc_id FROM a1)
),
g AS (
  SELECT bj, src_epoch, COUNT(*) AS n_keys,
         MIN(band_key) AS min_key, MAX(band_key) AS max_key
  FROM idx GROUP BY bj, src_epoch
)
SELECT bj, src_epoch, n_keys, min_key, max_key,
       EXISTS (SELECT 1 FROM k2
               WHERE k2.band_key BETWEEN g.min_key AND g.max_key) AS was_read
FROM g
""",
    tags=("streaming", "dedup", "llm", "acid", "scan", "real-stream"),
    doc=(
        "T8f: file-level band-key pruning of the ingest gate's standing "
        "index — per (band, epoch) index file, the footer key range, row "
        "count, and the probe's prune-before-list decision for the "
        "epoch-2 batch, each recomputed from the fixture in SQL."
    ),
)
def stream_neardup_probe_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_neardup_gate(spark, sf_dir, audit="probe")


# --------------------------------------------------------------------------
# T8g (round 10): scheduled index maintenance inside the gate — with
# compact_every=2 the signature index's per-epoch append dirs are
# collapsed (re-sorted by doc_id) after epoch 1, under a snapshot-
# guarded maintenance txid.  The audit is the table's commit history:
# dirs accumulate (v1, v2), compaction collapses them without changing
# a row (v3), the next epoch appends on top (v4).  The oracle
# recomputes the whole ledger from the accepted sets: rows = accepted
# docs with ≥3 words (those carry signatures), dirs = doc_id%8 buckets
# touched per epoch, collapsed to distinct buckets at the compaction.
# --------------------------------------------------------------------------


@register(
    "stream_neardup_index_compaction_audit",
    oracle=_neardup_gate_ctes() + """,
ix0 AS (
  SELECT doc_id, doc_id % 8 AS sb FROM a0
  WHERE doc_id IN (SELECT doc_id FROM w)
),
ix1 AS (
  SELECT doc_id, doc_id % 8 AS sb FROM a1
  WHERE doc_id IN (SELECT doc_id FROM w)
),
ix2 AS (
  SELECT doc_id, doc_id % 8 AS sb FROM a2
  WHERE doc_id IN (SELECT doc_id FROM w)
)
SELECT 1 AS version,
       (SELECT COUNT(DISTINCT sb) FROM ix0) AS n_dirs,
       (SELECT COUNT(*) FROM ix0) AS n_rows
UNION ALL
SELECT 2,
       (SELECT COUNT(DISTINCT sb) FROM ix0) + (SELECT COUNT(DISTINCT sb) FROM ix1),
       (SELECT COUNT(*) FROM ix0) + (SELECT COUNT(*) FROM ix1)
UNION ALL
SELECT 3,
       (SELECT COUNT(DISTINCT sb)
        FROM (SELECT sb FROM ix0 UNION SELECT sb FROM ix1)),
       (SELECT COUNT(*) FROM ix0) + (SELECT COUNT(*) FROM ix1)
UNION ALL
SELECT 4,
       (SELECT COUNT(DISTINCT sb)
        FROM (SELECT sb FROM ix0 UNION SELECT sb FROM ix1))
         + (SELECT COUNT(DISTINCT sb) FROM ix2),
       (SELECT COUNT(*) FROM ix0) + (SELECT COUNT(*) FROM ix1)
         + (SELECT COUNT(*) FROM ix2)
""",
    tags=("streaming", "dedup", "llm", "acid", "lakehouse", "real-stream"),
    doc=(
        "T8g: scheduled small-file maintenance of the gate's signature "
        "index — per version, the staging-dir count and time-travel row "
        "count across 3 epoch appends and the mid-stream compaction "
        "(same rows, one dir per touched id bucket)."
    ),
)
def stream_neardup_index_compaction_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _run_neardup_gate(spark, sf_dir, audit="compact", compact_every=2)


# --------------------------------------------------------------------------
# T8h (round 10): the ONLINE DECONTAMINATION GATE through the driver
# gate — the L10 hygiene face of what T8e is to L2 near-dup.  The
# held-out slice's 8-gram index (doc_id % 97 == 0, the same split as
# ngram_decontaminate) is materialized ONCE into a standing ACID table;
# the TRAIN docs then arrive as a real 3-epoch stream and every batch
# is screened map-side against the broadcast index: any shared 8-gram
# quarantines the doc at ingest.  The oracle replays every decision
# (grams, eval membership, per-epoch ledger) from the raw fixture.
# --------------------------------------------------------------------------


def _decontam_gate_oracle() -> str:
    from ..operators.textops import _DECON_MOD, _sql_eval_probe

    return f"""
WITH t AS (
  SELECT doc_id, doc_id % {_DECON_MOD} = 0 AS is_eval,
         string_split(text, ' ') AS ws
  FROM documents
),
{_sql_eval_probe("t WHERE is_eval", "t WHERE NOT is_eval")},
tr AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS e FROM t WHERE NOT is_eval
)
SELECT e AS epoch,
       COUNT(*) AS n_arrived,
       CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS arrived_id_sum,
       COUNT(c.doc_id) AS n_contaminated,
       COUNT(*) - COUNT(c.doc_id) AS n_accepted
FROM tr LEFT JOIN contam c USING (doc_id)
GROUP BY e
"""


@register(
    "stream_decontaminate_ingest",
    oracle=_decontam_gate_oracle(),
    tags=("streaming", "decontamination", "llm", "acid", "real-stream"),
    doc=(
        "T8h real stream: 3 ordered micro-batches of training documents "
        "through the online decontamination gate (broadcast eval 8-gram "
        "index, contaminated docs quarantined, survivors + ledger "
        "appended exactly-once); returns the per-epoch ledger.  Oracle "
        "= full SQL replay of every gate decision."
    ),
)
def stream_decontaminate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import read_table
    from .core import write_stream_decontam_gate

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="dcgate_")
    try:
        roots = {
            n: os.path.join(tmp, n)
            for n in ("eval", "docs", "stats", "quarantine")
        }
        train = _eval_index_split(docs, roots["eval"])
        sdf = _ordered_epoch_stream(spark, train, tmp)
        _run_gate(spark, lambda ck: write_stream_decontam_gate(
            sdf, roots["eval"], roots["docs"], roots["stats"],
            quarantine_root=roots["quarantine"], checkpoint=ck,
        ))
        stats = [
            (int(r["epoch"]), r["n_arrived"], r["arrived_id_sum"],
             r["n_contaminated"], r["n_accepted"])
            for r in read_table(spark, roots["stats"]).collect()
        ]
        # Loud determinism guards: epoch membership must match the
        # doc_id % 3 split of the TRAIN slice, and the standing tables
        # must reconcile with the ledger (docs + quarantine == arrived).
        _check_epoch_membership(train, "doc_id", stats)
        n_acc = read_table(spark, roots["docs"]).count()
        try:
            n_quar = read_table(spark, roots["quarantine"]).count()
        except ValueError:
            n_quar = 0
        if n_acc + n_quar != sum(n for _, n, _, _, _ in stats):
            raise RuntimeError(
                f"docs({n_acc}) + quarantine({n_quar}) != arrived — "
                "the gate lost or duplicated rows"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        stats,
        "epoch int, n_arrived long, arrived_id_sum long, "
        "n_contaminated long, n_accepted long",
    )


@register(
    "stream_neardup_ingest_cms",
    oracle=_neardup_gate_capped_oracle(3, mode="cms"),
    tags=("streaming", "dedup", "llm", "acid", "sketch", "real-stream"),
    doc=(
        "T8e with SKETCHED boilerplate suppression — the 100 TB df "
        "variant: the standing df state is a count-min sketch (4x65536 "
        "md5-bucket counters, <=262k rows at ANY vocabulary), so the "
        "per-epoch exclusion probe and merge cost O(sketch + batch), "
        "independent of corpus vocabulary; estimates are one-sided so "
        "the df>3 cap can only fire earlier than the exact matview.  "
        "Oracle = full SQL replay including the sketch itself."
    ),
)
def stream_neardup_ingest_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_neardup_gate(spark, sf_dir, df_cap=3, df_mode="cms")
