"""Structured Streaming plumbing (SURVEY.md §2.9 T1/T8).

The reference's "stream" is a daily Airflow re-ingest of the same feed
(``/root/reference/dags/airflow_dag.py:27``, ``catchup=False`` ``:29``).
Structured Streaming generalizes it: ``readStream`` over a landing
directory with ``trigger(availableNow=True)`` IS the daily batch run,
and the same code keeps working at second-level latency.

Batch-first design: every transformation in ``windows.py``/``stateful.py``
is a pure ``DataFrame → DataFrame`` — callers pass either
``spark.read`` or ``spark.readStream`` input, Catalyst plans both.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import acid_table as at
from ..io import layout
from ..io.tables import _NANOS_AS_LONG, conf_scope, fixture_schema
from ..operators._helpers import md5_bucket16, shuffle_parts


def _ckpt_dir() -> str:
    """Checkpoint scratch: tmpfs when available (state-store commits do
    synchronous IO per micro-batch; this host's block device exhibits
    multi-minute stalls — same rationale as session.py spark.local.dir).
    Production streams point this at durable storage instead."""
    base = "/dev/shm/spark-ckpt" if os.path.isdir("/dev/shm") else None
    if base:
        os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="ckpt_", dir=base)


def _stream_parquet(spark: SparkSession, sf_dir: str, fname: str, schema) -> DataFrame:
    """File-stream source over ``sf_dir/fname``, robust to BOTH fixture
    layouts (ADVICE r5): a single top-level parquet file (the driver's
    testdata) and a directory of part files (what ``df.write.parquet``
    produces).  The old ``pathGlobFilter=fname`` approach matched only
    file NAMES, so a directory layout silently streamed zero rows."""
    path = os.path.join(sf_dir, fname)
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    # single-file layout: the file source wants a directory, so stream the
    # parent with a glob pinned to this one file
    return (
        spark.readStream.schema(schema).option("pathGlobFilter", fname).parquet(sf_dir)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events table (micro-batch parquet source).

    Mirrors ``io.tables.table``'s TIMESTAMP(NANOS) handling: the stream
    reader needs an explicit schema, so we take the raw (nanos-as-long)
    schema from the fixture schema cache and convert ts to a real
    timestamp.
    """
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = fixture_schema(spark, path, nanos_as_long=True)
    with conf_scope(spark, _NANOS_AS_LONG, "true"):
        sdf = _stream_parquet(spark, sf_dir, "events.parquet", raw_schema)
    ts_type = dict((f.name, f.dataType.simpleString()) for f in raw_schema.fields).get("ts")
    if ts_type == "bigint":
        sdf = sdf.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # Watermarks/event-time require TIMESTAMP_LTZ; session tz is UTC so
        # this cast is value-preserving (same normalization as io.tables).
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink; return the sink contents as a batch DataFrame.

    ``shuffle_partitions`` sizes the STATE partitioning for this query
    (captured at stream planning, then restored): every stateful operator
    instantiates one state store per shuffle partition per micro-batch,
    a fixed cost that dwarfs the work when partitions far outnumber the
    keyspace/throughput (measured on the attribution join: 32 partitions
    7.4s → 8 partitions 2.5s at sf0.1).  Production sizing rule: pick
    partitions for peak state volume, not the batch-session default —
    it is baked into the checkpoint and cannot change across restarts.

    The memory sink is a test/driver harness: production sinks are
    ``foreachBatch`` → JDBC (S4 twin) or files (T8).
    """
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = _ckpt_dir()
    spark = sdf.sparkSession
    scope = (
        nullcontext() if shuffle_partitions is None
        else conf_scope(spark, "spark.sql.shuffle.partitions", shuffle_partitions)
    )
    try:
        # The scope closes only after the query finished (or timed out):
        # micro-batch planning is asynchronous and reads the conf after
        # start() returns.
        with scope:
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            finished = q.awaitTermination(timeout_s)
        if not finished:
            # Timed out: reading the sink now would silently return a
            # partial (or empty) mid-stream snapshot. Stop the query and
            # fail loudly.
            q.stop()
            err = q.exception()
            raise TimeoutError(
                f"streaming query {name!r} did not finish within {timeout_s}s"
                + (f"; underlying error: {err}" if err else "")
            )
    finally:
        # the sink rows live in driver memory; the stopped query's
        # checkpoint is dead weight on tmpfs
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def write_foreach_batch(
    sdf: DataFrame,
    batch_fn,
    checkpoint: str | None = None,
    output_mode: str = "update",
):
    """T8: ``foreachBatch`` streaming sink — each micro-batch DataFrame is
    handed to ``batch_fn(df, epoch_id)`` (e.g. a JDBC append, matching
    the reference's per-run table load, my_data_pipeline.py:163-176).

    ``output_mode``: 'update' for keyed upsert sinks, 'complete' for
    full-rewrite sinks, 'append' only for non-aggregated or watermarked
    plans (Spark rejects append on unwatermarked aggregations).
    """
    ckpt = checkpoint or _ckpt_dir()
    return (
        sdf.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


class EpochTxn:
    """One micro-batch's exactly-once transaction over the ACID tables an
    ACID stream sink writes — the one place the epoch's commit rules
    live.

    ``foreachBatch`` is at-least-once: after a crash between the batch
    function and the checkpoint commit, Spark replays the epoch.  Every
    commit therefore carries the epoch's txid (``epoch-N``), which each
    table's manifest records, so a replayed commit is a no-op on every
    table at once.  Every standing-table READ is pinned to the last
    version committed before that txid (``version_before_txid`` — the
    live head on the normal path), so a replay sees the exact pre-epoch
    snapshot and its decisions and ledger bytes repeat (ADVICE r9).  The
    one-row ledgers commit LAST: a ledger is the epoch's audit and
    serving-pin anchor (``latest_consistent_version``), so the first
    ledger closes the transaction and a later table commit raises.

    Commits go through ``acid_table``/``layout`` looked up at call time,
    so fault-injection tests can patch them by name."""

    def __init__(self, spark: SparkSession, epoch_id: int):
        self.spark = spark
        self.epoch_id = int(epoch_id)
        self.txid = f"epoch-{self.epoch_id}"
        self._closed = False

    def with_epoch(self, df: DataFrame) -> DataFrame:
        """``df`` tagged with this epoch's ``epoch`` column."""
        return df.withColumn("epoch", F.lit(self.epoch_id))

    def pinned_version(self, root: str) -> int:
        return at.version_before_txid(root, self.txid)

    def read(self, root: str, partition_filter=None, stats_filter=None):
        """``root`` as it stood before this epoch, or None when the pinned
        version (after the manifest and footer filters) selects nothing."""
        try:
            return at.read_table(
                self.spark, root, partition_filter=partition_filter,
                version=self.pinned_version(root), stats_filter=stats_filter,
            )
        except ValueError:
            return None

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError(f"{self.txid}: table commit after the epoch ledger")

    def append(self, df: DataFrame, root: str, partition_cols: list[str]) -> None:
        self._check_open()
        at.append_partitions(df, root, partition_cols, self.txid)

    def append_aligned(
        self, df: DataFrame, root: str, bucket_cols: list[str], sort_cols: list[str]
    ) -> None:
        """Bucket-aligned append (``align_epoch_append``): one staged file
        per TOUCHED bucket per epoch, not one per (task × bucket) — the
        difference between Θ(buckets) and Θ(tasks · buckets) small files
        per epoch at corpus-scaled layouts."""
        self.append(
            layout.align_epoch_append(
                df, bucket_cols, sort_cols, shuffle_parts(self.spark)
            ),
            root, bucket_cols,
        )

    def replace(
        self, df: DataFrame, root: str, partition_cols: list[str], drop_parts=None
    ) -> None:
        self._check_open()
        at.replace_partitions(
            df, root, partition_cols, self.txid, drop_parts=drop_parts
        )

    def ledger(self, root: str, schema: str, *values: int) -> None:
        """Commit the one-row ledger ``(epoch, *values)`` (``schema``
        names the value columns) and close the transaction to table
        commits.  The row is already collected, so it commits
        driver-side (``append_rows``): same manifest/txid protocol, no
        Spark job (guide §1.2 — the per-epoch job count is the
        audit-tier floor)."""
        self._closed = True
        at.append_rows(
            self.spark, [(self.epoch_id, *map(int, values))],
            "epoch int, " + schema, root, ["epoch"], self.txid,
        )


def _acid_sink(sdf: DataFrame, body, checkpoint: str | None = None):
    """Run ``body(df, txn)`` on every micro-batch, with ``txn`` the
    batch's :class:`EpochTxn` — the one driver of every ACID stream
    sink."""
    return write_foreach_batch(
        sdf,
        lambda df, epoch_id: body(df, EpochTxn(df.sparkSession, epoch_id)),
        checkpoint=checkpoint,
        output_mode="append",
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents table (micro-batch parquet
    source).  No temporal columns, so unlike :func:`stream_events` no
    type normalization is needed — just the explicit schema the file
    source requires.  The fixture is one parquet file, and the file
    source processes whole files, so an ``availableNow`` run sees the
    table as a single deterministic micro-batch."""
    schema = fixture_schema(spark, os.path.join(sf_dir, "documents.parquet"))
    return _stream_parquet(spark, sf_dir, "documents.parquet", schema)


def write_stream_exactly_once(
    sdf: DataFrame,
    root: str,
    partition_cols: list[str],
    checkpoint: str | None = None,
):
    """T8b (round 7): EXACTLY-ONCE streaming parquet sink.

    ``foreachBatch`` is at-least-once — after a crash between the batch
    function and the checkpoint commit, Spark replays the epoch and a
    plain parquet append duplicates it (the streaming version of the
    reference's rerun-append bug, ``my_data_pipeline.py:106-115``).
    Routing each micro-batch through the ACID table's
    ``append_partitions`` with ``txid = epoch id`` closes the gap: the
    manifest's committed-txid set makes the replayed epoch a no-op, so
    the sink is exactly-once end-to-end with nothing but parquet +
    atomic rename underneath (tests/test_streaming.py replays an epoch
    to prove it).  APPEND semantics matter here: each epoch's staging
    dir is ADDED to the partition's directory list, so epoch N+1
    touching a partition value epoch N also wrote (the normal case —
    e.g. ``lang=en`` rows arrive every epoch) accumulates instead of
    silently replacing the earlier epochs' rows
    (tests/test_streaming.py runs a 2-epoch stream to prove it).
    """
    return _acid_sink(
        sdf, lambda df, txn: txn.append(df, root, partition_cols), checkpoint
    )


def write_stream_with_quarantine(
    sdf: DataFrame,
    rules,
    good_root: str,
    quarantine_root: str,
    partition_cols: list[str],
    checkpoint: str | None = None,
):
    """T8c (round 7): streaming DQ gate — each micro-batch is split by a
    rule predicate (dict name → boolean Column over the batch schema);
    rows passing EVERY rule commit to the good table, failures land in
    the quarantine table tagged with the names of the rules they broke.
    Both sides go through the ACID table's APPEND path with the epoch
    id as txid, so the split is exactly-once across any number of
    micro-batches and a replayed epoch cannot double-count either side
    — the production "bad rows must not poison the table, but must not
    vanish either" contract.
    """

    def _epoch(df: DataFrame, txn: EpochTxn) -> None:
        flagged = df.withColumn(
            "_failed",
            F.array_compact(
                F.array(
                    *[
                        F.when(~cond, F.lit(name)).otherwise(F.lit(None))
                        for name, cond in rules.items()
                    ]
                )
            ),
        )
        good = flagged.filter(F.size("_failed") == 0).drop("_failed")
        bad = flagged.filter(F.size("_failed") > 0).withColumn(
            "failed_rules", F.array_join("_failed", ",")
        ).drop("_failed")
        txn.append(good, good_root, partition_cols)
        txn.append(bad, quarantine_root, partition_cols)

    return _acid_sink(sdf, _epoch, checkpoint)


def write_stream_rollup_merge(
    sdf: DataFrame,
    root: str,
    checkpoint: str | None = None,
):
    """T8d (round 8): streaming MATERIALIZED-VIEW maintenance.

    Each micro-batch merges into a standing per-(day, event_type)
    rollup table instead of appending raw rows — the continuous
    aggregate a 100 TB events pipeline serves dashboards from.  The
    stored state is MERGEABLE (counts, exact DECIMAL sums, min/max; the
    same states ``incremental_rollup_merge`` proves equal a full
    recompute), so each epoch:

    1. partial-aggregates the batch by (day, event_type);
    2. reads the standing rollup rows for ONLY the days the batch
       touched (manifest partition pruning — history stays unread),
       pinned to the version before the epoch's txid;
    3. unions + re-aggregates (decimal sums: order-free, exact);
    4. ``replace_partitions`` of those days with txid = epoch id —
       exactly-once under replay, atomic under crash, like every other
       ACID sink here.

    Per-epoch cost is O(batch + touched-day rollup rows), independent
    of table history — the difference between a dashboard that rescans
    a year per hour and one that merges a few hundred rows.
    """
    DEC = "decimal(38,6)"

    def _partial(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count("*").alias("n"),
            F.count("value").alias("n_val"),
            F.sum(F.col("value").cast(DEC)).alias("sv"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    def _epoch(df: DataFrame, txn: EpochTxn) -> None:
        batch = _partial(
            df.select(
                F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type", "value"
            )
        )
        days = [r["day"] for r in batch.select("day").distinct().collect()]
        if not days:
            return
        merged = batch
        standing = txn.read(root, partition_filter=lambda kv: kv.get("day") in days)
        if standing is not None:  # None: no standing rows for these days yet
            merged = batch.unionByName(
                standing.select("day", "event_type", "n", "n_val", "sv", "mn", "mx")
                .withColumn("sv", F.col("sv").cast(DEC))
            )
        merged = merged.groupBy("day", "event_type").agg(
            F.sum("n").alias("n"),
            F.sum("n_val").alias("n_val"),
            F.sum("sv").alias("sv"),  # decimal: exact, order-free
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        txn.replace(merged, root, ["day"])

    return _acid_sink(sdf, _epoch, checkpoint)


def stream_progress_report(spark, query) -> DataFrame:
    """T-obs (round 8): a StreamingQuery's recentProgress as a DataFrame
    — per micro-batch input rows, processing rate, batch duration, and
    the event-time watermark, i.e. the numbers an on-call engineer
    graphs first (is the stream keeping up?  is the watermark
    advancing?).  Pure driver-side metadata (Spark keeps the last ~100
    progress objects); no executor work.
    """
    import json

    rows = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        rows.append(
            (
                int(d.get("batchId", -1)),
                int(d.get("numInputRows", 0) or 0),
                float(d.get("processedRowsPerSecond", 0.0) or 0.0),
                int((d.get("durationMs") or {}).get("triggerExecution", 0) or 0),
                (d.get("eventTime") or {}).get("watermark"),
                d.get("timestamp"),
            )
        )
    return spark.createDataFrame(
        rows,
        "batch_id long, input_rows long, rows_per_sec double, "
        "trigger_ms long, watermark string, batch_ts string",
    )


# Count-min sketch shape for the ingest gate's CMS df mode: d seeded
# rows × w cells.  w is sized so fixture-scale vocabularies (~30k
# shingles) see near-exact estimates; at corpus scale the guarantee is
# the usual one-sided ε = e/w overcount on a FIXED-size state.  The
# md5-derived bucket construction mirrors countmin_token_freq
# (operators/aggregates.py) so the oracle replays it verbatim.
_GATE_CMS_D = 4
_GATE_CMS_W = 65536


def _gate_cms_bucket(j: int, h) -> "F.Column":
    """Row-j count-min bucket of a shingle-hash Column (BIGINT rendered
    as its decimal string, so DuckDB's ``CAST(h AS VARCHAR)`` replays
    it)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{j}|"), h.cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("bigint"),
        F.lit(_GATE_CMS_W),
    )


def band_range_hits(sorted_vals):
    """``stats_filter`` factory shared by the ingest gate's index probe
    and its driver-gated pruning audit: a file is kept iff its [min,max]
    footer range contains ANY of ``sorted_vals`` (bisect — the
    driver-side test is O(log n) per file against a batch-bounded sorted
    list).  Lifted to module level so the audit query replays the EXACT
    decision function the gate runs, not a reimplementation."""
    from bisect import bisect_left

    def flt(col):
        def check(stats: dict) -> bool:
            s = stats.get(col, (None, None))
            if s[0] is None or s[1] is None:
                return True  # no usable stats: must read
            i = bisect_left(sorted_vals, s[0])
            return i < len(sorted_vals) and sorted_vals[i] <= s[1]

        return check

    return flt


def _capped_range_hits(vals: list, col: str, cap: int):
    """``band_range_hits`` over ``vals`` on ``col`` — or None (read every
    file) past ``cap``: the bound on the probe's driver-side key list is
    ENFORCED, and the unpruned fallback decides identically, it only
    reads more files."""
    return None if len(vals) > cap else band_range_hits(sorted(vals))(col)


def _neardup_screen(
    txn: EpochTxn,
    sig: DataFrame,
    sig_root: str,
    bands_root: str,
    min_agree: int,
    prune_key_cap: int,
):
    """The near-dup DECISION CORE shared by the T8e ingest gate and the
    r11 curation gate: given this batch's MinHash signatures, probe the
    standing bands/signature index (footer-range pruned reads, capped
    driver-side key lists with unpruned fallback, reads pinned to the
    pre-epoch snapshot versions) and screen within the batch (keep-first
    by doc_id).  Returns ``(bands, rej_index, rej_batch)`` — ``bands``
    is the batch's exploded band-key frame (the caller appends the
    accepted subset to the index), ``rej_index`` is None when the index
    is empty, and ``rej_batch`` already excludes index-rejected docs so
    the two ledger counts partition the rejected set."""
    from ..operators.dedup import _K, band_key_array

    mcols = [f"m{j}" for j in range(_K)]

    def _agree(a: str, b: str):
        # number of matching minima between two aliased wide sig frames
        s = None
        for c in mcols:
            term = (F.col(f"{a}.{c}") == F.col(f"{b}.{c}")).cast("int")
            s = term if s is None else s + term
        return s

    bands = sig.select("doc_id", F.explode(band_key_array()).alias("band_key"))

    key_hits = []

    def batch_key_hit(stats: dict) -> bool:
        # The batch band-key set (≤ 8 × batch docs, a driver-side sorted
        # list for the per-file bisect) is collected when the pinned
        # read tests its first index file, so an empty index costs no
        # job.  ONE bounded job instead of count-then-collect:
        # limit(cap+1) returns every key when the batch is under the cap
        # and cap+1 rows (→ unpruned fallback, the identical decision)
        # when it is not — driver memory stays bounded either way
        # (guide §2.4).
        if not key_hits:
            rows = bands.select("band_key").distinct().limit(prune_key_cap + 1).collect()
            key_hits.append(
                _capped_range_hits([r["band_key"] for r in rows], "band_key", prune_key_cap)
            )
        return key_hits[0] is None or key_hits[0](stats)

    rej_index = None
    idx_bands = txn.read(bands_root, stats_filter=batch_key_hit)
    # None: the index is empty, or every index file was pruned — no
    # collisions either way
    if idx_bands is not None:
        # broadcast the (small) batch side: surviving index files
        # are scanned once, map-side — never shuffled or broadcast
        cand_i = (
            idx_bands.select(F.col("doc_id").alias("idx_id"), "band_key")
            .join(F.broadcast(bands), "band_key")
            # defense in depth: the pinned reads already exclude this
            # epoch's own replayed signatures
            .where(F.col("idx_id") != F.col("doc_id"))
            .select("doc_id", "idx_id")
            .distinct()
            # tiny pair list (LSH collisions only), referenced
            # below for the id set AND the verify join
            .localCheckpoint()
        )
        cand_rows = (
            cand_i.select("idx_id").distinct().limit(prune_key_cap + 1).collect()
        )
        if cand_rows:
            # second pruned read: only sig files whose doc_id footer
            # range contains a candidate id are opened — same enforced
            # cap + unpruned fallback as above, fused into one bounded
            # job like the key probe
            index_sig = txn.read(
                sig_root,
                stats_filter=_capped_range_hits(
                    [r["idx_id"] for r in cand_rows], "doc_id", prune_key_cap
                ),
            ).select("doc_id", *mcols)
            rej_index = (
                cand_i.join(sig.alias("a"), "doc_id")
                .join(
                    index_sig.alias("b"),
                    F.col("idx_id") == F.col("b.doc_id"),
                )
                .where(_agree("a", "b") >= F.lit(min_agree))
                .select("a.doc_id")
                .distinct()
                # tiny id list, referenced 3× (count, anti-join,
                # union): materialize once
                .localCheckpoint()
            )

    cand_b = (
        bands.alias("x")
        .join(F.broadcast(bands.alias("y")), "band_key")
        .where(F.col("x.doc_id") > F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("prior_id"))
        .distinct()
    )
    rej_batch = (
        cand_b.join(sig.alias("a"), "doc_id")
        .join(sig.alias("b"), F.col("prior_id") == F.col("b.doc_id"))
        .where(_agree("a", "b") >= F.lit(min_agree))
        .select("a.doc_id")
        .distinct()
        .localCheckpoint()
    )
    if rej_index is not None:
        rej_batch = rej_batch.join(rej_index, "doc_id", "left_anti")
    return bands, rej_index, rej_batch


def _append_neardup_index(
    acc_sig: DataFrame,
    sig_root: str,
    bands_root: str,
    txid: str,
    index_file_rows: int | None = None,
):
    """Append accepted docs' signatures + band keys to the standing
    index tables under ``txid`` — the layout (id-bucketed signature
    files sorted by doc_id; band-partitioned key files sorted by
    band_key) is exactly what the pruned probe depends on.  Shared by
    the T8e gate and the r11 curation gate."""
    from ..operators.dedup import band_key_array

    # signatures: partitioned by an id bucket (NOT epoch — so
    # multi-epoch appends accumulate per partition and compaction has
    # something to collapse), files sorted by doc_id for the
    # candidate-id pruned verify read
    at.append_partitions(
        acc_sig.withColumn("sb", F.pmod("doc_id", F.lit(8)))
        .repartition(F.col("sb"))
        .sortWithinPartitions("doc_id"),
        sig_root,
        ["sb"],
        txid,
    )
    # band-key index: partitioned by band index, files sorted by
    # band_key so footer ranges drive the probe's file pruning
    acc_bands = (
        acc_sig.select(
            "doc_id", F.explode(band_key_array()).alias("band_key")
        )
        .withColumn("bj", F.split("band_key", "_").getItem(0).cast("int"))
    )
    if index_file_rows:
        # fine-grained index files: range-split on (bj, band_key) so
        # each file's footer covers a NARROW key subrange.  This is
        # what makes the probe's file pruning bite in the production
        # regime (batch ≪ index): files hit ≤ batch keys, regardless
        # of how many files the index has grown to.  One extra count
        # per epoch (bounded driver state) sizes the split.
        nf = max(1, -(-acc_bands.count() // index_file_rows))
        staged_bands = acc_bands.repartitionByRange(
            nf, F.col("bj"), F.col("band_key")
        ).sortWithinPartitions("bj", "band_key")
    else:
        # one file per (band, epoch): right when batches are a
        # meaningful fraction of the corpus (bulk loads, fixtures)
        staged_bands = acc_bands.repartition(
            F.col("bj")
        ).sortWithinPartitions("band_key")
    at.append_partitions(staged_bands, bands_root, ["bj"], txid)


def _epoch_stats(
    batch: DataFrame, counts: dict, sums: dict | None = None
) -> dict[str, tuple[int, int]]:
    """ONE stats job for all of an epoch's single-row aggregates, as
    ``{key: (n, v)}``: ``"arr"`` is the batch's arrival checksum (rows,
    doc_id sum), each ``counts`` frame contributes its row count as
    ``(n, 0)`` (None frames are skipped), and each ``sums`` entry
    ``key: (frame, col)`` its column sum as ``(0, v)`` — or, when
    ``col`` is an aggregate Column (e.g. a ``countDistinct``), that
    aggregate's value.  Entries over the same frame share one aggregate,
    so each frame is scanned and shuffled once.  Every input but the
    batch is a materialized localCheckpoint in the gates, so fusing
    them into one unioned collect keeps the compute the same and pays
    the per-job fixed scheduling/commit overhead once instead of once
    per number (guide §1.2)."""
    zero = F.lit(0).cast("long")
    cells: dict[int, tuple[DataFrame, list]] = {}

    def add(df_: DataFrame, k: str, n, v) -> None:
        cells.setdefault(id(df_), (df_, []))[1].append(
            F.struct(F.lit(k).alias("k"), n.alias("n"), v.cast("long").alias("v"))
        )

    add(batch, "arr", F.count("*"), F.coalesce(F.sum("doc_id"), F.lit(0)))
    for k, df_ in counts.items():
        if df_ is not None:
            add(df_, k, F.count("*"), zero)
    for k, (df_, col) in (sums or {}).items():
        add(df_, k, zero,
            F.coalesce(F.sum(col), F.lit(0)) if isinstance(col, str) else col)
    stat = None
    for df_, row in cells.values():
        part = (
            df_.agg(F.array(*row).alias("s"))
            .select(F.explode("s").alias("s"))
            .select("s.*")
        )
        stat = part if stat is None else stat.unionByName(part)
    return {r["k"]: (int(r["n"]), int(r["v"])) for r in stat.collect()}


def _contaminated_ids(spark, docs: DataFrame, eval_root: str) -> DataFrame:
    """The decontamination probe shared by the T8h and curation gates:
    ``docs``' word 8-grams (``ngram_array`` — the exact construction the
    batch report and its oracle use) semi-joined against the
    ``broadcast()`` standing eval index, so the batch never shuffles.
    Returns the distinct contaminated doc ids — a tiny id list each
    gate references several times (count, split, quarantine, verdicts),
    so it is materialized and the batch grams are built once."""
    from ..operators.textops import _DECON_N, ngram_array

    ev = at.read_table(spark, eval_root).select("g")
    occ = docs.select(
        "doc_id",
        F.explode(ngram_array(F.split("text", " "), _DECON_N)).alias("g"),
    )
    return (
        occ.join(F.broadcast(ev), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .localCheckpoint()
    )


def write_stream_neardup_gate(
    sdf: DataFrame,
    sig_root: str,
    docs_root: str,
    stats_root: str,
    min_agree: int = 16,
    df_cap: int | None = None,
    df_root: str | None = None,
    checkpoint: str | None = None,
    bands_root: str | None = None,
    df_buckets: int = 64,
    compact_every: int | None = None,
    index_file_rows: int | None = None,
    df_mode: str = "exact",
    prune_key_cap: int = 100_000,
):
    """T8e (round 9, index-pruned round 10): ONLINE NEAR-DUP INGEST GATE —
    the streaming face of ``minhash_lsh_neardup``.

    A 100 TB corpus is not deduplicated once; it is INGESTED
    continuously, and every arriving batch must be screened against
    everything already accepted.  Each micro-batch of ``(doc_id, text)``
    rows:

    1. computes MinHash signatures (``operators/dedup.py:
       minhash_signatures`` — same 32-perm family, shingles, and
       md5-derived hash as the batch path, so decisions are replayable
       in plain SQL);
    2. probes the STANDING index with FILE-LEVEL BAND-KEY PRUNING: the
       accepted docs' 8×4 LSH band keys live in a standing BANDS table
       (``bands_root``, partitioned by band index, files SORTED by
       band_key so their parquet footer min/max ranges are tight).  The
       batch's own band-key set — bounded by 8 × batch size — is
       collected and bisected against each index file's footer range
       (``read_table(stats_filter=...)``): only files whose key range
       can collide with the batch are ever read.  Per-epoch probe cost
       is therefore ∝ colliding files, NOT ∝ index size.  Surviving
       files join against the ``broadcast()`` batch side (index never
       shuffled), and candidate pairs are verified by signature
       agreement (``≥ min_agree`` of 32 matching minima ≈ Jaccard ≥
       1/2) against a SECOND pruned read: the signatures table
       (files sorted by doc_id) is stats-filtered down to just the
       files containing candidate ids.  Pruning power is a function of
       FILE GRANULARITY: with one file per (band, epoch) — the default,
       right for bulk loads where the batch is a meaningful fraction of
       the corpus — every file spans its band's whole key range and the
       probe reads them all.  ``index_file_rows`` switches the index
       writes to range-split files of ≈ that many rows (the 128 MB-file
       shape at cluster scale): each file then covers a narrow key
       subrange, and a small batch's probe opens at most ~|batch keys|
       files NO MATTER how many files the index has accumulated — the
       continuous-ingestion regime (batch ≪ corpus) where per-epoch
       probe cost stops tracking index size (measured: see BASELINE.md
       round-10 probe-pruning table);
    3. screens WITHIN the batch the same way (keep-first by doc_id: a
       doc is rejected if it matches any smaller-id doc of the same
       batch — the greedy rule; like cluster-keep-first it can
       transitively over-reject through an already-rejected middle doc,
       which is the documented trade for a recursion-free decision);
    4. appends the survivors' rows to the docs table, their signatures
       + band keys to the index tables, and a one-row (arrived /
       rejected-vs-index / rejected-within-batch / accepted) ledger to
       the stats table, LAST — all through the epoch transaction
       (``EpochTxn``) with txid = epoch id, so a replayed epoch is a
       no-op on every table (exactly-once).  Every standing-table READ is pinned to the last
       version committed BEFORE this txid (``version_before_txid``), so
       a crash-replay sees the exact pre-epoch snapshot and the
       accept/reject decisions AND the ledger's index-vs-batch split
       replay byte-identically (ADVICE r9).

    Docs with <3 words have no shingles, hence no signature: they are
    accepted unconditionally (nothing to match) and add no index rows.

    ``compact_every`` schedules INDEX MAINTENANCE: every N epochs the
    sig and bands tables' multi-epoch append dirs are compacted
    (``compact_partitions`` under a ``maintenance-epoch-N`` txid,
    snapshot-guarded so a compaction racing an epoch commit aborts
    cleanly) with ``sort_by`` restoring the doc_id/band_key file order
    the pruning depends on.  Without it a year of micro-batches is one
    file per epoch per partition — the manifest grows and pruning-miss
    reads multiply (BASELINE.md's lakehouse table: 30 epochs = 27×).

    ``df_cap`` (with ``df_root``) turns on EVOLVING boilerplate
    suppression: a standing shingle document-frequency matview —
    mergeable counts maintained like ``write_stream_rollup_merge``,
    hash-partitioned into ``df_buckets`` buckets on the shingle hash —
    records how many ARRIVED docs each shingle has appeared in; a
    shingle whose standing df (from strictly earlier epochs) exceeds
    the cap is excluded from this batch's signatures, so template
    headers/footers stop dominating bands as the corpus grows.  Round
    10 bounds BOTH halves of its per-epoch cost:

    - the merge reads and rewrites ONLY the buckets containing batch
      shingles (manifest-level pruning + ``replace_partitions`` of the
      touched buckets) — cost ∝ touched_buckets × (vocab / df_buckets)
      + batch, not ∝ total vocabulary; ``df_buckets`` scales with
      corpus vocabulary exactly like ``spark.sql.shuffle.partitions``
      scales with data, but it is CREATION-TIME metadata: the first
      commit persists it in the df table's ``_config.json`` and every
      later run derives the layout from the table
      (``layout.table_config``), so a restart passing a different value
      cannot split standing hashes across two bucket layouts and
      silently undercount df (ADVICE r10);
    - the hot set (df > cap) is PHYSICALLY segregated into a ``hot``
      tier partition (two-level ``tier/bucket`` layout, rows promoted
      on crossing the cap — df is monotone so promotion is one-way),
      so the per-epoch exclusion read touches only the hot dirs, which
      hold the boilerplate tail by construction, never the cold bulk.

    ``df_mode="cms"`` (round 10) replaces the exact matview with the
    documented COUNT-MIN sketch: the standing df state becomes a fixed
    d×w counter table (≤ ``_GATE_CMS_D``·``_GATE_CMS_W`` non-zero
    rows at ANY vocabulary), the exclusion set is the batch shingles
    whose min-over-rows estimate exceeds the cap (estimate ≥ exact df —
    one-sided, so the cap can only fire earlier), and the per-epoch
    merge re-sums sketch + batch increments in O(sketch + batch) —
    the variant whose epoch cost is INDEPENDENT of corpus vocabulary,
    since with hash-bucketed exact counts any non-trivial batch touches
    every bucket and the merge stays Θ(vocab).  **CMS is the 100 TB
    default**: the measured per-epoch scaling decade is 0.55 for the
    sketch vs 0.93 for the exact matview (BASELINE.md round-10 df-state
    table) — reserve ``df_mode="exact"`` for BOUNDED vocabularies
    (fixed templates, enum-like fields) where Θ(vocab) per epoch is
    acceptable and exact df is worth it.  Without ``df_cap`` no df
    state is kept (see ``minhash_signatures``).

    ``prune_key_cap`` bounds the gate's only driver-side state — the
    sorted band-key / candidate-id lists behind the footer-range file
    pruning: an epoch whose key set exceeds the cap (a pathological
    multi-million-doc batch) falls back to the unpruned index scan, so
    the driver never holds more than ``prune_key_cap`` keys while the
    accept/reject decisions stay byte-identical (pruning only chooses
    which files to READ, never which candidates to consider).
    """
    from ..operators.dedup import minhash_from_hashes, shingle_hashes

    if (df_cap is None) != (df_root is None):
        raise ValueError("df_cap and df_root must be provided together")
    if bands_root is None:
        bands_root = sig_root.rstrip("/") + "_bands"

    def _cms_cells(h, *extra):
        # the shingle hash's d count-min cells (j, bucket, *extra)
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _gate_cms_bucket(j, h).alias("bucket"),
                        *extra,
                    )
                    for j in range(_GATE_CMS_D)
                ]
            )
        )

    def _epoch(df: DataFrame, txn: EpochTxn) -> None:
        batch = txn.with_epoch(df)
        hashed = shingle_hashes(batch.select("doc_id", "text"))
        n_capped = 0
        if df_cap is not None:
            hashed = hashed.localCheckpoint()
        hashed_eff = hashed
        if df_cap is not None and df_mode == "cms":
            # COUNT-MIN path: the standing state is a FIXED-SIZE sketch
            # (d×w non-zero cells, ≤ _GATE_CMS_D·_GATE_CMS_W rows no
            # matter the vocabulary), so both the exclusion probe and
            # the merge cost O(sketch + batch) per epoch — the 100 TB
            # shape.  The estimate is one-sided (≥ exact df), so the cap
            # can only fire EARLIER than the exact matview — the
            # documented sketch trade, replayed exactly by the oracle.
            cms = txn.read(df_root)
            if cms is not None:
                probes = (
                    hashed.select("h")
                    .distinct()
                    .select("h", _cms_cells(F.col("h")).alias("jb"))
                    .select("h", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
                )
                excl = (
                    probes.join(F.broadcast(cms), ["j", "bucket"], "left")
                    .groupBy("h")
                    .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
                    .filter(F.col("est") > df_cap)
                    .select("h")
                    .localCheckpoint()
                )
                n_capped = excl.count()
                hashed_eff = hashed.join(F.broadcast(excl), "h", "left_anti")
        elif df_cap is not None:
            # the hot set: shingles past the cap in STRICTLY earlier
            # epochs — read ONLY the hot-tier dirs (tiny by construction
            # — broadcast); the cold bulk is never read
            hot = txn.read(df_root, partition_filter=lambda kv: kv["tier"] == "hot")
            if hot is not None:
                # belt-and-braces: hot IS df>cap
                excl = hot.filter(F.col("df") > df_cap).select("h")
                n_capped = (
                    hashed.select("h")
                    .distinct()
                    .join(F.broadcast(excl), "h", "left_semi")
                    .count()
                )
                hashed_eff = hashed.join(F.broadcast(excl), "h", "left_anti")
        sig = minhash_from_hashes(hashed_eff).localCheckpoint()
        _, rej_index, rej_batch = _neardup_screen(
            txn, sig, sig_root, bands_root, min_agree, prune_key_cap
        )
        rejected = rej_batch if rej_index is None else rej_index.unionByName(rej_batch)
        accepted = batch.join(rejected, "doc_id", "left_anti").localCheckpoint()
        st = _epoch_stats(
            batch, {"rb": rej_batch, "acc": accepted, "ri": rej_index}
        )

        txn.append(accepted, docs_root, ["epoch"])
        acc_sig = accepted.select("doc_id", "epoch").join(sig, "doc_id")
        _append_neardup_index(
            acc_sig, sig_root, bands_root, txn.txid, index_file_rows
        )

        # per-shingle arrived-doc counts of this epoch.  Counts include
        # REJECTED docs: the gate saw them, and their boilerplate is
        # exactly the signal the cap exists for.  distinct (doc, h): two
        # shingles hash-colliding within one doc must count that doc
        # once (df = docs-per-hash, exactly).
        doc_counts = (
            hashed.dropDuplicates(["doc_id", "h"])
            .groupBy("h")
            .agg(F.count("*").alias("df"))
        )
        if df_cap is not None and df_mode == "cms":
            # fold them into the standing count-min sketch: batch counts
            # hash into the d×w cells and the WHOLE sketch (bounded,
            # ≤ d·w non-zero rows) is re-summed and replaced under the
            # epoch txid — exactly-once under replay, cost independent
            # of vocabulary.
            merged = doc_counts.select(
                _cms_cells(F.col("h"), F.col("df").cast("long").alias("cnt")).alias("jbc")
            ).select("jbc.j", "jbc.bucket", "jbc.cnt")
            standing = txn.read(df_root)
            if standing is not None:
                merged = merged.unionByName(
                    standing.select(
                        "j", "bucket", F.col("cnt").cast("long").alias("cnt")
                    )
                )
            merged = merged.groupBy("j", "bucket").agg(
                F.sum("cnt").alias("cnt")
            )
            txn.replace(merged.repartition(F.col("j")), df_root, ["j"])
        elif df_cap is not None:
            # merge them into the standing df matview — TOUCHED BUCKETS
            # ONLY (the write_stream_rollup_merge shape: mergeable
            # counts, replace just the slice this batch's shingles land
            # in, under the epoch txid — exactly-once under replay).
            # layout comes from the TABLE, not the call (ADVICE r10):
            # a restart with a different df_buckets must not split
            # standing hashes across two bucket layouts
            eff_buckets = int(
                layout.table_config(df_root, {"df_buckets": df_buckets})["df_buckets"]
            )
            batch_counts = doc_counts.withColumn(
                "bucket", F.pmod("h", F.lit(eff_buckets))
            ).localCheckpoint()
            touched = sorted(
                int(r["bucket"])
                for r in batch_counts.select("bucket").distinct().collect()
            )
            touched_set = set(touched)
            merged = batch_counts.select("h", "df")
            standing = txn.read(
                df_root,
                partition_filter=lambda kv: int(kv["bucket"]) in touched_set,
            )
            if standing is not None:  # None: no touched bucket exists yet
                merged = merged.unionByName(
                    standing.select("h", F.col("df").cast("long").alias("df"))
                )
            merged = (
                merged.groupBy("h")
                .agg(F.sum("df").alias("df"))
                .withColumn("bucket", F.pmod("h", F.lit(eff_buckets)))
                # hot/cold tier: rows past the cap are physically
                # segregated so the exclusion read never touches the bulk
                .withColumn(
                    "tier",
                    F.when(F.col("df") > df_cap, F.lit("hot")).otherwise(
                        F.lit("cold")
                    ),
                )
            )
            # a touched bucket whose last cold (or hot) row migrated
            # tiers would otherwise keep its stale old dir live
            droppable = [
                f"tier={t}/bucket={b}"
                for t in ("hot", "cold")
                for b in touched
            ]
            txn.replace(
                merged, df_root, ["tier", "bucket"], drop_parts=droppable
            )

        # arrived_id_sum: a content checksum of WHICH docs this epoch
        # saw — lets auditors (and the registry oracle) pin batch
        # membership, not just cardinality.
        txn.ledger(
            stats_root,
            "n_arrived long, arrived_id_sum long, n_capped_shingles long, "
            "n_rejected_index long, n_rejected_batch long, n_accepted long",
            *st["arr"], n_capped, st.get("ri", (0, 0))[0], st["rb"][0],
            st["acc"][0],
        )

        if compact_every and (txn.epoch_id + 1) % compact_every == 0:
            # scheduled index maintenance: collapse the per-epoch append
            # dirs, re-sorting so footer-range pruning keeps its power.
            # Maintenance runs under its own txid, outside the epoch
            # transaction — snapshot-guarded (expect_dirs), so one racing
            # an epoch commit aborts cleanly rather than erasing it;
            # replay is a no-op.
            mtx = f"maintenance-{txn.txid}"
            at.compact_partitions(txn.spark, sig_root, f"{mtx}-sigs",
                                  sort_by=["doc_id"])
            at.compact_partitions(txn.spark, bands_root, f"{mtx}-bands",
                                  sort_by=["band_key"])

    return _acid_sink(sdf, _epoch, checkpoint)


def write_stream_decontam_gate(
    sdf: DataFrame,
    eval_root: str,
    docs_root: str,
    stats_root: str,
    quarantine_root: str | None = None,
    checkpoint: str | None = None,
):
    """T8h (round 10): ONLINE DECONTAMINATION GATE — the streaming face
    of ``ngram_decontaminate`` (the L10 hygiene counterpart of what the
    near-dup gate is to L2).

    A training corpus ingested continuously must be screened for
    eval-set leakage AT INGEST, not in a quarterly sweep.  The held-out
    benchmark's 8-gram index is materialized ONCE into a standing ACID
    table (``eval_root`` — built by the caller before the stream
    starts); each arriving micro-batch then:

    1. builds its docs' word 8-grams (``ngram_array`` — the exact
       construction the batch report and its oracle use);
    2. probes the eval index with the batch side exploded and the EVAL
       side ``broadcast()``: an eval set is small by construction (KBs
       of grams vs a corpus of TBs), so the contaminated-doc semi-join
       is map-side at any corpus size — the batch never shuffles, and
       per-epoch cost is ∝ batch grams, independent of corpus history;
    3. splits the batch: docs sharing ANY 8-gram with the eval set are
       CONTAMINATED (quarantined with evidence when
       ``quarantine_root`` is given — an audit needs the rejects, not
       just their count), the rest are accepted;
    4. appends survivors, quarantined rows, and then a one-row ledger
       (arrived / contaminated / accepted + arrived-id checksum) —
       all through the epoch transaction with txid = epoch id, so a
       replayed epoch is a no-op on every table (exactly-once).

    Unlike the near-dup gate there is NO evolving cross-epoch state:
    decontamination is against a FIXED held-out set by definition, so
    decisions are epoch-local and the replay oracle needs no unrolling
    — the stateful part is the exactly-once ledger and the standing
    quarantine/docs tables.
    """

    def _epoch(df: DataFrame, txn: EpochTxn) -> None:
        batch = txn.with_epoch(df)
        contam_ids = _contaminated_ids(txn.spark, batch, eval_root)
        accepted = batch.join(contam_ids, "doc_id", "left_anti")
        quarantined = batch.join(contam_ids, "doc_id", "left_semi")
        st = _epoch_stats(batch, {"q": contam_ids})
        (n_arrived, id_sum), n_contam = st["arr"], st["q"][0]
        txn.append(accepted, docs_root, ["epoch"])
        if quarantine_root is not None and n_contam:
            txn.append(quarantined, quarantine_root, ["epoch"])
        txn.ledger(
            stats_root,
            "n_arrived long, arrived_id_sum long, n_contaminated long, "
            "n_accepted long",
            n_arrived, id_sum, n_contam, n_arrived - n_contam,
        )

    return _acid_sink(sdf, _epoch, checkpoint)


def write_stream_curation_gate(
    sdf: DataFrame,
    eval_root: str,
    sig_root: str,
    docs_root: str,
    quarantine_root: str,
    verdicts_root: str,
    stats_root: str,
    min_agree: int = 16,
    checkpoint: str | None = None,
    bands_root: str | None = None,
    index_file_rows: int | None = None,
    prune_key_cap: int = 100_000,
    search_roots: dict | None = None,
):
    """T8i (round 11): the UNIFIED CURATION INGEST PIPELINE — the three
    proven gates (near-dup screen → decontamination → stats rollup)
    composed over ONE arriving stream under ONE per-epoch transaction.

    Separately, T8e screens near-dups, T8h quarantines eval leakage,
    and T8d keeps ledgers — but a real 100 TB ingest runs them as one
    epoch transaction: every table this pipeline touches (docs,
    quarantine, per-doc verdicts, near-dup index, ledger) commits under
    the SAME ``epoch-N`` txid, so a crash-replayed epoch is a no-op on
    ALL of them at once — the corpus can never hold a doc whose verdict
    row is missing, or vice versa.  This is the streaming face of
    ``pretraining_corpus_build``'s batch funnel and the reference's
    whole pipeline concept (task_1 >> task_2 >> task_3,
    ``/root/reference/dags/airflow_dag.py:62``) made transactional.

    Per micro-batch of ``(doc_id, text)`` rows:

    1. NEAR-DUP SCREEN (``_neardup_screen`` — the T8e decision core
       verbatim: MinHash signatures, footer-range-pruned probe of the
       standing index pinned to the pre-epoch snapshot, capped driver
       lists, within-batch keep-first).  Verdicts:
       ``rejected_neardup_index`` / ``rejected_neardup_batch``.
    2. DECONTAMINATION of the survivors (the T8h probe verbatim: the
       batch's word 8-grams semi-joined against the ``broadcast()``
       standing eval index — the batch never shuffles).  Contaminated
       survivors are quarantined WITH their rows (an audit needs the
       rejects): verdict ``quarantined_contaminated``.
    3. The remainder is ``accepted``: rows land in the docs table and
       ONLY their signatures/band keys enter the standing near-dup
       index (``_append_neardup_index``) — the index mirrors the
       corpus, so a near-dup of a quarantined doc is judged by the
       decontamination gate (which rejects it iff it shares the leaked
       grams), not by membership of a doc the corpus refused.
    4. One per-doc VERDICT row per arrival and one per-epoch LEDGER row
       (arrived / rejected-index / rejected-batch / quarantined /
       accepted + the arrived-id checksum) — the full audit trail, all
       under the epoch txid.

    Screen order is deliberate: near-dup first means a doc that is both
    a near-dup AND contaminated reports as near-dup (the cheaper, more
    common verdict), and the eval probe runs on the smaller survivor
    set.  Cost shape per epoch: the T8e probe (∝ colliding index
    files) + the T8h broadcast semi-join (∝ batch grams) — nothing new
    is added to either component's scaling story.

    ``search_roots`` (round 13, VERDICT r12 #1) makes the accepted
    corpus SEARCHABLE in the same transaction: a dict with keys
    ``postings``/``forward``/``bm25_stats``/``cents``/``ann``.  When
    given (and the stream carries nullable ``qv``/``nrm`` vector
    columns), each epoch's ACCEPTED docs are additionally

    - tokenized once (``bm25_index_batch_frames``) and appended to the
      standing token-bucketed postings + doc-bucketed forward index,
      with an (epoch, n_docs, len_sum) row in the BM25 stats ledger
      (the serving N/avglen source — ``bm25_ingest._ledger_snapshot``);
    - two-level-assigned against the STANDING IVF quantizer (read
      pinned pre-epoch via ``version_before_txid`` — the ann gate's
      crash-replay rule) and appended to the cell-bucketed ANN index
      (rows lacking a vector are lexical-only, skipped here);

    all under the SAME ``epoch-N`` txid as the docs/verdicts/ledger
    commits — an accepted doc can never exist without being
    retrievable, and a crash-replayed epoch is a no-op on every
    table at once.  Per-epoch cost adds Θ(batch tokens) + Θ(batch·√K)
    — still independent of every standing table's size.
    """
    from ..operators.dedup import minhash_from_hashes, shingle_hashes

    if bands_root is None:
        bands_root = sig_root.rstrip("/") + "_bands"

    if search_roots is not None:
        # Resolve (and on first write persist) the searchable artifacts'
        # bucket layouts once, at gate construction — the same
        # restart-safety rule as write_stream_bm25_index_gate.
        from ..operators.retrieval_served import _CELL_BUCKETS

        s_tokb, s_fwdb = bm25_table_layout(
            search_roots["postings"], search_roots["forward"]
        )
        s_cellb = int(
            layout.table_config(
                search_roots["ann"], {"cell_buckets": _CELL_BUCKETS}
            )["cell_buckets"]
        )

    def _epoch(df: DataFrame, txn: EpochTxn) -> None:
        batch = txn.with_epoch(df)

        # 1. near-dup screen (T8e core)
        sig = minhash_from_hashes(
            shingle_hashes(batch.select("doc_id", "text"))
        ).localCheckpoint()
        _, rej_index, rej_batch = _neardup_screen(
            txn, sig, sig_root, bands_root, min_agree, prune_key_cap
        )
        rejected = (
            rej_batch if rej_index is None
            else rej_index.unionByName(rej_batch)
        )
        survivors = batch.join(rejected, "doc_id", "left_anti")

        # 2. decontamination of the survivors (T8h core)
        contam_ids = _contaminated_ids(txn.spark, survivors, eval_root)
        quarantined = survivors.join(contam_ids, "doc_id", "left_semi")
        accepted = survivors.join(contam_ids, "doc_id", "left_anti").localCheckpoint()
        if search_roots is not None:
            fr = bm25_index_batch_frames(
                accepted.select("doc_id", "text"), s_tokb, s_fwdb
            )
        # the four verdict counts, the arrival checksum, and
        # (searchable) the accepted doc-length sum: one fused job
        st = _epoch_stats(
            batch,
            {"rb": rej_batch, "q": contam_ids, "acc": accepted, "ri": rej_index},
            {"dl": (fr["dl"], "len")} if search_roots is not None else None,
        )
        n_quarantined, n_accepted = st["q"][0], st["acc"][0]

        # 3. commits — every table under the SAME epoch txid
        txn.append(accepted, docs_root, ["epoch"])
        if n_quarantined:
            txn.append(quarantined, quarantine_root, ["epoch"])
        acc_sig = accepted.select("doc_id", "epoch").join(sig, "doc_id")
        _append_neardup_index(
            acc_sig, sig_root, bands_root, txn.txid, index_file_rows
        )

        # 3b. searchable-corpus appends (same txid — see docstring)
        if search_roots is not None:
            from ..operators.retrieval_served import _cell_bucket
            from ..operators.similarity import _two_level_assign

            if n_accepted:
                # Tokenize the accepted batch ONCE per epoch: checkpoint
                # the postings rows (Θ(batch tokens), batch-bounded) and
                # derive the forward rows from them instead of
                # re-evaluating the tokenize+group lineage per table
                # (guide §1.2).
                _append_postings_forward(
                    txn, txn.with_epoch(fr["postings"]).localCheckpoint(),
                    search_roots["postings"], search_roots["forward"], s_fwdb,
                )
            cents = _pinned_cents(txn, search_roots["cents"])
            ann = (
                txn.with_epoch(
                    _two_level_assign(
                        accepted.filter(F.col("qv").isNotNull()).select(
                            F.col("doc_id").alias("vec_id"), "qv", "nrm"
                        ),
                        cents,
                    ).select("vec_id", "centroid_id", "qv", "nrm")
                )
                .withColumn(
                    "cell_bucket", _cell_bucket(F.col("centroid_id"), s_cellb)
                )
                .localCheckpoint()
            )
            if ann.count():
                txn.append_aligned(
                    ann, search_roots["ann"], ["cell_bucket"], ["vec_id"]
                )

        # 4. per-doc verdicts, then the ledgers
        def tag(ids_df, verdict: str):
            return ids_df.select("doc_id").withColumn(
                "verdict", F.lit(verdict)
            )

        verdicts = tag(rej_batch, "rejected_neardup_batch").unionByName(
            tag(contam_ids, "quarantined_contaminated")
        ).unionByName(tag(accepted, "accepted"))
        if rej_index is not None:
            verdicts = verdicts.unionByName(
                tag(rej_index, "rejected_neardup_index")
            )
        txn.append(txn.with_epoch(verdicts), verdicts_root, ["epoch"])
        if search_roots is not None:
            # The BM25 stats ledger follows postings, forward and ANN
            # (ADVICE r13): it is the epoch's serving-pin anchor
            # (latest_consistent_version), so a crash before it leaves
            # every searchable table pinned to the previous epoch, never
            # a ledger that includes docs the ANN index lacks.
            txn.ledger(
                search_roots["bm25_stats"], "n_docs long, len_sum long",
                n_accepted, st["dl"][1],
            )
        txn.ledger(
            stats_root,
            "n_arrived long, arrived_id_sum long, n_rejected_index long, "
            "n_rejected_batch long, n_quarantined long, n_accepted long",
            *st["arr"], st.get("ri", (0, 0))[0], st["rb"][0], n_quarantined,
            n_accepted,
        )

    return _acid_sink(sdf, _epoch, checkpoint)


def _pinned_cents(txn: EpochTxn, cents_root: str) -> DataFrame:
    """The standing IVF quantizer as an epoch's assignment reads it:
    PINNED to the last version committed before the epoch's txid, so a
    crash-replayed epoch sees the same centroids even if a retrain
    landed mid-stream."""
    return txn.read(cents_root).select(
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.col("cqv").cast("array<bigint>").alias("cqv"),
        F.col("cnrm").cast("long").alias("cnrm"),
        F.col("stride").cast("long").alias("stride"),
        F.col("cstride").cast("long").alias("cstride"),
    ).localCheckpoint(eager=False)


def write_stream_ann_index_gate(
    sdf: DataFrame,
    cents_root: str,
    cb_root: str,
    index_root: str,
    stats_root: str,
    index_buckets: int = 16,
    checkpoint: str | None = None,
):
    """T8j (round 11): STREAMING ANN INDEX MAINTENANCE — arriving
    vectors are assigned to the standing IVF quantizer, PQ-encoded
    against the standing codebook, and appended to the inverted-list
    index under one epoch transaction.

    This is the ingest face of the similarity-search family: the batch
    queries (``ivf_ann_topk``, ``pq_ann_topk``) search a FINISHED
    index; ``ivf_index_upsert_audit`` proves one batch upsert; this
    gate runs the real loop a 100 TB corpus lives in — vectors arrive
    continuously, the quantizer is a STANDING ARTIFACT (trained once on
    a bootstrap sample, versioned, reused — the VERDICT-r10 codebook
    rule), and only the arriving batch is ever assigned or encoded.

    Per micro-batch of ``(vec_id, qv, nrm)`` rows (pre-quantized
    int64 vectors — the ``_qvec`` convention):

    1. Read the standing centroids and codebook PINNED to the last
       version committed before this epoch's txid
       (``version_before_txid``) — crash-replays see identical
       artifacts even if a maintenance retrain lands mid-stream.
    2. Two-level IVF assignment of the batch (map-side against the
       broadcast ~√K coarse grid, then the per-cell fine argmax —
       ``_two_level_assign``; nothing scales with index size).
    3. PQ-encode each vector against the broadcast codebook row
       (``_pq_code_for`` — an expression-level argmin fold, zero
       shuffle), keeping the assignment quality signal
       ``sim_e6 = floor((cosine+1)·1e6)``.
    4. Append ``(vec_id, centroid_id, codes, sim_e6, epoch)`` to the
       index, PARTITIONED BY CELL BUCKET (``pmod(centroid_id,
       index_buckets)``) so each inverted list's rows co-locate — a
       probe reads only its cells' buckets, never the whole index —
       plus one per-epoch ledger row (n_arrived, vec-id checksum,
       cells touched, code checksum), all under the SAME epoch txid:
       a crash-replayed epoch is a no-op on index AND ledger at once.

    Scale shape per epoch: Θ(batch·√K) assignment flops + Θ(batch)
    encode + one append of Θ(batch) rows across ≤ index_buckets
    partitions.  Nothing reads or rewrites standing index rows — the
    gate's cost is independent of how many billions of vectors the
    index already holds (compaction is the separate, scheduled
    maintenance path — ``compact_partitions``, proven in
    ``stream_neardup_index_compaction_audit``).
    """
    from ..operators.similarity import (
        _PQ_SUBS,
        _cb_row_from_entries,
        _pq_code_for,
        _two_level_assign,
    )

    def _epoch(df: DataFrame, txn: EpochTxn) -> None:
        cents = _pinned_cents(txn, cents_root)
        cb_row = _cb_row_from_entries(
            txn.read(cb_root).select(
                F.col("s").cast("int").alias("s"),
                F.col("c").cast("int").alias("c"),
                F.col("cs").cast("array<bigint>").alias("cs"),
            )
        )
        batch = df.select("vec_id", "qv", "nrm")
        asg = _two_level_assign(batch, cents).select(
            "vec_id",
            "centroid_id",
            F.floor((F.col("c_sim") + 1) * 1e6).cast("bigint").alias("sim_e6"),
            "qv",
        )
        enc = (
            txn.with_epoch(
                asg.crossJoin(F.broadcast(cb_row)).select(
                    "vec_id",
                    "centroid_id",
                    "sim_e6",
                    F.array(
                        *[_pq_code_for(F.lit(s)) for s in range(_PQ_SUBS)]
                    ).alias("codes"),
                )
            )
            .withColumn(
                "cell_bucket", F.pmod("centroid_id", F.lit(index_buckets))
            )
            .localCheckpoint()
        )
        stats = enc.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("vec_id"), F.lit(0)).alias("ids"),
            F.countDistinct("centroid_id").alias("cells"),
            F.coalesce(
                F.sum(
                    F.aggregate(
                        F.zip_with(
                            "codes",
                            F.sequence(F.lit(1), F.lit(_PQ_SUBS)),
                            lambda c, w: c * w,
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x,
                    )
                ),
                F.lit(0),
            ).alias("csum"),
        ).collect()[0]
        txn.append_aligned(enc, index_root, ["cell_bucket"], ["vec_id"])
        txn.ledger(
            stats_root,
            "n_arrived long, arrived_id_sum long, n_cells_touched long, "
            "code_checksum long",
            stats["n"], stats["ids"], stats["cells"], stats["csum"],
        )

    return _acid_sink(sdf, _epoch, checkpoint)


# CREATION-TIME defaults only: a table's actual layout lives in its
# _config.json sidecar (io/layout.py — VERDICT r13 #1); every writer,
# reader, delete, and compaction derives the count from the table, so
# the constants can never diverge across modules.  16 is the
# oracle-replayable driver-fixture layout (the pow2_buckets lo clamp).
_BM25_TOK_BUCKETS = 16
_BM25_FWD_BUCKETS = 16


def bm25_table_layout(
    postings_root: str,
    forward_root: str,
    tokstats_root: str | None = None,
    tok_buckets: int | None = None,
    fwd_buckets: int | None = None,
) -> tuple[int, int]:
    """Resolve (and on first write persist) the BM25 index family's
    bucket layout from the tables' ``_config.json`` sidecars.  The
    tokstats vocab table shares the postings' token-bucket layout (its
    stage-0 pruning hashes the same way).  Existing records always win
    over the passed values — a restart cannot re-split standing rows."""
    tokb = int(
        layout.table_config(
            postings_root, {"tok_buckets": int(tok_buckets or _BM25_TOK_BUCKETS)}
        )["tok_buckets"]
    )
    fwdb = int(
        layout.table_config(
            forward_root, {"fwd_buckets": int(fwd_buckets or _BM25_FWD_BUCKETS)}
        )["fwd_buckets"]
    )
    if tokstats_root is not None:
        got = int(
            layout.table_config(tokstats_root, {"tok_buckets": tokb})["tok_buckets"]
        )
        if got != tokb:
            raise ValueError(
                f"tokstats layout ({got} token buckets) disagrees with the "
                f"postings layout ({tokb}) — the vocab sidecar must share "
                "the postings' bucket function"
            )
    return tokb, fwdb


def bm25_index_batch_frames(
    df: DataFrame,
    tok_buckets: int = _BM25_TOK_BUCKETS,
    fwd_buckets: int = _BM25_FWD_BUCKETS,
) -> dict:
    """The per-batch index rows the BM25 gate commits, as frames:
    ``postings`` (doc_id, tok, tf, len, tok_bucket) — the inverted
    index, doc length DENORMALIZED onto each posting so a probe never
    joins a doc-side table — and ``forward`` (doc_id, tok, tf,
    doc_bucket) — the forward index the RM3 feedback read uses.  Both
    derive from one tokenize+group pass over the batch.

    The token bucket is the engine-independent md5 bucket
    (``_helpers.md5_bucket16 % tok_buckets``) so the DuckDB oracles can
    replay the physical layout, not just the logical rows.  Callers
    writing to a STANDING table must pass the table's persisted counts
    (``bm25_table_layout``), never the module defaults.
    """
    from ..operators.textops import _bm25_corpus

    fr = _bm25_corpus(df)
    tok, dl = fr["tok"], fr["dl"]
    postings = tok.join(dl, "doc_id").withColumn(
        "tok_bucket", F.pmod(md5_bucket16("tok"), F.lit(int(tok_buckets)))
    )
    forward = tok.withColumn(
        "doc_bucket", F.pmod("doc_id", F.lit(int(fwd_buckets)))
    )
    return {"postings": postings, "forward": forward, "dl": dl}


def _append_postings_forward(
    txn: EpochTxn,
    postings: DataFrame,
    postings_root: str,
    forward_root: str,
    fwd_buckets: int,
) -> None:
    """Append an epoch's (checkpointed, epoch-tagged) postings to the
    token-bucketed postings index and, re-bucketed by doc, to the
    forward index.  The forward rows ARE the postings rows — deriving
    them from the checkpoint tokenizes the batch once per epoch, not
    once per table (guide §1.2: don't compute things twice)."""
    txn.append_aligned(postings, postings_root, ["tok_bucket"], ["tok"])
    txn.append_aligned(
        postings.select(
            "doc_id", "tok", "tf",
            F.pmod("doc_id", F.lit(int(fwd_buckets))).alias("doc_bucket"),
            "epoch",
        ),
        forward_root, ["doc_bucket"], ["doc_id"],
    )


def write_stream_bm25_index_gate(
    sdf: DataFrame,
    postings_root: str,
    forward_root: str,
    stats_root: str,
    checkpoint: str | None = None,
    tokstats_root: str | None = None,
    tok_buckets: int | None = None,
    fwd_buckets: int | None = None,
):
    """T8k (round 12): STREAMING LEXICAL (BM25) INDEX MAINTENANCE — the
    ingest face of the retrieval family (VERDICT r11 #1).  The batch
    queries ``bm25_topk``/``bm25_rm3_expansion`` rebuild tokenization,
    tf, df, doc lengths and avglen from the raw corpus on every query;
    this gate maintains those as STANDING ACID artifacts so serving
    cost is probe-local:

    Per micro-batch of ``(doc_id, text)`` rows:

    1. One tokenize+group pass (``bm25_index_batch_frames``) yields the
       batch's postings and forward rows — Θ(batch tokens), map-side
       combine, independent of index size.
    2. Append postings PARTITIONED BY TOKEN BUCKET (md5(tok) % 16):
       every posting for a token lives in that token's bucket, so a
       query reads only its terms' buckets.  Doc length rides on the
       posting row (denormalized) — candidate scoring never joins a
       doc-length table.
    3. Append the same rows to the FORWARD index partitioned by doc
       bucket (doc_id % 16) — the RM3 feedback step reads the top
       docs' terms from ≤ k doc buckets instead of scanning postings.
    4. (optional, ``tokstats_root``) Append the batch's per-token df
       DELTAS to the standing vocab table — the long-query two-stage
       serve ranks query terms by summed df without touching postings
       (``bm25_longdoc_two_stage_served``).
    5. Append one ledger row LAST — (epoch, n_docs, len_sum, doc-id
       checksum, n_postings, tf_sum) — to the stats table.  N and
       avglen are never stored as mutable scalars: serving derives
       them by summing the (tiny) ledger, so a crash-replayed epoch
       cannot double-count them.

    All appends share ONE epoch txid: a replayed epoch is a
    no-op on postings, forward, and ledger at once.  They are still
    three SEPARATE table commits, so a crash between them leaves a
    window where postings hold an epoch the ledger excludes (the
    retrain-swap docstring documents the analogous ANN window); the
    serving reads close it by pinning postings and forward to the
    version where the ledger's newest epoch committed
    (``bm25_ingest._ledger_snapshot`` + ``version_with_txid``) — a
    reader never sees a snapshot the three tables disagree on, and
    replaying the crashed epoch converges the head.  Scale shape per
    epoch: Θ(batch tokens) work, appends across ≤ 16+16 partitions;
    nothing reads or rewrites standing rows — gate cost is independent
    of corpus size (the continuous-regime property the ANN gate
    measures).  Global stats (df, avglen) DRIFT as the corpus grows is
    inherent to incremental lexical indexes; BM25 reads them at query
    time from the ledger + the probed buckets, so a served score is
    always consistent with the index AS OF the read version.
    """
    # Layout resolution happens ONCE, at gate construction: the table's
    # persisted record wins over the passed values, so a restarted gate
    # can never split standing tokens across two bucket layouts.
    tokb, fwdb = bm25_table_layout(
        postings_root, forward_root, tokstats_root,
        tok_buckets=tok_buckets, fwd_buckets=fwd_buckets,
    )

    def _epoch(df: DataFrame, txn: EpochTxn) -> None:
        fr = bm25_index_batch_frames(df, tokb, fwdb)
        postings = txn.with_epoch(fr["postings"]).localCheckpoint()
        # ONE ledger-stats job per epoch, one aggregate per frame:
        # postings (count, tf sum, distinct docs) and doc lengths (the
        # doc-id checksum, len sum)
        st = _epoch_stats(
            fr["dl"],
            {"post": postings},
            {
                "len": (fr["dl"], "len"),
                "tf": (postings, "tf"),
                "docs": (postings, F.countDistinct("doc_id")),
            },
        )
        _append_postings_forward(txn, postings, postings_root, forward_root, fwdb)
        if tokstats_root is not None:
            # per-epoch df DELTAS (df is additive over batches of new
            # docs): serving sums them, so a replayed epoch can't
            # double-count — the ledger rule applied to the vocab table
            txn.append_aligned(
                txn.with_epoch(
                    postings.groupBy("tok", "tok_bucket").agg(
                        F.count("*").alias("df")
                    )
                ),
                tokstats_root, ["tok_bucket"], ["tok"],
            )
        txn.ledger(
            stats_root,
            "n_docs long, len_sum long, doc_id_sum long, n_postings long, "
            "tf_sum long",
            st["docs"][1], st["len"][1], st["arr"][1], st["post"][0],
            st["tf"][1],
        )

    return _acid_sink(sdf, _epoch, checkpoint)
