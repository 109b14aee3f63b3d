"""ACID-ish parquet table: exactly-once append / overwrite-by-partition.

The reference's load step is ``CREATE TABLE IF NOT EXISTS`` + blind
append (``/root/reference/dags/my_data_pipeline.py:106-115``): a daily
rerun inserts the same rows twice — the duplication bug SURVEY.md §2.7
documents, and the one ``dedup_exact`` exists to repair after the fact.
This module replaces that story at the SINK: a re-run of the same
logical write is a no-op, a crashed write is invisible, and readers
never observe a half-written table.

Protocol (single-writer per table, with commit-race rebasing; the
public Delta/Iceberg idea re-derived on nothing but parquet + POSIX
rename — no extra jars):

    root/
      _manifests/v000001.json     <- the COMMIT POINT (atomic rename)
      _staging/<txid>/day=.../    <- parquet data, invisible until
                                     a manifest references it

1. ``replace_partitions(df, root, cols, txid)`` /
   ``append_partitions(df, root, cols, txid)`` write df (hive-
   partitioned by ``cols``) under ``_staging/<txid>/`` — crash here
   leaves orphan files no manifest references: invisible.
2. They then commit manifest v(N+1).  Each manifest maps every live
   partition to the LIST of staging directories that make it up:
   *replace* resets a partition's list to this write's directory,
   *append* adds to it — so a multi-epoch streaming append never
   erases earlier epochs that touched the same partition value.  The
   manifest lands via write-to-temp + ``os.link`` (EEXIST on
   collision).  On a collision the loser RE-READS the newest manifest
   and re-merges its own delta on top before retrying, so two racing
   writers both land and neither's partitions/txids are lost.
3. If ``txid`` is already in the committed set, the call returns
   without writing anything — EXACTLY-ONCE under retries: the Airflow
   "task succeeded but the scheduler retried it anyway" rerun that
   duplicates the reference's table becomes a no-op here.

Each manifest also records the write's SCHEMA (json) — later writes
may add columns (schema evolution; ``read_table`` unions by name with
nulls for missing columns) — and every version stays on disk, so
``read_table(..., version=N)`` is a pinned time-travel read and
``table_history`` exposes the commit log as a DataFrame.

``read_table`` resolves the requested manifest and reads ONLY the
referenced directories (manifest-level partition pruning: a
``partition_filter`` skips directories before any file is listed —
at 100 TB the manifest is a few KB while the table is billions of
files).  ``vacuum`` deletes data directories the current manifest no
longer references (orphans from crashes + replaced partition
versions); vacuuming invalidates time travel to versions that needed
the removed files, same trade Delta's ``VACUUM`` makes.

Round 8 adds the two remaining lakehouse table services:

* **Zone maps (file-level data skipping).**  Every commit records, per
  staged parquet FILE, the row count and per-column min/max lifted
  from the parquet footers (driver-side metadata reads — KB per file,
  no data scan).  ``read_table(..., stats_filter=...)`` consults them
  to drop whole files whose value range cannot match, BEFORE Spark
  lists them — the add-file-with-stats design Delta/Iceberg use, and
  the difference between "scan the year" and "scan the day" on a
  100 TB table.  Skipping is conservative: a file with missing or
  non-portable stats for a consulted column is always read.
* **Compaction.**  A multi-epoch streaming append accumulates one
  staging directory per epoch per partition — the classic small-files
  problem (a year of 1-minute micro-batches is ~500k dirs/partition).
  ``compact_partitions`` rewrites each multi-dir partition into one
  staging dir under a new txid and commits a manifest that swaps the
  dir LIST for the single compacted dir — logically a no-op (same
  rows), physically the difference between millions of file opens and
  one.  Pre-compaction versions stay time-travelable until ``vacuum``.

One commit path.  Every write verb reaches disk the same way:
``_stage_and_commit`` is the only staging tail (txid no-op, clean
re-stage, partition discovery, footer stats, snapshot-guard extension,
the ``_crash_before_commit`` seam, commit) and ``_commit`` the only
manifest publisher (merge, temp file + fsync, ``os.link``, rebase on a
version collision, ``expect_dirs`` conflict guard).  The verbs differ
only in how they stage: one Spark partitioned write, the driver-side
pyarrow writer for small already-collected row sets, or compaction's
rewrite.  ``adopt_partitions`` stages nothing and calls ``_commit``
with the source's directories.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"
_STAGING_DIR = "_staging"
_V_RE = re.compile(r"^v(\d{6})\.json$")


def _manifest_versions(root: str) -> list[tuple[int, str]]:
    mdir = os.path.join(root, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        m = _V_RE.match(name)
        if m:
            out.append((int(m.group(1)), os.path.join(mdir, name)))
    return sorted(out)


def _empty_manifest() -> dict:
    return {"version": 0, "partitions": {}, "txids": [], "neutral_txids": []}


def manifest_at(root: str, version: int | None = None) -> dict:
    """Manifest at ``version`` (newest when None), or the empty state."""
    versions = _manifest_versions(root)
    if not versions:
        if version not in (None, 0):
            raise ValueError(f"no manifest v{version} at {root}")
        return _empty_manifest()
    if version is None:
        path = versions[-1][1]
    else:
        by_v = dict(versions)
        if version == 0:
            return _empty_manifest()
        if version not in by_v:
            raise ValueError(f"no manifest v{version} at {root}")
        path = by_v[version]
    with open(path) as fh:
        return json.load(fh)


def current_manifest(root: str) -> dict:
    """Newest committed manifest, or the empty table state."""
    return manifest_at(root, None)


def version_before_txid(root: str, txid: str) -> int:
    """Highest committed version whose manifest does NOT include ``txid``.

    The crash-replay anchor: a replayed transaction that must see the
    table "as of before itself" (e.g. the streaming near-dup gate's
    standing-index probe, whose within-batch/vs-index ledger split would
    otherwise drift when the epoch's own signatures are already
    committed) reads at this version instead of the live head.  Returns
    0 (the empty state) when every committed version already contains
    ``txid``; returns the current version when ``txid`` has never
    committed (the normal, non-replay path — same read as live head).
    """
    for version, path in reversed(_manifest_versions(root)):
        with open(path) as fh:
            man = json.load(fh)
        if txid not in man.get("txids", []):
            return version
    return 0


def version_with_txid(root: str, txid: str) -> int | None:
    """Smallest committed version whose manifest includes ``txid``, or
    None when it never committed here.

    The cross-table consistency anchor: a multi-table gate commits its
    tables in sequence under one txid, so a reader that pins every
    table to the version where the LEDGER's newest txid landed sees a
    snapshot no mid-crash window can tear (the serving-side dual of
    :func:`version_before_txid`)."""
    for version, path in _manifest_versions(root):
        with open(path) as fh:
            man = json.load(fh)
        if txid in man.get("txids", []):
            return version
    return None


def latest_consistent_version(root: str, ledger_txids: set[str]) -> int | None:
    """Newest committed version whose every txid is either present in
    ``ledger_txids`` or was RECORDED AS LOGICALLY NEUTRAL at commit time
    (the manifest's ``neutral_txids`` set — same rows, different files).

    The multi-table serving pin: a gate commits data tables before its
    ledger under one txid, so a data-table version containing a txid the
    ledger lacks is a torn (mid-crash) snapshot and must not serve;
    compactions commit to the data table alone but change no logical
    row, so they never block the pin.  Neutrality is an explicit
    manifest flag set by the committing writer (``compact_partitions``
    marks its commits), NOT inferred from a txid naming convention — a
    row-changing write can never bypass the pin by borrowing a
    ``compact-`` prefix (ADVICE r13).  Returns None for an empty table
    or when even v1 is inconsistent."""
    best = None
    for version, path in _manifest_versions(root):
        with open(path) as fh:
            man = json.load(fh)
        neutral = set(man.get("neutral_txids", []))
        if all(
            t in ledger_txids or t in neutral
            for t in man.get("txids", [])
        ):
            best = version
    return best


def _dirs(val) -> list[str]:
    """Partition-map values: list of staging dirs (legacy str accepted)."""
    return [val] if isinstance(val, str) else list(val)


def _part_values(pkey: str) -> dict[str, str]:
    """``a=1/b=2`` → ``{"a": "1", "b": "2"}`` (hive-encoded strings)."""
    return dict(seg.split("=", 1) for seg in pkey.split("/"))


def _matching(man: dict, partition_filter: Callable[[dict[str, str]], bool] | None
              ) -> dict[str, list[str]]:
    """The manifest's live partitions that ``partition_filter`` selects
    (all of them when None), each with its staging dirs."""
    return {
        pkey: _dirs(val)
        for pkey, val in man["partitions"].items()
        if partition_filter is None or partition_filter(_part_values(pkey))
    }


def _discover_partition_dirs(base: str, n_cols: int) -> list[str]:
    """Relative hive-style partition paths (``a=1/b=2``) under ``base``."""
    found: list[str] = []

    def walk(cur: str, rel: list[str], depth: int) -> None:
        if depth == n_cols:
            found.append("/".join(rel))
            return
        for name in sorted(os.listdir(cur)):
            if "=" in name and os.path.isdir(os.path.join(cur, name)):
                walk(os.path.join(cur, name), rel + [name], depth + 1)

    walk(base, [], 0)
    return found


def _json_safe_stat(v):
    """Footer stat value → JSON-storable value, or None if non-portable."""
    if isinstance(v, bool) or v is None:
        return None  # bool min/max carries no skipping power worth the edge cases
    if isinstance(v, (int, float, str)):
        return v
    iso = getattr(v, "isoformat", None)
    if iso is not None:  # date / datetime → lexicographically ordered strings
        return v.isoformat()
    return None


def _collect_file_stats(stage_abs: str, stage_rel: str,
                        new_parts: list[str]) -> dict[str, list[dict]]:
    """Per-file row counts and per-column min/max from parquet FOOTERS.

    Driver-side metadata reads only (a footer is KB); a column whose
    stats are absent or non-portable in ANY row group of a file is
    omitted for that file, which ``read_table`` treats as must-read —
    skipping never risks correctness.
    """
    import pyarrow.parquet as pq

    out: dict[str, list[dict]] = {}
    for p in new_parts:
        pdir = os.path.join(stage_abs, p)
        entries = []
        for name in sorted(os.listdir(pdir)):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(pdir, name)).metadata
            mins: dict[str, object] = {}
            maxs: dict[str, object] = {}
            bad: set[str] = set()
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    cname = col.path_in_schema
                    if "." in cname or cname in bad:
                        continue  # nested leaves: out of scope
                    st = col.statistics
                    lo = _json_safe_stat(st.min) if st is not None and st.has_min_max else None
                    hi = _json_safe_stat(st.max) if st is not None and st.has_min_max else None
                    if lo is None or hi is None:
                        bad.add(cname)
                        mins.pop(cname, None)
                        maxs.pop(cname, None)
                        continue
                    mins[cname] = lo if cname not in mins else min(mins[cname], lo)
                    maxs[cname] = hi if cname not in maxs else max(maxs[cname], hi)
            entries.append({
                "path": name,
                "rows": md.num_rows,
                "stats": {c: [mins[c], maxs[c]] for c in mins},
            })
        out[f"{stage_rel}/{p}"] = entries
    return out


def _merge(prev: dict, delta: dict[str, list[str]], txid: str,
           mode: str, partition_cols: list[str], schema_json: str,
           file_stats: dict[str, list[dict]] | None = None,
           drop_parts: list[str] | None = None,
           neutral: bool = False) -> dict:
    """Build the next manifest from ``prev`` + this transaction's delta
    (``{partition key: [dirs this transaction contributes]}``)."""
    partitions = {k: _dirs(v) for k, v in prev["partitions"].items()}
    # drop_parts: partitions the transaction REWROTE but which ended up
    # with zero surviving rows (a DELETE emptying a partition) — without
    # this, replace semantics would leave their old directories live.
    for p in drop_parts or []:
        if p not in delta:
            partitions.pop(p, None)
    for p, dirs in delta.items():
        if mode == "replace":
            partitions[p] = list(dirs)
        else:  # append: accumulate epochs, never erase earlier ones
            partitions.setdefault(p, []).extend(dirs)
    dir_files = dict(prev.get("dir_files", {}))
    dir_files.update(file_stats or {})
    # Prune stats for directories no live partition references (replaced,
    # compacted-away, or delete-emptied): without this every manifest
    # carries dead-dir stats forward and grows monotonically with commit
    # count.  Old manifests keep their own dir_files, so time travel is
    # unaffected.
    live = {rel for dirs in partitions.values() for rel in dirs}
    dir_files = {rel: v for rel, v in dir_files.items() if rel in live}
    return {
        "version": prev["version"] + 1,
        "partitions": partitions,
        "txids": prev["txids"] + [txid],
        # Explicit logical-neutrality record (ADVICE r13): the serving
        # pin exempts exactly the txids the committing writer DECLARED
        # row-preserving (compaction), never a txid naming convention.
        "neutral_txids": prev.get("neutral_txids", []) + ([txid] if neutral else []),
        "partition_cols": partition_cols,
        "schema": schema_json,
        "dir_files": dir_files,
    }


def _commit(root: str, prev: dict, delta: dict[str, list[str]],
            txid: str, mode: str, partition_cols: list[str],
            schema_json: str, file_stats: dict[str, list[dict]] | None = None,
            expect_dirs: dict[str, list[str]] | None = None,
            drop_parts: list[str] | None = None,
            neutral: bool = False) -> dict:
    """Atomically publish the next manifest version — the only place a
    manifest is built or written.

    Write to a temp file, hard-link to the final name (fails with
    EEXIST if another writer claimed the version), unlink the temp —
    readers always see a complete file.  On a version collision the
    loser RE-READS the newest manifest and re-merges this
    transaction's delta on top of it (a rebase that keeps BOTH
    writers' partitions and txids), rather than re-publishing a
    manifest built from stale state.
    """
    mdir = os.path.join(root, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    while True:
        if txid in prev["txids"]:
            return prev  # a racing retry of the same txid already landed
        if expect_dirs is not None:
            # This write (compaction / MERGE / DELETE) rewrote a SNAPSHOT
            # of each touched partition; if a racing writer changed any of
            # them since, a replace here would silently drop that writer's
            # rows (the rebase below keeps UNtouched partitions, but a
            # touched one would be overwritten from stale state).  Delta's
            # answer, and ours: detect and abort — the caller re-runs
            # against the new state.
            for pkey, dirs in expect_dirs.items():
                if _dirs(prev["partitions"].get(pkey, [])) != dirs:
                    raise RuntimeError(
                        f"write conflict on partition {pkey!r}: it changed "
                        "since this transaction's snapshot; re-run against "
                        "the current table state"
                    )
        manifest = _merge(prev, delta, txid, mode, partition_cols,
                          schema_json, file_stats, drop_parts, neutral=neutral)
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(mdir, f"v{manifest['version']:06d}.json")
        try:
            os.link(tmp, final)
            os.unlink(tmp)
            return manifest
        except FileExistsError:
            os.unlink(tmp)
            prev = current_manifest(root)  # rebase on the racing winner


def _stage_and_commit(
    root: str,
    partition_cols: list[str],
    txid: str,
    mode: str,
    stage: Callable[[str], str],
    _crash_before_commit: Callable[[], None] | None,
    prev: dict | None = None,
    expect_dirs: dict[str, list[str]] | None = None,
    drop_parts: list[str] | None = None,
    neutral: bool = False,
) -> dict:
    """The staging tail every data-writing verb ends in.

    ``stage(stage_abs)`` writes this transaction's hive-partitioned files
    under ``stage_abs`` and returns the committed schema json.  The tail
    owns everything around it: the exactly-once txid no-op, a clean
    re-stage after a pre-commit crash, partition discovery, footer
    stats, the snapshot-guard extension, the crash seam and the commit.
    """
    if not partition_cols:
        raise ValueError("at least one partition column is required")
    if prev is None:
        prev = current_manifest(root)
    if txid in prev["txids"]:
        return prev  # re-run of a committed write: exactly-once no-op
    stage_rel = f"{_STAGING_DIR}/{txid}"
    stage_abs = os.path.join(root, stage_rel)
    shutil.rmtree(stage_abs, ignore_errors=True)  # re-stage after a pre-commit crash
    schema_json = stage(stage_abs)
    new_parts = _discover_partition_dirs(stage_abs, len(partition_cols))
    file_stats = _collect_file_stats(stage_abs, stage_rel, new_parts)
    if expect_dirs is not None:
        # Snapshot-guarded write: any partition this transaction STAGES
        # that the snapshot didn't know about must still be absent at
        # commit time (a racing writer creating it would otherwise be
        # silently overwritten by the replace).
        expect_dirs = dict(expect_dirs)
        for p in new_parts:
            expect_dirs.setdefault(p, _dirs(prev["partitions"].get(p, [])))
    if _crash_before_commit is not None:
        _crash_before_commit()
    return _commit(root, prev, {p: [f"{stage_rel}/{p}"] for p in new_parts},
                   txid, mode, partition_cols, schema_json, file_stats,
                   expect_dirs=expect_dirs, drop_parts=drop_parts,
                   neutral=neutral)


def _spark_stage(df: DataFrame, partition_cols: list[str]) -> Callable[[str], str]:
    """Stage ``df`` with one partitioned Spark write."""

    def stage(stage_abs: str) -> str:
        df.write.partitionBy(*partition_cols).mode("overwrite").parquet(stage_abs)
        return df.drop(*partition_cols).schema.json()

    return stage


# Driver-side commit fast path (round 15, VERDICT r14 #1): every gate
# epoch ends by committing a ONE-ROW ledger/stats frame whose values are
# already on the driver (they came out of a collect); routing that
# single row through df.write costs a full Spark job — plan + schedule +
# task launch + commit protocol — per epoch per table, which the r14
# per-epoch phase profile measured at 0.3–2 s/job of pure fixed
# overhead.  These helpers write the staged parquet file directly with
# pyarrow on the driver (bytes-equivalent rows, same hive dir layout)
# and hand it to the same staging tail as the Spark write, so the txid
# check, footer stats, crash seam and commit are the Spark path's.
# Unsupported types/values fall back to the Spark write.

_PA_TYPE_BY_SPARK = {
    "byte": "int8", "short": "int16", "integer": "int32", "long": "int64",
    "float": "float32", "double": "float64", "string": "string",
    "boolean": "bool_",
}
_SAFE_PART_VAL = re.compile(r"^[A-Za-z0-9_.\-]+$")
_PART_TYPES = {"byte", "short", "integer", "long", "string"}


def _rows_local_plan(schema, partition_cols: list[str]):
    """(schema, data_fields, part_idx, pa_schema) when the row set is
    writable driver-side, else None (caller falls back to the Spark
    path).  Partition columns must be integer or string typed: those are
    the only types whose Python ``str()`` is Spark's hive dir name —
    a bool, float or null value would name a dir Spark never writes
    (``k=True`` for ``k=true``), splitting one partition in two."""
    import pyarrow as pa

    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    types = {f.name: f.dataType.typeName() for f in schema.fields}
    if any(types.get(c) not in _PART_TYPES for c in partition_cols):
        return None
    names = [f.name for f in schema.fields]
    data_fields = [f for f in schema.fields if f.name not in partition_cols]
    pa_fields = []
    for f in data_fields:
        t = _PA_TYPE_BY_SPARK.get(f.dataType.typeName())
        if t is None:
            return None  # nested/temporal/decimal: Spark path
        pa_fields.append(pa.field(f.name, getattr(pa, t)()))
    part_idx = [names.index(c) for c in partition_cols]
    return schema, data_fields, part_idx, pa.schema(pa_fields)


def _arrow_stage(rows: list[tuple], plan, partition_cols: list[str]
                 ) -> Callable[[str], str]:
    """Stage ``rows`` with pyarrow on the driver: one file per partition,
    in the hive layout a Spark write of the same rows would produce."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.types import StructType

    sch, data_fields, part_idx, pa_schema = plan
    names = [f.name for f in sch.fields]
    data_idx = [names.index(f.name) for f in data_fields]

    def stage(stage_abs: str) -> str:
        os.makedirs(stage_abs, exist_ok=True)
        groups: dict[str, list[tuple]] = {}
        for r in rows:
            pkey = "/".join(
                f"{c}={r[i]}" for c, i in zip(partition_cols, part_idx)
            )
            groups.setdefault(pkey, []).append(tuple(r[i] for i in data_idx))
        for pkey, grp in groups.items():
            pdir = os.path.join(stage_abs, pkey)
            os.makedirs(pdir, exist_ok=True)
            cols = [
                pa.array([g[k] for g in grp], type=pa_schema.field(k).type)
                for k in range(len(data_fields))
            ]
            pq.write_table(
                pa.Table.from_arrays(cols, schema=pa_schema),
                os.path.join(pdir, f"part-00000-{uuid.uuid4().hex}.parquet"),
            )
        return StructType(data_fields).json()

    return stage


def _commit_rows_local(
    spark: SparkSession,
    rows: list[tuple],
    schema,
    root: str,
    partition_cols: list[str],
    txid: str,
    mode: str,
    _crash_before_commit: Callable[[], None] | None = None,
) -> dict:
    """Stage with pyarrow when :func:`_rows_local_plan` and every
    partition value allow it, else with a Spark write; commit either way
    through the one staging tail."""
    plan = _rows_local_plan(schema, partition_cols)
    if plan is None or any(
        r[i] is None or not _SAFE_PART_VAL.match(str(r[i]))
        for r in rows
        for i in plan[2]
    ):
        stage = _spark_stage(spark.createDataFrame(rows, schema), partition_cols)
    else:
        stage = _arrow_stage(rows, plan, partition_cols)
    return _stage_and_commit(root, partition_cols, txid, mode, stage,
                             _crash_before_commit)


def append_rows(
    spark: SparkSession,
    rows: list[tuple],
    schema,
    root: str,
    partition_cols: list[str],
    txid: str,
    _crash_before_commit: Callable[[], None] | None = None,
) -> dict:
    """Exactly-once APPEND of a small, already-collected row set — the
    driver-side twin of :func:`append_partitions` for ledger/stats rows
    (same manifest protocol, no Spark job).  ``schema`` is a DDL string
    or StructType; ``rows`` are tuples in schema field order."""
    return _commit_rows_local(spark, rows, schema, root, partition_cols,
                              txid, "append", _crash_before_commit)


def replace_rows(
    spark: SparkSession,
    rows: list[tuple],
    schema,
    root: str,
    partition_cols: list[str],
    txid: str,
    _crash_before_commit: Callable[[], None] | None = None,
) -> dict:
    """Exactly-once OVERWRITE twin of :func:`append_rows`."""
    return _commit_rows_local(spark, rows, schema, root, partition_cols,
                              txid, "replace", _crash_before_commit)


def replace_partitions(
    df: DataFrame,
    root: str,
    partition_cols: list[str],
    txid: str,
    _crash_before_commit: Callable[[], None] | None = None,
    drop_parts: list[str] | None = None,
) -> dict:
    """Exactly-once OVERWRITE of the partitions present in ``df``.

    Every partition value appearing in ``df`` maps to this write's
    directory alone afterwards; untouched partitions keep their data.
    Returns the committed manifest (or the already-committed one if
    ``txid`` was seen before — the idempotent re-run path).
    ``drop_parts`` names partition keys (``col=a/col2=b``) the caller
    REWROTE but which may end up with zero rows in ``df`` — a replaced
    partition whose rows all migrated elsewhere (e.g. a merge that moves
    every row of a bucket from one tier to another) would otherwise keep
    its old directory live; keys that the staged write repopulates are
    kept, absent ones are dropped.
    ``_crash_before_commit`` is a test seam: raising from it simulates
    a writer dying after staging but before the commit rename.
    """
    return _stage_and_commit(root, partition_cols, txid, "replace",
                             _spark_stage(df, partition_cols),
                             _crash_before_commit, drop_parts=drop_parts)


def append_partitions(
    df: DataFrame,
    root: str,
    partition_cols: list[str],
    txid: str,
    _crash_before_commit: Callable[[], None] | None = None,
) -> dict:
    """Exactly-once APPEND: this write's rows ADD to each partition.

    The manifest accumulates one staging directory per transaction per
    partition value, so epoch N+1 of a streaming append never erases
    epoch N's rows for a partition value both contain — the semantics a
    micro-batch sink needs (``write_stream_exactly_once``).  Idempotent
    under txid replay exactly like :func:`replace_partitions`.
    """
    return _stage_and_commit(root, partition_cols, txid, "append",
                             _spark_stage(df, partition_cols),
                             _crash_before_commit)


def read_table(
    spark: SparkSession,
    root: str,
    partition_filter: Callable[[dict[str, str]], bool] | None = None,
    version: int | None = None,
    stats_filter: Callable[[dict[str, tuple]], bool] | None = None,
) -> DataFrame:
    """Read the table at a committed version (newest when ``version``
    is None — pass an older number for a pinned time-travel read).

    ``partition_filter`` receives each partition's ``{col: value}``
    dict (hive-encoded strings) and prunes AT THE MANIFEST — directories
    it rejects are never listed, let alone scanned.  Partition columns
    come back as string columns (cast downstream as needed).  Reads
    union by name with null fill, so versions written before a column
    was added surface it as null — add-column schema evolution.

    ``stats_filter`` is the zone-map hook: it receives a file's
    ``{col: (min, max)}`` footer stats and returns whether the file
    COULD contain matching rows; files it rejects are dropped before
    Spark ever lists them.  It must be range-conservative (return True
    when any value in [min, max] could match).  Files with no recorded
    stats — legacy commits, or columns whose stats were non-portable —
    are always read.
    """
    man = manifest_at(root, version)
    dir_files = man.get("dir_files", {})
    # ONE file-source scan over every selected path (round 14): the
    # previous shape — one DataFrame per staging dir chained through
    # unionByName — built an N-leg union whose plan size, planning time,
    # and task count all grew with the dir count, which at corpus-scaled
    # bucket layouts (hundreds-thousands of partitions) dominated every
    # serve.  A single multi-path scan lets Spark bin-pack small files
    # into tasks (maxPartitionBytes/openCostInBytes) and keeps the plan
    # O(1) in partition count.  Partition columns are recovered from the
    # hive-encoded path segments (`col=value`) — the same literal
    # strings the manifest keys hold, so semantics are unchanged.
    paths: list[str] = []
    txids: set[str] = set()
    for _, rels in sorted(_matching(man, partition_filter).items()):
        for rel in rels:
            if stats_filter is not None and rel in dir_files:
                kept = [
                    os.path.join(root, rel, f["path"])
                    for f in dir_files[rel]
                    if not f.get("stats")
                    or stats_filter({c: tuple(v) for c, v in f["stats"].items()})
                ]
                if not kept:
                    continue  # every file in this dir provably irrelevant
                paths.extend(kept)
            else:
                paths.append(os.path.join(root, rel))
            txids.add(rel.split("/")[1] if "/" in rel else rel)
    if not paths:
        raise ValueError(f"no partitions selected from {root} (v{man['version']})")
    reader = spark.read
    if len(txids) > 1:
        # dirs from >1 commit may carry evolved schemas: merge unions
        # by name with null fill (same semantics the unionByName chain
        # had).  Single-commit reads skip the footer-merge pass.
        reader = reader.option("mergeSchema", "true")
    return _with_path_partitions(
        reader.parquet(*paths), man.get("partition_cols", [])
    )


def _with_path_partitions(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """Recover each partition column from its hive ``col=value`` segment
    of the row's file path — the LAST ``/<col>=`` segment, i.e. the one
    below the table root, so a table rooted under a hive-style ancestor
    dir (``…/epoch=9/t``) reads its own values, not the ancestor's.
    ``_metadata.file_path`` is a URI: the on-disk directory name (which
    is what the manifest keys carry) comes back percent-encoded
    (' ' → %20).  url_decode recovers it; '+' is pre-protected because
    URI paths keep it literal while url_decode would turn it into a
    space."""
    fpath = F.col("_metadata.file_path")
    for col in partition_cols:
        seg = F.regexp_extract(fpath, ".*/" + re.escape(col) + "=([^/]+)/", 1)
        df = df.withColumn(
            col, F.url_decode(F.regexp_replace(seg, r"\+", "%2B"))
        )
    return df


def files_selected(
    root: str,
    version: int | None = None,
    stats_filter: Callable[[dict[str, tuple]], bool] | None = None,
) -> dict[str, list[tuple[str, bool]]]:
    """Skipping audit: per live directory, each file's (name, would-read)
    under ``stats_filter`` — the dry-run twin of :func:`read_table`'s
    pruning decision, for tests and EXPLAIN-style tooling."""
    man = manifest_at(root, version)
    dir_files = man.get("dir_files", {})
    out: dict[str, list[tuple[str, bool]]] = {}
    for val in man["partitions"].values():
        for rel in _dirs(val):
            decisions = []
            for f in dir_files.get(rel, []):
                keep = (
                    stats_filter is None
                    or not f.get("stats")
                    or stats_filter({c: tuple(v) for c, v in f["stats"].items()})
                )
                decisions.append((f["path"], bool(keep)))
            out[rel] = decisions
    return out


def compact_partitions(
    spark: SparkSession,
    root: str,
    txid: str,
    min_dirs: int = 2,
    sort_by: list[str] | None = None,
    _crash_before_commit: Callable[[], None] | None = None,
) -> dict:
    """Rewrite every partition backed by ≥ ``min_dirs`` staging dirs
    (multi-epoch appends — the small-files problem) into ONE directory
    under ``_staging/<txid>/`` and commit the swap as a new version.

    Logically a no-op: the compacted version holds exactly the rows of
    the current version (schema-evolved dirs union by name with null
    fill, so the compacted files carry the widest schema).  Physically
    it collapses one-dir-per-epoch into one dir per partition.  Crash
    before commit leaves unreferenced files (invisible, vacuumable);
    ``txid`` replay is an exactly-once no-op; pre-compaction versions
    remain time-travelable until ``vacuum`` removes their dirs.
    """
    prev = current_manifest(root)
    if txid in prev["txids"]:
        return prev
    targets = {
        pkey: _dirs(val)
        for pkey, val in prev["partitions"].items()
        if len(_dirs(val)) >= min_dirs
    }
    if not targets:
        return prev

    def _part_bytes(rels: list[str]) -> int:
        return sum(
            os.path.getsize(os.path.join(root, rel, f))
            for rel in rels
            for f in os.listdir(os.path.join(root, rel))
            if f.endswith(".parquet")
        )

    # One output file per ~128 MB of input per partition — small
    # partitions compact to a single file, huge ones stay parallel.
    n_files = {
        pkey: max(1, -(-_part_bytes(rels) // (128 << 20)))
        for pkey, rels in targets.items()
    }
    pcols = prev.get("partition_cols") or []
    # ONE multi-path scan + ONE staged write for every target partition
    # (round 15, VERDICT r14 #3): the previous shape ran a read+write
    # Spark job PER PARTITION — at the lexical index's 16-bucket layout
    # that is 16 fixed-cost jobs per table per maintenance pass (48 for
    # the 3-table family), and at a corpus-scaled 4096-bucket layout it
    # would be thousands.  All target dirs are read in one mergeSchema
    # scan (union-by-name semantics, same as the old per-dir
    # unionByName chain), partition values are recovered from the hive
    # path segments exactly as read_table does, and one
    # range-partitioned write stages every partition's sorted files in
    # a single job.  Partitions whose values need hive escaping (or
    # no-sort compactions needing intra-partition splits) keep the
    # per-partition path — correctness first, the fast path covers
    # every production layout (int buckets, sorted maintenance).
    plain = bool(pcols) and all(
        _SAFE_PART_VAL.match(v)
        for pkey in targets
        for v in _part_values(pkey).values()
    )
    one_job = plain and (bool(sort_by) or max(n_files.values()) == 1)

    def stage(stage_abs: str) -> str:
        if one_job:
            merged = _with_path_partitions(
                spark.read.option("mergeSchema", "true").parquet(
                    *[os.path.join(root, rel) for rels in targets.values() for rel in rels]
                ),
                pcols,
            )
            total = sum(n_files.values())
            if sort_by:
                # Sort-on-compact (linear Z-order): range-split + sort on
                # (partition, sort_by) so each compacted file's footer
                # min/max stay TIGHT within its partition — the zone-map
                # pruning power the gates' probes depend on.  Splits beyond
                # one-per-partition land INSIDE partitions as disjoint
                # sort_by ranges.
                merged = merged.repartitionByRange(
                    total, *[F.col(c) for c in (*pcols, *sort_by)]
                ).sortWithinPartitions(*pcols, *sort_by)
            else:
                merged = merged.repartition(len(targets), *pcols)
            merged.write.partitionBy(*pcols).mode("overwrite").parquet(stage_abs)
        else:
            for pkey, rels in sorted(targets.items()):
                merged = None
                for rel in rels:
                    pdf = spark.read.parquet(os.path.join(root, rel))
                    merged = pdf if merged is None else merged.unionByName(
                        pdf, allowMissingColumns=True
                    )
                if sort_by:
                    merged = merged.repartitionByRange(
                        n_files[pkey], *[F.col(c) for c in sort_by]
                    ).sortWithinPartitions(*sort_by)
                else:
                    merged = merged.coalesce(n_files[pkey])
                merged.write.mode("overwrite").parquet(
                    os.path.join(stage_abs, pkey)
                )
        return prev.get("schema", "")

    return _stage_and_commit(root, pcols, txid, "replace", stage,
                             _crash_before_commit, prev=prev,
                             expect_dirs=targets, neutral=True)


def table_history(spark: SparkSession, root: str) -> DataFrame:
    """The commit log as a DataFrame: one row per manifest version with
    the committing txid, live-partition count, total staging-dir count,
    and the number of columns in the committed schema — the
    ``DESCRIBE HISTORY`` surface of this table format."""
    rows = []
    for v, path in _manifest_versions(root):
        with open(path) as fh:
            man = json.load(fh)
        schema_fields = None
        if man.get("schema"):
            schema_fields = len(json.loads(man["schema"]).get("fields", []))
        rows.append(
            (
                v,
                man["txids"][-1] if man["txids"] else None,
                len(man["partitions"]),
                sum(len(_dirs(x)) for x in man["partitions"].values()),
                schema_fields,
            )
        )
    return spark.createDataFrame(
        rows, "version int, txid string, n_partitions int, n_dirs int, n_cols int"
    )


def vacuum(root: str) -> list[str]:
    """Delete staging directories the CURRENT manifest doesn't reference
    (crash orphans + superseded partition versions).  Returns the
    removed relative paths.  Safe only under the single-writer
    assumption; invalidates time travel to versions whose data lived
    only in the removed directories (the Delta ``VACUUM`` trade)."""
    man = current_manifest(root)
    live = {
        rel.split("/")[1]
        for val in man["partitions"].values()
        for rel in _dirs(val)
        if rel.startswith(_STAGING_DIR)
    }
    sdir = os.path.join(root, _STAGING_DIR)
    removed = []
    if os.path.isdir(sdir):
        for txdir in sorted(os.listdir(sdir)):
            if txdir not in live:
                shutil.rmtree(os.path.join(sdir, txdir))
                removed.append(f"{_STAGING_DIR}/{txdir}")
    return removed


def adopt_partitions(
    src_root: str,
    dst_root: str,
    partition_cols: list[str],
    txid: str,
) -> dict:
    """METADATA-ONLY partition swap: commit a new ``dst_root`` manifest
    whose partitions point at ``src_root``'s CURRENT committed data
    directories (replace semantics per adopted partition; untouched dst
    partitions keep their data).  No row is read, rewritten, or copied
    — the commit is O(manifest), which is what makes a staged 100 TB
    maintenance swap atomic AND cheap: stage per-partition rewrites
    into a SEPARATE table under their own txids (bounded failure
    domain, exactly-once each), then adopt the whole staging table in
    one transaction.  Delta's SHALLOW CLONE / Iceberg snapshot-import
    move, re-derived on this manifest format.

    Contract: ``src_root`` must live on the same filesystem (adopted
    dirs are recorded relative to ``dst_root``), and its staging
    directories must not be vacuumed while any dst version references
    them — the same source-lifetime caveat shallow clones carry.
    File-level zone-map stats transfer with the directories.
    Idempotent under txid replay like every other commit here.
    """
    src = current_manifest(src_root)
    if not src["partitions"]:
        raise ValueError(f"adopt_partitions: {src_root} has no committed data")
    if src.get("partition_cols") not in (None, partition_cols):
        raise ValueError(
            f"adopt_partitions: partition columns differ "
            f"({src.get('partition_cols')} vs {partition_cols})"
        )
    prev = current_manifest(dst_root)
    if prev["partitions"]:
        # Untouched dst partitions keep their OLD data directories, so a
        # partial adopt must not flip the declared schema over them: a
        # schema-evolved staging table has to be adopted into an empty or
        # fully-covered dst (or the dst rewritten first).  Same guard for
        # the dst's own partition columns.
        if prev.get("partition_cols") not in (None, partition_cols):
            raise ValueError(
                f"adopt_partitions: dst partition columns differ "
                f"({prev.get('partition_cols')} vs {partition_cols})"
            )
        ps, ss = prev.get("schema"), src.get("schema")
        if ps and ss and ps != ss and not set(prev["partitions"]) <= set(
            src["partitions"]
        ):
            raise ValueError(
                "adopt_partitions: src schema differs from dst's while dst "
                "retains partitions the adopt does not cover — a partial "
                "adopt would declare a schema its retained files don't have"
            )
    src_files = src.get("dir_files", {})
    delta: dict[str, list[str]] = {}
    file_stats: dict[str, list[dict]] = {}
    for p, val in src["partitions"].items():
        delta[p] = []
        for d in _dirs(val):
            rel = os.path.relpath(os.path.join(src_root, d), dst_root)
            delta[p].append(rel)
            if d in src_files:
                file_stats[rel] = src_files[d]
    # An adopt changes logical rows (the staged rewrite it swaps in), so
    # it is never neutral.
    return _commit(dst_root, prev, delta, txid, "replace", partition_cols,
                   src.get("schema") or prev.get("schema"), file_stats)


def merge_into(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    partition_cols: list[str],
    key_cols: list[str],
    txid: str,
    allow_partition_move: bool = False,
    search_filter: Callable[[dict[str, str]], bool] | None = None,
    _crash_before_commit: Callable[[], None] | None = None,
) -> dict:
    """Exactly-once MERGE (upsert): rows of ``df`` whose ``key_cols``
    match an existing row UPDATE it; unmatched rows INSERT.  The Delta
    ``MERGE INTO`` shape on this manifest format.

    Partition-local by default: when ``partition_cols`` is a subset of
    ``key_cols`` an update can never move a row across partitions, which
    lets the merge read ONLY the partitions ``df`` touches
    (manifest-level pruning; a 100 TB table pays for the touched slice,
    not a scan).  Untouched partitions keep their directories verbatim;
    touched partitions are rewritten as survivors (existing anti-join
    keys) ∪ updates and committed atomically under ``txid`` —
    idempotent under replay exactly like :func:`replace_partitions`.

    ``allow_partition_move=True`` lifts the subset constraint: an
    update may CHANGE a row's partition value (a doc whose ``lang``
    label is corrected).  The delete half and the insert half land
    under ONE commit: a key-pruned probe locates the partitions
    currently holding each matched key, those partitions are rewritten
    without the matched rows, the updates are staged into their new
    partitions, and a partition emptied by the move is dropped — no
    version ever shows the row duplicated or stranded.  The probe must
    see every partition that could hold a matched key, so it scans the
    table (key+partition columns only — column-pruned) unless
    ``search_filter`` bounds it; a ``search_filter`` that EXCLUDES a
    partition holding a matched key leaves that stale copy live, so it
    must be conservative (same contract as Delta's MERGE source
    pruning).  Both paths abort on a racing write to any rewritten
    partition (snapshot ``expect_dirs`` guard).
    """
    moves = not set(partition_cols) <= set(key_cols)
    if moves and not allow_partition_move:
        raise ValueError(
            "merge_into is partition-local: partition_cols must be a subset "
            "of key_cols (an update could otherwise move a row across "
            "partitions and leave its old copy live) — pass "
            "allow_partition_move=True for the cross-partition merge"
        )
    prev = current_manifest(root)
    if txid in prev["txids"]:
        return prev  # replayed merge: exactly-once no-op
    # Delta parity: MERGE raises when two source rows target the same
    # key — letting both through would land duplicate keys in the table
    # and silently break the upsert invariant.
    # Aggregate under a reserved alias: a user key column literally named
    # "count" would make a bare F.col("count") reference ambiguous.
    dup = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__mrg_cnt"))
        .filter(F.col("__mrg_cnt") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "merge_into: updates batch has multiple rows for the same "
            f"{key_cols} key; deduplicate the source before merging"
        )
    dtypes = dict(df.dtypes)
    keys = df.select(*key_cols).distinct()

    def at_snapshot(partition_filter):
        # Pinned to prev["version"]: the probe, the rewrite and the
        # expect_dirs guard must all describe the SAME snapshot, or a
        # racing commit landing after current_manifest() could contribute
        # rows the guard never defends (a stale copy left live, or rows
        # read and then partially erased).
        try:
            existing = read_table(spark, root, partition_filter=partition_filter,
                                  version=prev["version"])
        except ValueError:
            return None  # the filter selects no live partition
        for c in partition_cols:
            existing = existing.withColumn(c, F.col(c).cast(dtypes[c]))
        return existing

    def part_values(frame: DataFrame) -> set[tuple[str, ...]]:
        return {
            tuple(str(r[c]) for c in partition_cols)
            for r in frame.select(*partition_cols).distinct().collect()
        }

    selected: dict[str, list[str]] = {}
    merged = df
    if prev["partitions"]:
        touched: set[tuple[str, ...]] = set()
        if moves:
            # Probe pass: WHERE does each matched key live today?
            # Column-pruned to key+partition columns; the collect is
            # bounded by the partition count, never the row count.
            probe = at_snapshot(search_filter)
            if probe is not None:
                probe_cols = list(dict.fromkeys([*key_cols, *partition_cols]))
                touched = part_values(
                    probe.select(*probe_cols).join(keys, key_cols, "left_semi")
                )
        touched |= part_values(df)

        def pf(kv: dict[str, str]) -> bool:
            return tuple(kv[c] for c in partition_cols) in touched

        # Snapshot guard + droppable set: every touched partition is
        # rewritten; one emptied by a move must not keep its old dir live.
        selected = _matching(prev, pf)
        existing = at_snapshot(pf)
        if existing is not None:
            survivors = existing.join(keys, key_cols, "left_anti")
            merged = survivors.unionByName(df, allowMissingColumns=True)
    return _stage_and_commit(
        root, partition_cols, txid, "replace", _spark_stage(merged, partition_cols),
        _crash_before_commit, prev=prev, expect_dirs=selected,
        drop_parts=list(selected),
    )


def delete_rows(
    spark: SparkSession,
    root: str,
    *,
    partition_cols: list[str],
    condition,
    txid: str,
    partition_filter: Callable[[dict[str, str]], bool] | None = None,
    _crash_before_commit: Callable[[], None] | None = None,
) -> dict:
    """Exactly-once row-level DELETE: rewrite the selected partitions
    without the rows matching ``condition`` (a Column predicate).  The
    opt-out/right-to-erasure verb a training-data lakehouse needs.

    ``partition_filter`` bounds the rewrite to partitions that can
    contain matches (manifest-level pruning — at 100 TB pass it
    whenever the predicate implies one; None rewrites every live
    partition).  Commit is atomic under ``txid`` — replay is a no-op —
    and history is immutable: version N-1 still time-travels to the
    pre-delete rows until :func:`vacuum`.
    """
    prev = current_manifest(root)
    if txid in prev["txids"]:
        return prev
    if not prev["partitions"]:
        raise ValueError(f"delete from empty table {root}")
    # Pinned to prev["version"]: the expect_dirs guard below defends the
    # snapshot this read saw, not whatever a racing commit made live.
    existing = read_table(spark, root, partition_filter=partition_filter,
                          version=prev["version"])
    # SQL/Delta DELETE removes only condition=TRUE rows.  A bare
    # ``~condition`` is NULL (not TRUE) when the predicate evaluates to
    # NULL — e.g. ``col('source') == 'web'`` on a NULL source — and
    # filter would drop those rows: silent data loss on any nullable
    # column.  Coalesce makes NULL mean "not matched, keep".
    kept = existing.filter(~F.coalesce(condition, F.lit(False)))
    # Partitions we selected for rewrite but that end up with zero
    # surviving rows would be absent from the staged write — replace
    # semantics would then keep their OLD directories live.  Name every
    # selected partition as droppable; _merge un-drops the ones the
    # staged write repopulates.  The selection is also the snapshot
    # guard: abort if a racing writer changed any of them since our read.
    selected = _matching(prev, partition_filter)
    return _stage_and_commit(
        root, partition_cols, txid, "replace", _spark_stage(kept, partition_cols),
        _crash_before_commit, prev=prev, expect_dirs=selected,
        drop_parts=list(selected),
    )
