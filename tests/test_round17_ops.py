"""Round 17: one epoch transaction for every ACID stream sink.

Every gate and plain ACID sink commits a micro-batch through one
``EpochTxn``: one ``epoch-N`` txid, standing reads pinned before it,
bucket-aligned appends, and the one-row ledgers last.  These tests pin
the commit order that rule promises, and the equivalence of the two
compaction paths the gates' index maintenance relies on.
"""

from __future__ import annotations

import os
import re
import time

import pytest
from pyspark.sql import functions as F

import data_engineer_coder_spark.io.acid_table as at
from data_engineer_coder_spark.io.acid_table import (
    append_partitions,
    compact_partitions,
    current_manifest,
    read_table,
    replace_partitions,
)
from data_engineer_coder_spark.streaming import core

_EVAL = "the secret benchmark answer is forty two exactly no more"
_DUP = "a perfectly ordinary training document about spark and parquet files"
_DOCS = (
    [
        (10, _DUP),
        (12, f"prefix words here then {_EVAL} trailing tail"),
        (14, "another unrelated document mentioning manifests commits and snapshots"),
    ],
    [(21, _DUP + " too"), (23, "a short clean document about bucketed tables")],
)


def _vec(i: int) -> list[int]:
    return [((i * 31 + d * 7) % 100) * 100000 for d in range(64)]


def _ordered_src(spark, tmp_path, epochs, ddl):
    """Write the row lists as ordered single-file stream epochs."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    for i, rows in enumerate(epochs):
        part = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(part)
        f = next(x for x in os.listdir(part) if x.endswith(".parquet"))
        dst = os.path.join(src, f"e{i}.parquet")
        os.rename(os.path.join(part, f), dst)
        os.utime(dst, (now + 30 * i, now + 30 * i))
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)


def _docs_stream(spark, tmp_path):
    return _ordered_src(
        spark, tmp_path,
        [[(i, t, _vec(i), sum(x * x for x in _vec(i))) for i, t in e] for e in _DOCS],
        "doc_id long, text string, qv array<bigint>, nrm long",
    )


def _events_stream(spark, tmp_path):
    from datetime import datetime

    return _ordered_src(
        spark, tmp_path,
        [
            [(datetime(2024, 1, 1, 9), "click", 1.5), (datetime(2024, 1, 2, 9), "view", -2.0)],
            [(datetime(2024, 1, 2, 10), "click", 4.0)],
        ],
        "ts timestamp, event_type string, value double",
    )


def _eval_index(spark, root):
    from data_engineer_coder_spark.operators.textops import _DECON_N, ngram_array

    replace_partitions(
        spark.createDataFrame([(_EVAL,)], "text string")
        .select(F.explode(ngram_array(F.split("text", " "), _DECON_N)).alias("g"))
        .distinct()
        .withColumn("b", F.lit(0)),
        root, ["b"], "eval-build",
    )


def _quantizer(spark, roots, codebook: bool = False):
    from data_engineer_coder_spark.operators.similarity import (
        _dot,
        _ivf_cents,
        _pq_seed_row,
        _pq_train_entries,
    )

    boot = spark.createDataFrame(
        [(i, _vec(i)) for i in range(20)], "vec_id long, qv array<bigint>"
    ).withColumn("nrm", _dot(F.col("qv"), F.col("qv")))
    replace_partitions(
        _ivf_cents(boot).withColumn("b", F.pmod("centroid_id", F.lit(4))),
        roots["cents"], ["b"], "quantizer-build",
    )
    if codebook:
        vq = boot.select("vec_id", "qv")
        replace_partitions(
            _pq_train_entries(vq, _pq_seed_row(vq)), roots["codebook"], ["s"],
            "quantizer-build",
        )


def _neardup(spark, tmp_path, r):
    return core.write_stream_neardup_gate(
        _docs_stream(spark, tmp_path), r["sigs"], r["docs"], r["stats"],
        df_cap=1, df_root=r["df"], checkpoint=r["ckpt"],
    )


def _decontam(spark, tmp_path, r):
    return core.write_stream_decontam_gate(
        _docs_stream(spark, tmp_path), r["eval"], r["docs"], r["stats"],
        quarantine_root=r["quarantine"], checkpoint=r["ckpt"],
    )


def _ann(spark, tmp_path, r):
    sdf = _ordered_src(
        spark, tmp_path,
        [[(i, _vec(i), sum(x * x for x in _vec(i))) for i in ids]
         for ids in (range(100, 104), range(104, 107))],
        "vec_id long, qv array<bigint>, nrm long",
    )
    return core.write_stream_ann_index_gate(
        sdf, r["cents"], r["codebook"], r["index"], r["stats"], checkpoint=r["ckpt"]
    )


def _bm25(spark, tmp_path, r):
    return core.write_stream_bm25_index_gate(
        _docs_stream(spark, tmp_path), r["postings"], r["forward"], r["stats"],
        checkpoint=r["ckpt"], tokstats_root=r["tokstats"],
    )


def _curation(spark, tmp_path, r):
    return core.write_stream_curation_gate(
        _docs_stream(spark, tmp_path), r["eval"], r["sigs"], r["docs"],
        r["quarantine"], r["verdicts"], r["stats"], checkpoint=r["ckpt"],
        search_roots={k: r[k] for k in ("postings", "forward", "bm25_stats", "cents", "ann")},
    )


def _exactly_once(spark, tmp_path, r):
    return core.write_stream_exactly_once(
        _events_stream(spark, tmp_path), r["docs"], ["event_type"], checkpoint=r["ckpt"]
    )


def _quarantine(spark, tmp_path, r):
    return core.write_stream_with_quarantine(
        _events_stream(spark, tmp_path), {"positive": F.col("value") > 0},
        r["docs"], r["quarantine"], ["event_type"], checkpoint=r["ckpt"],
    )


def _rollup(spark, tmp_path, r):
    return core.write_stream_rollup_merge(
        _events_stream(spark, tmp_path), r["rollup"], checkpoint=r["ckpt"]
    )


def _searchable_inputs(spark, r):
    _eval_index(spark, r["eval"])
    _quantizer(spark, r)


# sink → (standing-input build, stream start, the ledger tables it
# commits in the order they land)
_SINKS = {
    "neardup_df_cap": (None, _neardup, ["stats"]),
    "decontam": (lambda spark, r: _eval_index(spark, r["eval"]), _decontam, ["stats"]),
    "ann": (lambda spark, r: _quantizer(spark, r, codebook=True), _ann, ["stats"]),
    "bm25": (None, _bm25, ["stats"]),
    "curation_searchable": (_searchable_inputs, _curation, ["bm25_stats", "stats"]),
    "exactly_once": (None, _exactly_once, []),
    "quarantine": (None, _quarantine, []),
    "rollup_merge": (None, _rollup, []),
}


@pytest.mark.parametrize("sink", sorted(_SINKS))
def test_epoch_commits_share_txid_and_end_with_ledgers(spark, tmp_path, monkeypatch, sink):
    """Every table commit of an epoch carries ``epoch-N``, epochs commit
    in order, the ledgers are each epoch's last commits, and the BM25
    stats ledger follows postings, forward and ANN."""
    setup, start, ledgers = _SINKS[sink]
    names = ("sigs", "docs", "stats", "df", "eval", "quarantine", "verdicts",
             "postings", "forward", "tokstats", "bm25_stats", "cents", "ann",
             "codebook", "index", "rollup", "ckpt")
    roots = {n: str(tmp_path / n) for n in names}
    if setup is not None:
        setup(spark, roots)

    # only the stream's own commits are recorded, as (table, txid)
    log: list[tuple[str, str]] = []
    for name, root_at in (("append_partitions", 1), ("replace_partitions", 1),
                          ("append_rows", 3)):
        def wrapped(*a, _real=getattr(at, name), _i=root_at, **k):
            log.append((os.path.basename(a[_i]), a[_i + 2]))
            return _real(*a, **k)

        monkeypatch.setattr(at, name, wrapped)

    q = start(spark, tmp_path, roots)
    assert q.awaitTermination(300)
    assert q.exception() is None

    assert all(re.fullmatch(r"epoch-\d+", t) for _, t in log), log
    epochs = [int(t.split("-")[1]) for _, t in log]
    assert epochs == sorted(epochs) and sorted(set(epochs)) == [0, 1], log
    n = len(ledgers)
    for e in (0, 1):
        tables = [r for r, t in log if t == f"epoch-{e}"]
        if n:
            assert tables[-n:] == ledgers, (e, tables)
            assert not set(tables[:-n]) & set(ledgers), (e, tables)
        if "bm25_stats" in tables:
            assert all(
                tables.index(t) < tables.index("bm25_stats")
                for t in ("postings", "forward", "ann")
            ), (e, tables)


def test_compaction_one_job_path_equals_per_partition_path(spark, tmp_path, monkeypatch):
    """Sorted compaction of a multi-partition, multi-epoch table: the
    one-job path and the per-partition fallback keep the same rows in
    every partition, the same manifest partition keys, and record
    zone-map stats for every compacted file."""
    roots = {p: str(tmp_path / p) for p in ("one_job", "per_part")}
    for root in roots.values():
        for e in range(3):  # three appends → three dirs per partition
            append_partitions(
                spark.createDataFrame(
                    [(e * 100 + i, f"k{(i * 7 + e) % 13:02d}", i % 3, "ab"[i % 2])
                     for i in range(12)],
                    "doc_id long, band_key string, bj int, tier string",
                ),
                root, ["bj", "tier"], f"epoch-{e}",
            )
    compact_partitions(spark, roots["one_job"], "compact-1", sort_by=["doc_id"])
    # a pattern no value matches forces the per-partition path
    monkeypatch.setattr(at, "_SAFE_PART_VAL", re.compile(r"(?!)"))
    compact_partitions(spark, roots["per_part"], "compact-1", sort_by=["doc_id"])

    mans = {p: current_manifest(root) for p, root in roots.items()}
    assert sorted(mans["one_job"]["partitions"]) == sorted(mans["per_part"]["partitions"])
    assert len(mans["one_job"]["partitions"]) == 6

    def by_partition(root):
        got: dict[tuple, list] = {}
        for r in read_table(spark, root).collect():
            got.setdefault((r["bj"], r["tier"]), []).append((r["doc_id"], r["band_key"]))
        return {k: sorted(v) for k, v in got.items()}

    assert by_partition(roots["one_job"]) == by_partition(roots["per_part"])
    for p, man in mans.items():
        for pkey, dirs in man["partitions"].items():
            assert [d.split("/")[1] for d in dirs] == ["compact-1"], (p, pkey)
            files = [f for d in dirs for f in man["dir_files"][d]]
            assert files, (p, pkey)
            for f in files:
                lo, hi = f["stats"]["doc_id"]
                assert lo <= hi, (p, pkey, f)
