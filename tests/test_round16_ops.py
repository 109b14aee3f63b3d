"""Round 16: one harness for the streaming ingest gates.

The gate drills share one runner (shuffle-partition conf scope, loud
timeout, checkpoint ownership) and the gates share one copy of each
epoch step.  These tests pin what that refactor must keep: checkpoint
hygiene, the decontamination gate's crash-replay convergence, the
per-drill Spark job counts, and the ACID table's path-derived
partition values.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from data_engineer_coder_spark import registry
from data_engineer_coder_spark.io.tables import TABLES, table
from data_engineer_coder_spark.io.acid_table import (
    append_partitions,
    compact_partitions,
    current_manifest,
    read_table,
    replace_partitions,
)

# Spark jobs each drill ran at sf0.001 on local[8] once no read inferred
# a schema (status-store counts, every fixture table read once first;
# they repeat exactly run to run).  A refactor that adds a job per epoch
# fails here without timing anything.
_GATE_JOB_CEILINGS = {
    "stream_decontaminate_ingest": 40,
    "stream_neardup_ingest": 102,
    "stream_bm25_index_ingest": 65,
    "stream_ann_index_ingest": 54,
    "stream_curation_ingest": 156,
    "stream_curation_searchable": 370,
    "stream_rollup_matview": 18,
}

# Batch ANN, clustering, dedup, text, ACID, hybrid and BM25 queries at
# sf0.001, counted the same way.  The retention check ran 55 or 56 jobs
# from one JVM to the next, and the delete audit ran one job more on some
# passes before, so each carries the higher count.
_BATCH_JOB_CEILINGS = {
    "cosine_topk": 3,
    "ann_lsh_topk": 6,
    "ann_lsh_multiprobe_topk": 6,
    "ivf_ann_topk": 15,
    "ivf_kmeans_topk": 29,
    "ann_index_bucket_probe": 28,
    "mmr_diversified_topk_served": 69,
    "mutual_knn_clusters": 71,
    "ngram_decontaminate": 8,
    "decontaminate_overlap": 6,
    "segment_dedup_keep_first": 5,
    "doc_chunk_windows": 1,
    "exact_substring_dedup": 6,
    "dedup_clusters": 26,
    "bm25_topk_served": 33,
    "acid_merge_upsert_audit": 18,
    "acid_partition_move_audit": 17,
    "acid_compaction_audit": 21,
    "bm25_index_compaction_audit": 190,
    "hybrid_rrf_retrieval": 12,
    "hybrid_recall_check": 17,
    "rag_context_pack": 13,
    "retrieval_rank_metrics": 15,
    "hybrid_rrf_retrieval_served": 49,
    "hybrid_served_recall_check": 62,
    "retrieval_rank_metrics_served": 55,
    "rag_chunk_pipeline": 84,
    "bm25_topk": 11,
    "bm25_rm3_expansion": 16,
    "bm25_rm3_expansion_served": 64,
    "bm25_longdoc_two_stage_served": 43,
    "bm25_two_stage_retention_check": 56,
    "bm25_serve_dispatch": 83,
    "retrieval_index_delete_audit": 172,
}


def _ordered_src(spark, tmp_path, epochs):
    """Write the given row lists as ordered single-file stream epochs."""
    import time

    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    for i, rows in enumerate(epochs):
        part = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(part)
        f = next(x for x in os.listdir(part) if x.endswith(".parquet"))
        dst = os.path.join(src, f"e{i}.parquet")
        os.rename(os.path.join(part, f), dst)
        os.utime(dst, (now + 30 * i, now + 30 * i))
    return src, spark.read.parquet(src).schema


def test_drills_leave_no_checkpoints(spark, sf_dir, tmp_path, monkeypatch):
    """Every checkpoint a gate drill or a run_to_memory query creates is
    deleted once its query has stopped."""
    from data_engineer_coder_spark.streaming import core

    base = tmp_path / "ckpts"
    base.mkdir()
    monkeypatch.setattr(
        core, "_ckpt_dir", lambda: tempfile.mkdtemp(prefix="ckpt_", dir=str(base))
    )
    q = registry.queries()
    for name in ("stream_decontaminate_ingest", "streaming_tumbling_events"):
        assert q[name](spark, sf_dir).count() > 0, name
        assert os.listdir(base) == [], name


def test_decontam_gate_crash_mid_epoch_converges(spark, tmp_path, monkeypatch):
    """T8h under a torn epoch: crash epoch 0's quarantine append (the
    docs append is already durable), restart with a fresh checkpoint,
    and the docs, quarantine and ledger tables must equal an uncrashed
    run's — the replay no-ops the durable docs append, duplicates
    nothing, and completes the rest."""
    import data_engineer_coder_spark.io.acid_table as at
    from data_engineer_coder_spark.operators.textops import _DECON_N, ngram_array
    from data_engineer_coder_spark.streaming import core

    eval_text = "the secret benchmark answer is forty two exactly no more"
    e0 = [
        (10, "a perfectly ordinary training document about spark and parquet"),
        (12, f"prefix words here then {eval_text} trailing tail"),
        (14, "another unrelated document mentioning manifests and commits"),
    ]
    e1 = [(21, f"{eval_text} again"), (23, "a short clean document")]
    src, schema = _ordered_src(spark, tmp_path, (e0, e1))
    eval_root = str(tmp_path / "eval")
    replace_partitions(
        spark.createDataFrame([(eval_text,)], "text string")
        .select(F.explode(ngram_array(F.split("text", " "), _DECON_N)).alias("g"))
        .distinct()
        .withColumn("b", F.lit(0)),
        eval_root, ["b"], "eval-build",
    )
    tables = ("docs", "quarantine", "stats")

    def _run(run: str, ckpt: str):
        roots = {n: str(tmp_path / run / n) for n in tables}
        sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        q = core.write_stream_decontam_gate(
            sdf, eval_root, roots["docs"], roots["stats"],
            quarantine_root=roots["quarantine"], checkpoint=str(tmp_path / ckpt),
        )
        q.awaitTermination(300)
        return roots

    def _rows(root):
        try:
            return sorted(tuple(r) for r in read_table(spark, root).collect())
        except ValueError:
            return []

    real = at.append_partitions
    calls = {"n": 0}

    def flaky(df, root, cols, txid, *a, **k):
        calls["n"] += 1
        if calls["n"] == 2:  # epoch 0: docs is call 1, quarantine call 2
            raise RuntimeError("injected crash mid-epoch")
        return real(df, root, cols, txid, *a, **k)

    monkeypatch.setattr(at, "append_partitions", flaky)
    try:
        _run("crashed", "ck0")
        raise AssertionError("injected crash did not surface")
    except Exception as e:  # StreamingQueryException wraps the injection
        assert "injected crash" in str(e)
    monkeypatch.setattr(at, "append_partitions", real)

    roots = {n: str(tmp_path / "crashed" / n) for n in tables}
    assert [r[0] for r in _rows(roots["docs"])] == [10, 14]  # durable
    assert _rows(roots["quarantine"]) == [] and _rows(roots["stats"]) == []

    _run("crashed", "ck1")  # fresh checkpoint: full replay
    want = _run("uncrashed", "ck2")
    for n in tables:
        got = _rows(roots[n])
        assert got == _rows(want[n]), n
        assert len(set(got)) == len(got), n
    assert [r[0] for r in _rows(roots["docs"])] == [10, 14, 23]
    assert [r[0] for r in _rows(roots["quarantine"])] == [12, 21]
    ledger = {
        int(r["epoch"]): (r["n_arrived"], r["arrived_id_sum"], r["n_contaminated"], r["n_accepted"])
        for r in read_table(spark, roots["stats"]).collect()
    }
    assert ledger == {0: (3, 36, 1, 2), 1: (2, 44, 1, 1)}


def test_gate_drill_job_count_ceiling(spark, sf_dir):
    """Job counts do not depend on the host: each drill and batch query
    may run at most the jobs it ran once no scan inferred a schema.
    Every fixture table is read once first, so no count depends on
    whether an earlier test already inferred that table's schema."""
    for t in TABLES:
        table(spark, sf_dir, t)
    sc = spark.sparkContext._jsc.sc()
    store, bus = sc.statusStore(), sc.listenerBus()

    def job_ids():
        bus.waitUntilEmpty()  # the status store is fed from the listener bus
        jobs = store.jobsList(None)  # a Scala Seq
        return [int(jobs.apply(i).jobId()) for i in range(jobs.size())]

    q = registry.queries()
    ceilings = {**_GATE_JOB_CEILINGS, **_BATCH_JOB_CEILINGS}
    got = {}
    for name in ceilings:
        last = max(job_ids(), default=-1)
        q[name](spark, sf_dir).collect()
        got[name] = sum(i > last for i in job_ids())
    assert all(got[n] <= c for n, c in ceilings.items()), (got, ceilings)


def test_partition_values_come_from_below_the_table_root(spark, tmp_path):
    """A table rooted under a hive-style ancestor dir (…/epoch=9/t)
    must read back — and compact — its OWN partition values, not the
    ancestor's."""
    root = str(tmp_path / "epoch=9" / "t")
    for e in range(2):  # two appends → two dirs per partition to compact
        append_partitions(
            spark.createDataFrame(
                [(e * 10 + i, i % 2) for i in range(4)], "doc_id long, epoch int"
            ),
            root, ["epoch"], f"a{e}",
        )
    compact_partitions(spark, root, "compact-1", sort_by=["doc_id"])
    man = current_manifest(root)
    assert "compact-1" in man["txids"]
    assert sorted(man["partitions"]) == ["epoch=0", "epoch=1"]
    got = sorted((int(r["doc_id"]), r["epoch"]) for r in read_table(spark, root).collect())
    assert got == sorted((e * 10 + i, str(i % 2)) for e in range(2) for i in range(4))
