#!/usr/bin/env python
"""Round 13 maintenance regime: (a) postings compaction's serve-cost
repair, (b) delete-propagation cost across a corpus decade.

(a) COMPACTION — the ninth campaign showed keyword-probe files-read
creeping with generations (16 → 32 of 498 as epochs accumulate).
Here: bulk-load the standing index, stream E additional fixed-size
epochs (one generation per bucket each), measure the 3-term keyword
serve and its zone-map files-read, then run the sort-restoring
``compact-*`` pass and re-measure.  Expected: files-read back to ~the
bulk level, serve latency non-worse, rows/scores bit-identical.

(b) DELETE — propagate a 10-doc takedown (each probe's served top-1)
to postings/forward/ANN at ov-sf1 vs ov-sf10 and report per-table
wall seconds plus how many partitions each rewrite touched vs kept.
Honest shape note: whole-document deletes touch ~every 16-bucket token
partition (a long doc's tokens hash everywhere), so the postings
rewrite is ∝ rows in touched buckets — the forward/ANN legs are the
bucket-pruned ones at this bucket count; more buckets (∝ corpus) is
the dial that makes the postings leg prune too.

Usage: python scripts/maintenance_regime.py [--epochs E] [--passes N] [dir ...]
Defaults: --epochs 6 --passes 2, dirs = perfdata/ov-sf1 perfdata/ov-sf10
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F  # noqa: E402

from data_engineer_coder_spark.io.acid_table import (  # noqa: E402
    append_partitions,
    compact_partitions,
    current_manifest,
    files_selected,
)
from data_engineer_coder_spark.io.tables import table  # noqa: E402
from data_engineer_coder_spark.operators.retrieval_served import (  # noqa: E402
    _cell_bucket,
)
from data_engineer_coder_spark.operators.similarity import (  # noqa: E402
    _dot,
    _ivf_cents,
    _qvec,
    _two_level_assign,
)
from data_engineer_coder_spark.session import get_spark  # noqa: E402
from data_engineer_coder_spark.streaming.bm25_ingest import (  # noqa: E402
    _build_standing_index,
    _probe_qt,
    _served_scores,
    _term_range_filter,
)
from data_engineer_coder_spark.streaming.core import (  # noqa: E402
    bm25_index_batch_frames,
)

EPOCH_DOCS = 2000


def _append_epoch(spark, roots, docs, epoch: int) -> None:
    from data_engineer_coder_spark.streaming.core import bm25_table_layout

    txid = f"epoch-{epoch}"
    tokb, fwdb = bm25_table_layout(roots["postings"], roots["forward"])
    fr = bm25_index_batch_frames(docs, tokb, fwdb)
    append_partitions(
        fr["postings"].withColumn("epoch", F.lit(epoch)),
        roots["postings"], ["tok_bucket"], txid,
    )
    st = fr["dl"].agg(
        F.count("*").alias("n"), F.coalesce(F.sum("len"), F.lit(0)).alias("l")
    ).collect()[0]
    append_partitions(
        spark.createDataFrame(
            [(epoch, int(st["n"]), int(st["l"]))],
            "epoch int, n_docs long, len_sum long",
        ),
        roots["stats"], ["epoch"], txid,
    )


def _keyword_serve(spark, roots, qk, passes) -> tuple[float, list]:
    t = float("inf")
    rows = None
    for _ in range(passes):
        t0 = time.time()
        sc = _served_scores(spark, roots, qk.withColumn("w", F.lit(1.0)), "bm25_e9")
        rows = sorted(
            (int(r["pid"]), int(r["id"]), int(r["bm25_e9"])) for r in sc.collect()
        )
        t = min(t, time.time() - t0)
    return t, rows


def _files_read(roots, toks) -> tuple[int, int]:
    audit = files_selected(roots["postings"], stats_filter=_term_range_filter(toks))
    total = sum(len(v) for v in audit.values())
    read = sum(1 for v in audit.values() for _, keep in v if keep)
    return read, total


def _compaction_scenario(spark, sf_dir, n_epochs, passes) -> dict:
    tmp = tempfile.mkdtemp(prefix="maintc_")
    try:
        roots = _build_standing_index(spark, sf_dir, tmp)
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        base = docs.orderBy("doc_id").limit(EPOCH_DOCS).localCheckpoint()
        maxid = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        for e in range(n_epochs):
            _append_epoch(
                spark, roots,
                base.select(
                    (F.col("doc_id") + maxid * (e + 1)).alias("doc_id"), "text"
                ),
                e,
            )
        qk = (
            docs.filter(F.col("doc_id") < 5)
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .distinct().orderBy("tok").limit(3)
            .select(F.lit(0).cast("long").alias("pid"), "tok")
            .localCheckpoint()
        )
        toks = sorted(r["tok"] for r in qk.collect())
        fr_pre, ftot_pre = _files_read(roots, toks)
        t_pre, rows_pre = _keyword_serve(spark, roots, qk, passes)
        t0 = time.time()
        compact_partitions(
            spark, roots["postings"], "compact-regime-1", sort_by=["tok"]
        )
        t_compact = time.time() - t0
        fr_post, ftot_post = _files_read(roots, toks)
        t_post, rows_post = _keyword_serve(spark, roots, qk, passes)
        assert rows_pre == rows_post, "serve drifted across compaction"
        return {
            "n_epochs_appended": n_epochs,
            "files_read_pre": fr_pre, "files_total_pre": ftot_pre,
            "files_read_post": fr_post, "files_total_post": ftot_post,
            "t_serve_pre": round(t_pre, 2), "t_serve_post": round(t_post, 2),
            "t_compact": round(t_compact, 2),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _delete_scenario(spark, sf_dir, passes) -> dict:
    from data_engineer_coder_spark.io.acid_table import replace_partitions

    tmp = tempfile.mkdtemp(prefix="maintd_")
    try:
        roots = _build_standing_index(spark, sf_dir, tmp)
        ann_root = os.path.join(tmp, "ann_index")
        nv = (
            table(spark, sf_dir, "embeddings")
            .select("vec_id", _qvec("embedding").alias("qv"))
            .select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
        )
        from data_engineer_coder_spark.operators.retrieval_delete import (
            propagate_retrieval_delete,
        )
        from data_engineer_coder_spark.operators.retrieval_served import cell_layout

        from data_engineer_coder_spark.io.layout import (
            align_bucketed_write,
            write_parts,
        )

        cents = _ivf_cents(nv.filter(F.pmod("vec_id", F.lit(10)) == 0)).localCheckpoint()
        cellb = cell_layout(ann_root, n_cells=cents.count())
        replace_partitions(
            align_bucketed_write(
                _two_level_assign(nv, cents)
                .select("vec_id", "centroid_id", "qv", "nrm")
                .withColumn("cell_bucket", _cell_bucket(F.col("centroid_id"), cellb)),
                ["cell_bucket"], ["centroid_id", "vec_id"],
                write_parts(cents.count() * 125, cellb, rows_per_file=250_000),
                n_buckets=cellb,
            ),
            ann_root, ["cell_bucket"], "bulk-load",
        )
        qt = _probe_qt(spark, sf_dir).localCheckpoint()
        pre = _served_scores(spark, roots, qt.withColumn("w", F.lit(1.0)), "bm25_e9")
        w1 = Window.partitionBy("pid").orderBy(F.desc("bm25_e9"), F.asc("id"))
        del_ids = sorted({
            int(r["id"])
            for r in pre.withColumn("rn", F.row_number().over(w1))
            .filter(F.col("rn") == 1).select("id").collect()
        })
        cell_buckets = {
            str(r["b"]) for r in _two_level_assign(
                nv.filter(F.col("vec_id").isin(del_ids)), cents
            ).select(
                _cell_bucket(F.col("centroid_id"), cellb).alias("b")
            ).distinct().collect()
        }
        # the full maintenance txn (library core): locate, delete all
        # four tables, tokstats corrections, ledger last
        t0 = time.time()
        touched = propagate_retrieval_delete(
            spark, roots, del_ids, "maint-delete-1",
            ann_root=ann_root, del_cell_buckets=cell_buckets,
        )
        t_txn = time.time() - t0
        n_tok = len(current_manifest(roots["postings"])["partitions"])
        n_fwd = len(current_manifest(roots["forward"])["partitions"])
        n_ann_parts = len(current_manifest(ann_root)["partitions"])
        return {
            "n_deleted_docs": len(del_ids),
            "t_delete_txn": round(t_txn, 2),
            "postings_buckets_touched": f"{len(touched['tok_buckets'])}/{n_tok}",
            "forward_buckets_touched": f"{len(touched['fwd_buckets'])}/{n_fwd}",
            "ann_buckets_touched": f"{len(cell_buckets)}/{n_ann_parts}",
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    argv = sys.argv[1:]
    passes, n_epochs = 2, 6
    dirs: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--passes"):
            passes = int(a.split("=", 1)[1]) if "=" in a else int(argv[(i := i + 1)])
        elif a.startswith("--epochs"):
            n_epochs = int(a.split("=", 1)[1]) if "=" in a else int(argv[(i := i + 1)])
        else:
            dirs.append(a)
        i += 1
    dirs = dirs or ["perfdata/ov-sf1", "perfdata/ov-sf10"]
    spark = get_spark("maintenance-regime", cpus="32", driver_memory="32g")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    out = {}
    for d in dirs:
        tag = os.path.basename(d.rstrip("/"))
        out[f"{tag}:compaction"] = _compaction_scenario(spark, d, n_epochs, passes)
        print(f"  [{tag}:compaction] {out[f'{tag}:compaction']}", flush=True)
        out[f"{tag}:delete"] = _delete_scenario(spark, d, passes)
        print(f"  [{tag}:delete] {out[f'{tag}:delete']}", flush=True)
    print(json.dumps({"metric": "retrieval_maintenance_regime", **out}))


if __name__ == "__main__":
    main()
