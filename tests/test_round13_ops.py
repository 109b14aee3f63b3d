"""Round-13 operators: serving-side snapshot pinning for the standing
BM25 artifacts, the adopt_partitions schema guard, postings compaction,
delete propagation to the standing retrieval indexes, and the
searchable curation gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# ADVICE r12: adopt_partitions must not flip the declared schema over
# retained old-schema partitions
# --------------------------------------------------------------------------


def test_adopt_partitions_schema_guard(spark, tmp_path):
    from data_engineer_coder_spark.io.acid_table import (
        adopt_partitions,
        current_manifest,
        replace_partitions,
    )

    dst = str(tmp_path / "dst")
    replace_partitions(
        spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "id long, v string, b int"),
        dst, ["b"], "t0",
    )
    # schema-evolved staging table covering only bucket 0 → must refuse
    src1 = str(tmp_path / "src1")
    replace_partitions(
        spark.createDataFrame([(1, "a", 7, 0)], "id long, v string, extra int, b int"),
        src1, ["b"], "s0",
    )
    with pytest.raises(ValueError, match="schema differs"):
        adopt_partitions(src1, dst, ["b"], "swap-bad")
    # same staging schema covering EVERY dst partition → allowed (the
    # staged-re-encode full swap), and the declared schema follows src
    src2 = str(tmp_path / "src2")
    replace_partitions(
        spark.createDataFrame(
            [(1, "a", 7, 0), (2, "b", 8, 1)], "id long, v string, extra int, b int"
        ),
        src2, ["b"], "s1",
    )
    man = adopt_partitions(src2, dst, ["b"], "swap-ok")
    assert man["schema"] == current_manifest(src2)["schema"]
    # partition-column mismatch on the dst side → must refuse
    with pytest.raises(ValueError, match="partition columns differ"):
        adopt_partitions(src2, dst, ["other"], "swap-cols")


# --------------------------------------------------------------------------
# ADVICE r12: BM25 serving pins postings/forward to the ledger-consistent
# version — a crash between the gate's table commits can't serve torn stats
# --------------------------------------------------------------------------


def test_bm25_serving_pins_to_ledger_snapshot(spark, tmp_path):
    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        latest_consistent_version,
        version_with_txid,
    )
    from data_engineer_coder_spark.streaming.bm25_ingest import (
        _ledger_snapshot,
        _served_scores,
    )
    from data_engineer_coder_spark.streaming.core import bm25_index_batch_frames

    roots = {n: str(tmp_path / n) for n in ("postings", "forward", "stats")}
    from data_engineer_coder_spark.streaming.core import bm25_table_layout

    bm25_table_layout(roots["postings"], roots["forward"])  # persist layout

    def _commit_epoch(rows, epoch, *, ledger=True):
        txid = f"epoch-{epoch}"
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fr = bm25_index_batch_frames(df)
        append_partitions(
            fr["postings"].withColumn("epoch", F.lit(epoch)),
            roots["postings"], ["tok_bucket"], txid,
        )
        append_partitions(
            fr["forward"].withColumn("epoch", F.lit(epoch)),
            roots["forward"], ["doc_bucket"], txid,
        )
        if ledger:
            st = fr["dl"].agg(
                F.count("*").alias("n"), F.sum("len").alias("lens")
            ).collect()[0]
            led = spark.createDataFrame(
                [(epoch, int(st["n"]), int(st["lens"]), 0, 0, 0)],
                "epoch int, n_docs long, len_sum long, doc_id_sum long, "
                "n_postings long, tf_sum long",
            )
            append_partitions(led, roots["stats"], ["epoch"], txid)

    _commit_epoch([(1, "spark writes parquet"), (2, "commit log")], 0)
    # epoch 1 CRASHES between the forward commit and the ledger commit:
    # postings+forward hold doc 3, the ledger's N/avglen exclude it
    _commit_epoch([(3, "spark spark spark torn snapshot")], 1, ledger=False)

    n, avglen, txids = _ledger_snapshot(spark, roots)
    assert (n, txids) == (2, {"epoch-0"})
    assert version_with_txid(roots["postings"], "epoch-0") == 1
    assert version_with_txid(roots["postings"], "epoch-1") == 2
    assert version_with_txid(roots["postings"], "epoch-nope") is None
    # the serving pin stops BEFORE the torn epoch-1 commit...
    assert latest_consistent_version(roots["postings"], txids) == 1
    # ...but a logically-neutral compact-* commit would not block it
    assert latest_consistent_version(
        roots["postings"], txids | {"epoch-1"}
    ) == 2

    q = spark.createDataFrame([(0, "spark")], "pid long, tok string")
    sc = _served_scores(
        spark, roots, q.withColumn("w", F.lit(1.0)), "bm25_e9"
    ).collect()
    # doc 3 matches 'spark' but sits in the torn epoch → must be invisible
    assert {int(r["id"]) for r in sc} == {1}
    # replaying the crashed epoch (now with its ledger row) converges
    _commit_epoch([(3, "spark spark spark torn snapshot")], 1)
    sc2 = _served_scores(
        spark, roots, q.withColumn("w", F.lit(1.0)), "bm25_e9"
    ).collect()
    assert {int(r["id"]) for r in sc2} == {1, 3}


# --------------------------------------------------------------------------
# two-stage long-query serve: with m >= |vocab| the candidate cut is
# vacuous, so the two-stage result must equal the exact served top-k
# --------------------------------------------------------------------------


def test_two_stage_equals_exact_when_terms_cover_vocab(spark, tmp_path):
    from data_engineer_coder_spark.io.acid_table import replace_partitions
    from data_engineer_coder_spark.operators.similarity import _probe_topk
    from data_engineer_coder_spark.streaming.bm25_ingest import (
        _served_scores,
        _two_stage_served,
    )
    from data_engineer_coder_spark.streaming.core import bm25_index_batch_frames

    docs = spark.createDataFrame(
        [
            (1, "spark writes parquet files"),
            (2, "spark reads parquet"),
            (3, "manifest commit log log log"),
            (4, "parquet manifest spark"),
            (5, "commit log spark spark"),
        ],
        "doc_id long, text string",
    )
    roots = {n: str(tmp_path / n) for n in ("postings", "forward", "stats", "tokstats")}
    from data_engineer_coder_spark.streaming.core import bm25_table_layout

    tokb, fwdb = bm25_table_layout(
        roots["postings"], roots["forward"], roots["tokstats"]
    )
    fr = bm25_index_batch_frames(docs, tokb, fwdb)
    from pyspark.sql import functions as F

    replace_partitions(
        fr["postings"].withColumn("epoch", F.lit(-1)),
        roots["postings"], ["tok_bucket"], "bulk-load",
    )
    replace_partitions(
        fr["forward"].withColumn("epoch", F.lit(-1)),
        roots["forward"], ["doc_bucket"], "bulk-load",
    )
    st = fr["dl"].agg(F.count("*").alias("n"), F.sum("len").alias("l")).collect()[0]
    replace_partitions(
        spark.createDataFrame(
            [(-1, int(st["n"]), int(st["l"]))], "epoch int, n_docs long, len_sum long"
        ),
        roots["stats"], ["epoch"], "bulk-load",
    )
    replace_partitions(
        fr["postings"].groupBy("tok", "tok_bucket").agg(F.count("*").alias("df"))
        .withColumn("epoch", F.lit(-1)),
        roots["tokstats"], ["tok_bucket"], "bulk-load",
    )
    qt = docs.filter(F.col("doc_id") <= 2).select(
        F.col("doc_id").alias("pid"), F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    exact = sorted(
        (int(r["pid"]), int(r["id"]), int(r["rn"]), int(r["bm25_e9"]))
        for r in _probe_topk(
            _served_scores(spark, roots, qt.withColumn("w", F.lit(1.0)), "bm25_e9"),
            5, "pid", "bm25_e9", "id",
        ).collect()
    )
    two = sorted(
        (int(r["pid"]), int(r["id"]), int(r["rn"]), int(r["bm25_e9"]))
        for r in _two_stage_served(spark, roots, qt, n_terms=100).collect()
    )
    assert two == exact


# --------------------------------------------------------------------------
# searchable curation gate: docs WITHOUT a vector are lexical-only —
# they land in the postings but never in the ANN index (the driver
# fixtures' embeddings cover every doc, so this path needs a unit test)
# --------------------------------------------------------------------------


def test_searchable_gate_lexical_only_docs(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from data_engineer_coder_spark.io.acid_table import (
        read_table,
        replace_partitions,
    )
    from data_engineer_coder_spark.operators.similarity import _ivf_cents
    from data_engineer_coder_spark.streaming.core import (
        write_stream_curation_gate,
    )

    # 3 arriving docs: 10/12 carry vectors, 14 is lexical-only
    vecs = {10: [1000000] * 8, 12: [999999] * 7 + [1000001]}
    rows = [
        (10, "alpha beta gamma delta", vecs[10], sum(v * v for v in vecs[10])),
        (12, "epsilon zeta eta theta", vecs[12], sum(v * v for v in vecs[12])),
        (14, "iota kappa lam mu", None, None),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        rows, "doc_id long, text string, qv array<bigint>, nrm long"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    names = ("eval", "sigs", "docs", "quarantine", "verdicts", "stats",
             "postings", "forward", "bm25_stats", "cents", "ann")
    roots = {n: str(tmp_path / n) for n in names}
    # empty-ish eval index (one gram no doc contains) + a centroid table
    replace_partitions(
        spark.createDataFrame([("x y z q w e r t",) ], "g string")
        .withColumn("b", F.lit(0)),
        roots["eval"], ["b"], "eval-build",
    )
    nv = spark.createDataFrame(
        [(k, v, sum(x * x for x in v)) for k, v in vecs.items()],
        "vec_id long, qv array<bigint>, nrm long",
    )
    replace_partitions(
        _ivf_cents(nv).withColumn("b", F.lit(0)), roots["cents"], ["b"], "cents-build",
    )
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = write_stream_curation_gate(
        sdf, roots["eval"], roots["sigs"], roots["docs"],
        roots["quarantine"], roots["verdicts"], roots["stats"],
        search_roots={
            k: roots[k]
            for k in ("postings", "forward", "bm25_stats", "cents", "ann")
        },
    )
    assert q.awaitTermination(300)
    assert read_table(spark, roots["docs"]).count() == 3  # all accepted
    post_docs = {
        int(r["doc_id"])
        for r in read_table(spark, roots["postings"]).select("doc_id").distinct().collect()
    }
    assert post_docs == {10, 12, 14}  # lexical index holds ALL accepted
    ann_docs = {
        int(r["vec_id"])
        for r in read_table(spark, roots["ann"]).select("vec_id").distinct().collect()
    }
    assert ann_docs == {10, 12}  # ANN holds only the vector-carrying ones
    led = read_table(spark, roots["bm25_stats"]).collect()[0]
    assert int(led["n_docs"]) == 3 and int(led["len_sum"]) == 12
