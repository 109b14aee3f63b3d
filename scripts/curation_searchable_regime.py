#!/usr/bin/env python
"""Round 13: continuous-regime point for the SEARCHABLE curation gate.

Each component is measured flat separately (near-dup probe — sixth
campaign; BM25 ingest — `bm25_ingest_regime`; ANN ingest —
`ann_ingest_regime`); this measures the COMPOSITION: one fixed
2 000-doc probe epoch through `write_stream_curation_gate(search_roots=…)`
— near-dup screen + decontamination + verdict/ledger + postings/
forward/BM25-ledger + ANN assignment appends, one txid — against
standing tables seeded from ov-sf1 (~50k docs) vs ov-sf10 (~500k).
Flat ⇒ the composition adds no cross-term that scales with any
standing table.

Usage: python scripts/curation_searchable_regime.py [small big [passes]]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_engineer_coder_spark.io.acid_table import replace_partitions  # noqa: E402
from data_engineer_coder_spark.io.tables import table  # noqa: E402
from data_engineer_coder_spark.operators.dedup import (  # noqa: E402
    minhash_from_hashes,
    shingle_hashes,
)
from data_engineer_coder_spark.operators.retrieval_served import (  # noqa: E402
    _cell_bucket,
)
from data_engineer_coder_spark.operators.similarity import (  # noqa: E402
    _dot,
    _ivf_cents,
    _qvec,
    _two_level_assign,
)
from data_engineer_coder_spark.operators.textops import (  # noqa: E402
    _DECON_MOD,
    _DECON_N,
    ngram_array,
)
from data_engineer_coder_spark.session import get_spark  # noqa: E402
from data_engineer_coder_spark.streaming.core import (  # noqa: E402
    _append_neardup_index,
    bm25_index_batch_frames,
    write_stream_curation_gate,
)

EPOCH_DOCS = 2000
EVAL_DOCS = 500  # fixed-size standing eval index (≈ the ov-sf1 eval count)


def _seed(spark, sf_dir: str, tmp: str) -> dict:
    """Bulk-seed every standing table the searchable gate touches."""
    names = ("eval", "sigs", "docs", "quarantine", "verdicts", "stats",
             "postings", "forward", "bm25_stats", "cents", "ann")
    roots = {n: os.path.join(tmp, n) for n in names}
    roots["bands"] = roots["sigs"] + "_bands"
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.pmod("doc_id", F.lit(_DECON_MOD)) == 0
    # FIXED-SIZE eval index (VERDICT r13 #7): the r13 regime let the
    # eval set grow ∝ corpus (doc_id % 97), which contributed ~54% of
    # the measured epoch-cost growth — an artifact of the fixture, not
    # the deployment claim (a production eval set is fixed while the
    # corpus grows).  Pin the first EVAL_DOCS eval docs at every scale
    # so the regime's exponent reflects the standing-corpus term alone.
    ev = (
        docs.filter(is_eval)
        .orderBy("doc_id")
        .limit(EVAL_DOCS)
        .select(F.explode(ngram_array(F.split("text", " "), _DECON_N)).alias("g"))
        .distinct()
        .withColumn("b", F.pmod(F.xxhash64("g"), F.lit(8)))
    )
    replace_partitions(ev.repartition(F.col("b")), roots["eval"], ["b"], "eval-build")
    train = docs.filter(~is_eval)
    sig = minhash_from_hashes(shingle_hashes(train)).withColumn(
        "epoch", F.lit(-1)
    )
    _append_neardup_index(sig, roots["sigs"], roots["bands"], "bulk-load")
    # corpus-scaled persisted layout (the _build_standing_index rule) so
    # the regime measures the realistic bucket fan-out per decade
    from data_engineer_coder_spark.io.layout import pow2_buckets
    from data_engineer_coder_spark.streaming.bm25_ingest import _TOKENS_PER_BUCKET
    from data_engineer_coder_spark.streaming.core import bm25_table_layout

    lstat = train.select(F.size(F.split("text", " ")).alias("len")).agg(
        F.coalesce(F.sum("len"), F.lit(0)).alias("l")
    ).collect()[0]
    want = pow2_buckets(int(lstat["l"]), _TOKENS_PER_BUCKET)
    tokb, fwdb = bm25_table_layout(
        roots["postings"], roots["forward"], tok_buckets=want, fwd_buckets=want
    )
    from data_engineer_coder_spark.io.layout import (
        align_bucketed_write,
        write_parts,
    )

    fr = bm25_index_batch_frames(train, tokb, fwdb)
    replace_partitions(
        align_bucketed_write(
            fr["postings"].withColumn("epoch", F.lit(-1)),
            ["tok_bucket"], ["tok"], write_parts(int(lstat["l"]), tokb),
            n_buckets=tokb,
        ),
        roots["postings"], ["tok_bucket"], "bulk-load",
    )
    replace_partitions(
        align_bucketed_write(
            fr["forward"].withColumn("epoch", F.lit(-1)),
            ["doc_bucket"], ["doc_id"], write_parts(int(lstat["l"]), fwdb),
            n_buckets=fwdb,
        ),
        roots["forward"], ["doc_bucket"], "bulk-load",
    )
    st = fr["dl"].agg(
        F.count("*").alias("n"), F.coalesce(F.sum("len"), F.lit(0)).alias("l")
    ).collect()[0]
    replace_partitions(
        spark.createDataFrame(
            [(-1, int(st["n"]), int(st["l"]))],
            "epoch int, n_docs long, len_sum long",
        ),
        roots["bm25_stats"], ["epoch"], "bulk-load",
    )
    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", _qvec("embedding").alias("qv"))
        .select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    )
    cents = _ivf_cents(emb.filter(F.pmod("vec_id", F.lit(10)) == 0))
    replace_partitions(
        cents.withColumn("b", F.pmod("centroid_id", F.lit(4))),
        roots["cents"], ["b"], "cents-build",
    )
    from data_engineer_coder_spark.operators.retrieval_served import cell_layout

    cellb = cell_layout(roots["ann"], n_cells=cents.count())
    replace_partitions(
        align_bucketed_write(
            _two_level_assign(emb, cents)
            .select("vec_id", "centroid_id", "qv", "nrm")
            .withColumn("epoch", F.lit(-1))
            .withColumn("cell_bucket", _cell_bucket(F.col("centroid_id"), cellb)),
            ["cell_bucket"], ["centroid_id", "vec_id"],
            write_parts(cents.count() * 125, cellb, rows_per_file=250_000),
                n_buckets=cellb,
        ),
        roots["ann"], ["cell_bucket"], "bulk-load",
    )
    return roots


def _timed_probe_epoch(spark, probe, roots) -> float:
    src = tempfile.mkdtemp(prefix="crprobe_")
    try:
        part = os.path.join(src, "part")
        probe.coalesce(1).write.parquet(part)
        f = next(x for x in os.listdir(part) if x.endswith(".parquet"))
        sdir = os.path.join(src, "stream")
        os.makedirs(sdir)
        os.rename(os.path.join(part, f), os.path.join(sdir, "p0.parquet"))
        schema = spark.read.parquet(sdir).schema
        t0 = time.time()
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(sdir)
        )
        q = write_stream_curation_gate(
            sdf, roots["eval"], roots["sigs"], roots["docs"],
            roots["quarantine"], roots["verdicts"], roots["stats"],
            bands_root=roots["bands"],
            search_roots={
                k: roots[k]
                for k in ("postings", "forward", "bm25_stats", "cents", "ann")
            },
        )
        if not q.awaitTermination(1800):
            q.stop()
            raise TimeoutError("probe epoch did not finish")
        return time.time() - t0
    finally:
        shutil.rmtree(src, ignore_errors=True)


def main() -> None:
    args = sys.argv[1:]
    small = args[0] if args else "perfdata/ov-sf1"
    big = args[1] if len(args) > 1 else "perfdata/ov-sf10"
    passes = int(args[2]) if len(args) > 2 else 1
    spark = get_spark("curation-searchable-regime", cpus="32", driver_memory="32g")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    # the FIXED probe epoch: first 2000 small-dir docs, re-keyed clear of
    # both corpora's id ranges, with their embeddings riding along
    docs = table(spark, small, "documents").select("doc_id", "text")
    emb = (
        table(spark, small, "embeddings")
        .select("vec_id", _qvec("embedding").alias("qv"))
        .select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    )
    probe = (
        docs.join(emb, docs["doc_id"] == emb["vec_id"], "left")
        .orderBy("doc_id")
        .limit(EPOCH_DOCS)
        .select((F.col("doc_id") + 100_000_000).alias("doc_id"), "text", "qv", "nrm")
        .localCheckpoint()
    )
    def scenario(d: str) -> dict:
        # one seed, ONE timed probe epoch: a second pass through the
        # same standing tables would reuse txid epoch-0 and no-op every
        # append (exactly-once), so min-of-N needs a reseed per pass
        tmp = tempfile.mkdtemp(prefix="crsr_")
        try:
            t0 = time.time()
            roots = _seed(spark, d, tmp)
            t_seed = time.time() - t0
            t = _timed_probe_epoch(spark, probe, roots)
            n = table(spark, d, "documents").count()
            return {
                "dir": os.path.basename(d.rstrip("/")),
                "n_corpus_docs": int(n),
                "t_seed": round(t_seed, 2),
                "t_probe_epoch": t,
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    scenario(small)  # JIT/stream-machinery warmup, discarded
    out = {}
    for tag, d in (("small", small), ("big", big)):
        best = None
        for _ in range(passes):
            r = scenario(d)
            if best is None or r["t_probe_epoch"] < best["t_probe_epoch"]:
                best = r
        best["t_probe_epoch"] = round(best["t_probe_epoch"], 2)
        out[tag] = best
        print(f"  [{tag}] {out[tag]}", flush=True)
    out["ratio"] = round(
        out["big"]["t_probe_epoch"] / out["small"]["t_probe_epoch"], 2
    )
    print(json.dumps({"metric": "curation_searchable_regime", **out}))


if __name__ == "__main__":
    main()
