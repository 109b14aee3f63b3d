#!/usr/bin/env python
"""Round 13 (VERDICT r12 #5): the two-stage long-query serving regime.

The ninth campaign pinned whole-document probes (~270 terms) at
Θ(matched postings) — 105 s at ov-sf100 — and rejected the WAND static
prefix as rank-unsafe.  This measures the rank-safe replacement
(`bm25_ingest._two_stage_served`): per ov decade, one standing-index
build, then min-of-N serves of

- the exact whole-doc probe (`_served_scores` — the 105 s baseline),
- the two-stage serve (rarest-32-term candidate cut + exact re-rank),

plus the two-stage's top-5 retention of the exact ranking on that
corpus (the honest 92k-word zipf fixture, per the r12 verdict).

Usage: python scripts/two_stage_regime.py [--passes N] [dir ...]
Defaults: perfdata/ov-sf1 perfdata/ov-sf10 perfdata/ov-sf100
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

from data_engineer_coder_spark.io.tables import table  # noqa: E402
from data_engineer_coder_spark.operators.similarity import _probe_topk  # noqa: E402
from data_engineer_coder_spark.session import get_spark  # noqa: E402
from data_engineer_coder_spark.streaming.bm25_ingest import (  # noqa: E402
    _build_standing_index,
    _probe_qt,
    _served_scores,
    _two_stage_served,
)


def _scenario(spark, sf_dir: str, passes: int) -> dict:
    from data_engineer_coder_spark.streaming.bm25_ingest import (
        _DISPATCH_CUTOFF,
        _ledger_snapshot,
        _query_dfreq,
    )

    tmp = tempfile.mkdtemp(prefix="ts_regime_")
    try:
        n_docs = table(spark, sf_dir, "documents").count()
        t0 = time.time()
        roots = _build_standing_index(spark, sf_dir, tmp)
        t_build = time.time() - t0
        qt = _probe_qt(spark, sf_dir).localCheckpoint()
        n_terms = qt.count()
        # the dispatcher's signal: per-probe matched-postings load
        # (Σ term df off the stage-0 tokstats read) vs the cutoff
        toks = sorted(r["tok"] for r in qt.select("tok").distinct().collect())
        _, _, led_txids = _ledger_snapshot(spark, roots)
        dfreq = _query_dfreq(spark, roots, toks, led_txids)
        loads = sorted(
            int(r["sdf"])
            for r in qt.join(dfreq, "tok").groupBy("pid")
            .agg(F.sum("df").alias("sdf")).collect()
        )
        n_two_stage = sum(1 for s in loads if s > _DISPATCH_CUTOFF)

        t_exact = float("inf")
        exact5 = None
        for _ in range(passes):
            t0 = time.time()
            sc = _served_scores(
                spark, roots, qt.withColumn("w", F.lit(1.0)), "bm25_e9"
            )
            exact5 = _probe_topk(sc, 5, "pid", "bm25_e9", "id").localCheckpoint()
            exact5.count()
            t_exact = min(t_exact, time.time() - t0)

        t_two = float("inf")
        two5 = None
        for _ in range(passes):
            t0 = time.time()
            two5 = _two_stage_served(spark, roots, qt).localCheckpoint()
            two5.count()
            t_two = min(t_two, time.time() - t0)

        hits = two5.select("pid", "id").join(
            exact5.select("pid", "id"),
            ["pid", "id"],
            "left_semi",
        ).count()
        slots = two5.count()
        return {
            "n_docs": int(n_docs),
            "n_query_term_rows": int(n_terms),
            "probe_load_min": loads[0],
            "probe_load_max": loads[-1],
            "dispatch_two_stage": f"{n_two_stage}/{len(loads)}",
            "t_build": t_build,
            "t_exact_serve": t_exact,
            "t_two_stage_serve": t_two,
            "retention5": round(hits / slots, 4),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    argv = sys.argv[1:]
    passes = 2
    dirs: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--passes"):
            if "=" in a:
                passes = int(a.split("=", 1)[1])
            else:
                passes = int(argv[i + 1])
                i += 1
        else:
            dirs.append(a)
        i += 1
    dirs = dirs or ["perfdata/ov-sf1", "perfdata/ov-sf10", "perfdata/ov-sf100"]
    spark = get_spark("two-stage-regime", cpus="32", driver_memory="32g")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    os.environ.setdefault("SPARK_GRAFT_STREAM_TIMEOUT", "3600")
    out = {}
    for d in dirs:
        tag = os.path.basename(d.rstrip("/"))
        out[tag] = _scenario(spark, d, passes)
        print(f"  [{tag}] {out[tag]}", flush=True)
    for tag in out:  # round for display only, after any downstream math
        for k in ("t_build", "t_exact_serve", "t_two_stage_serve"):
            out[tag][k] = round(out[tag][k], 2)
    print(json.dumps({"metric": "bm25_two_stage_split", **out}))


if __name__ == "__main__":
    main()
