#!/usr/bin/env python
"""Ninth scaling campaign: the SERVED retrieval paths (round 12).

The eighth campaign measured the round-11 retrieval family's in-plan
queries — per-query cost corpus-linear by construction (bm25_topk
exponent 0.91).  Round 12 split that cost into a one-time standing
index BUILD and a per-query SERVE that reads only its terms' buckets /
files; this script measures both halves separately across the ov-sf
decades, exactly the bulk/continuous split campaigns six and seven use:

- t_build: the corpus-linear standing-index construction
  (tokenize → tf → token-range-sorted bucketed postings + forward +
  ledger commits).  Expected exponent → 1.0 (it must touch every
  token once).
- t_serve: the FIXED query load (the 10 probe docs' distinct terms)
  scored from the standing artifacts — bucket-pruned at the manifest,
  file-pruned by the tok zone maps, row-group-pruned by the pushed
  isin filter.  Expected: exponent far below the in-plan 0.91; the
  residual growth is Θ(matched postings) — common query terms' df
  grows with the corpus, the honest lower bound for any exhaustive
  (non-WAND) postings traversal.
- files_read/files_total: the zone-map skipping audit for the serve
  read (files_selected dry-run with the same predicate).

Usage: python scripts/retrieval_serving_regime.py [dir ...] [--passes N]
Defaults: perfdata/ov-sf1 perfdata/ov-sf10 perfdata/ov-sf100, 2 passes.
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

from data_engineer_coder_spark.io.acid_table import files_selected  # noqa: E402
from data_engineer_coder_spark.io.tables import table  # noqa: E402
from data_engineer_coder_spark.operators.similarity import _probe_topk  # noqa: E402
from data_engineer_coder_spark.session import get_spark  # noqa: E402
from data_engineer_coder_spark.streaming.bm25_ingest import (  # noqa: E402
    _build_standing_index,
    _probe_qt,
    _served_scores,
    _term_range_filter,
)


def _scenario(spark, sf_dir: str, passes: int) -> dict:
    tmp = tempfile.mkdtemp(prefix="srvregime_")
    try:
        n_docs = table(spark, sf_dir, "documents").count()
        t0 = time.time()
        roots = _build_standing_index(spark, sf_dir, tmp)
        t_build = time.time() - t0

        qt = _probe_qt(spark, sf_dir).localCheckpoint()
        toks = sorted(r["tok"] for r in qt.select("tok").distinct().collect())

        t_serve = float("inf")
        n_rows = 0
        for _ in range(passes):
            t0 = time.time()
            sc = _served_scores(
                spark, roots, qt.withColumn("w", F.lit(1.0)), "bm25_e9"
            )
            n_rows = _probe_topk(sc, 5, "pid", "bm25_e9", "id").count()
            t_serve = min(t_serve, time.time() - t0)

        audit = files_selected(roots["postings"], stats_filter=_term_range_filter(toks))
        files_total = sum(len(v) for v in audit.values())
        files_read = sum(1 for v in audit.values() for _, keep in v if keep)

        # SHORT QUERY (the realistic serving shape — a few keywords, not
        # a 278-term whole document): 3 terms picked deterministically
        # from the middle of the probe vocabulary.  This is where the
        # file-level zone maps bite; the whole-doc query above spans the
        # vocab and legitimately touches every token range.
        mid = len(toks) // 2
        short = sorted(toks[mid - 1 : mid + 2])
        qs = qt.sparkSession.createDataFrame(
            [(0, t) for t in short], "pid long, tok string"
        )
        t_short = float("inf")
        for _ in range(passes):
            t0 = time.time()
            sc = _served_scores(spark, roots, qs.withColumn("w", F.lit(1.0)), "bm25_e9")
            sc.count()
            t_short = min(t_short, time.time() - t0)
        saudit = files_selected(
            roots["postings"], stats_filter=_term_range_filter(short)
        )
        sfiles_read = sum(1 for v in saudit.values() for _, keep in v if keep)
        # timings kept UNROUNDED here — the cross-scale ratio/exponent
        # math divides them, and a fast pass rounded to 0.00 would blow
        # up to inf/NaN; main() rounds for display only (ADVICE r12).
        return {
            "n_docs": int(n_docs),
            "n_query_terms": len(toks),
            "t_build": t_build,
            "t_serve": t_serve,
            "t_serve_short": t_short,
            "topk_rows": int(n_rows),
            "files_total": files_total,
            "files_read": files_read,
            "files_read_short": sfiles_read,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    argv = sys.argv[1:]
    passes = 2
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--passes"):
            if "=" in a:
                passes = int(a.split("=", 1)[1])
            else:
                passes = int(argv[i + 1])
                i += 1  # consume the value so it never lands in dirs
        else:
            args.append(a)
        i += 1
    dirs = args or ["perfdata/ov-sf1", "perfdata/ov-sf10", "perfdata/ov-sf100"]
    spark = get_spark("serving-regime", cpus="32", driver_memory="32g")
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    _scenario(spark, dirs[0], 1)  # JIT warmup, discarded
    out = {}
    for d in dirs:
        tag = os.path.basename(d.rstrip("/"))
        out[tag] = _scenario(spark, d, passes)
        print(f"  [{tag}] {out[tag]}", flush=True)
    tags = list(out)
    import math

    for a, b in zip(tags, tags[1:]):
        nr = out[b]["n_docs"] / out[a]["n_docs"]
        for leg in ("t_build", "t_serve", "t_serve_short"):
            # ratio/exponent from the UNROUNDED timings (floored at 1ms
            # so a pathological 0-second pass still yields a finite row)
            r = max(out[b][leg], 1e-3) / max(out[a][leg], 1e-3)
            out[f"{a}->{b}:{leg}"] = {
                "ratio": round(r, 2),
                "exponent": round(math.log(r) / math.log(nr), 2),
            }
    for tag in tags:  # round for display only, after the math
        for leg in ("t_build", "t_serve", "t_serve_short"):
            out[tag][leg] = round(out[tag][leg], 2)
    print(json.dumps({"metric": "bm25_served_split", **out}))


if __name__ == "__main__":
    main()
