#!/usr/bin/env python
"""Round 13 (VERDICT r12 #2): the served-quality curve.

retrieval_rank_metrics_served pinned nDCG@10 0.37 vs exact 0.57 at the
hardcoded nprobe=4 — a cliff, not an operating point.  This script
measures the quality-latency trade the served hybrid path actually
offers: for each (nprobe, vector-leg pool) it runs the SAME
`_rrf_served_fused` chain the driver queries use against prebuilt
standing indexes and reports

- mean nDCG@10 / MRR vs the exact-cosine truth (the driver metric),
- top-5 retention of the exact-scan hybrid ranking (skipped where the
  exact scan is impractical — flagged per row),
- min-of-N serve latency (indexes prebuilt; serve-only cost),
- distinct cell buckets read across the probe set.

Usage: python scripts/served_quality_curve.py [--passes N] [dir ...]
Defaults: /root/testdata/sf0.1 perfdata/ov-sf1 perfdata/ov-sf10
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from data_engineer_coder_spark.io.tables import table  # noqa: E402
from data_engineer_coder_spark.operators.retrieval_served import (  # noqa: E402
    _build_ann_index,
    _cell_bucket,
    _rank_metrics_over,
    _rrf_served_fused,
    cell_layout,
)
from data_engineer_coder_spark.operators.similarity import (  # noqa: E402
    _RRF_PROBES,
    _cosine,
    _dot,
    _ivf_cents,
    _probe_topk,
    _qvec,
    _rrf_fused,
)
from data_engineer_coder_spark.session import get_spark  # noqa: E402
from data_engineer_coder_spark.streaming.bm25_ingest import (  # noqa: E402
    _build_standing_index,
)

NPROBES = (4, 8, 12, 16)
# pool 50 never beat pool 20 on any metric at any scale (r13 campaign);
# the sweep fixes pool = 20 and spends the passes on probe width
POOLS = (20,)
# round 14: at ov scales ALSO sweep the wide probes that the adaptive
# rule (similarity.served_nprobe = max(12, ceil(K/16))) reaches, so the
# cell-fraction pin is read off a measured curve, not extrapolated
WIDE_NPROBES = (32, 64, 100, 160)


def _top5(fused):
    return _probe_topk(fused, 5, "pid", "rrf", "id").select("pid", "id")


def _nv(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    return emb.select(
        "vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm")
    )


def _buckets_read(spark, sf_dir, nprobe, cellb) -> int:
    """Distinct cell buckets the probe set's top-nprobe cells touch."""
    from pyspark.sql import Window

    nv = _nv(spark, sf_dir)
    cents = _ivf_cents(nv.filter(F.pmod("vec_id", F.lit(10)) == 0))
    probes = nv.filter(F.col("vec_id") < _RRF_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qv").alias("pqv"),
        F.col("nrm").alias("pnrm"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
    return (
        cents.drop("stride", "cstride")
        .crossJoin(F.broadcast(probes))
        .select(
            "probe_id", "centroid_id",
            _cosine(
                _dot(F.col("pqv"), F.col("cqv")), F.col("pnrm"), F.col("cnrm")
            ).alias("c_sim"),
        )
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= nprobe)
        .select(_cell_bucket(F.col("centroid_id"), cellb).alias("b"))
        .distinct()
        .count()
    )


def _scenario(spark, sf_dir: str, passes: int, with_exact: bool) -> list[dict]:
    tmp = tempfile.mkdtemp(prefix="sqcurve_")
    rows = []
    try:
        # prebuild both standing indexes once (the one-time corpus pass)
        _build_standing_index(spark, sf_dir, os.path.join(tmp, "lex"))
        _build_ann_index(spark, _nv(spark, sf_dir), os.path.join(tmp, "ann_index"))
        cellb = cell_layout(os.path.join(tmp, "ann_index"))
        from data_engineer_coder_spark.operators.similarity import served_nprobe

        n_cells = _ivf_cents(
            _nv(spark, sf_dir).filter(F.pmod("vec_id", F.lit(10)) == 0)
        ).count()
        nprobes = sorted(
            set(NPROBES)
            | {served_nprobe(n_cells)}
            | {w for w in WIDE_NPROBES if w < n_cells}
        )
        print(f"  K={n_cells} adaptive_nprobe={served_nprobe(n_cells)}", flush=True)
        exact5 = None
        if with_exact:
            exact5 = _top5(_rrf_fused(spark, sf_dir)).withColumnRenamed(
                "id", "tid"
            ).localCheckpoint()
        for nprobe in nprobes:
            nbk = _buckets_read(spark, sf_dir, nprobe, cellb)
            for pool in POOLS:
                t_serve = float("inf")
                m = None
                for _ in range(passes):
                    t0 = time.time()
                    fused = _rrf_served_fused(
                        spark, sf_dir, nprobe=nprobe, pool=pool, tmp=tmp
                    )
                    m = _rank_metrics_over(spark, sf_dir, fused).agg(
                        F.avg("ndcg_e4").alias("ndcg"),
                        F.avg("mrr_e9").alias("mrr"),
                    ).collect()[0]
                    t_serve = min(t_serve, time.time() - t0)
                row = {
                    "dir": os.path.basename(sf_dir.rstrip("/")),
                    "nprobe": nprobe,
                    "pool": pool,
                    "ndcg10": round(float(m["ndcg"]) / 1e4, 4),
                    "mrr": round(float(m["mrr"]) / 1e9, 4),
                    "t_serve": round(t_serve, 2),
                    "cell_buckets_read": nbk,
                }
                if exact5 is not None:
                    served5 = _top5(fused)
                    hits = served5.join(
                        exact5,
                        (exact5["pid"] == served5["pid"])
                        & (exact5["tid"] == served5["id"]),
                        "left",
                    ).select(F.col("tid").isNotNull().cast("int").alias("h"))
                    r = hits.agg(
                        F.sum("h").alias("n"), F.count("*").alias("d")
                    ).collect()[0]
                    row["retention5"] = round(int(r["n"]) / int(r["d"]), 4)
                rows.append(row)
                print(f"  {row}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return rows


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
    dirs = dirs or [
        "/root/testdata/sf0.1", "perfdata/ov-sf1", "perfdata/ov-sf10"
    ]
    spark = get_spark("served-quality-curve", cpus="32", driver_memory="32g")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    out = []
    for d in dirs:
        # the exact-scan hybrid is corpus-quadratic in the lexical leg;
        # run retention only where that scan is practical
        with_exact = "ov-sf10" not in d and "ov-sf100" not in d
        print(f"[{d}] exact-retention={'on' if with_exact else 'off'}", flush=True)
        out.extend(_scenario(spark, d, passes, with_exact))
    print(json.dumps({"metric": "served_quality_curve", "rows": out}))


if __name__ == "__main__":
    main()
