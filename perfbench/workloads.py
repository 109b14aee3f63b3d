"""The benchmark's workloads: a generated dataset and a fixed op mix each.

Ops are registry names (``Engine.query(name)``), the engine's stable public
surface, so later changes to the engine's internals leave this file alone.
Why each workload exists, and what it should and should not move, is in
``README.md`` next to this file.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    ops: tuple[str, ...]
    why: str
    # Untimed passes first, then at least this many timed passes.  The
    # counts are set so that the passes take longer than the run's
    # --seconds even on a fast host: a pass count that followed the host's
    # speed would give faster runs extra, warmer passes.  Short ops are
    # still getting faster after one pass in a fresh JVM, and the median of
    # three timed passes drops one stalled op; the heavy ACID mix gets one
    # warm-up and two timed passes so that a run stays near a minute.
    warmup_passes: int
    timed_passes: int


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="batch_sf0.1",
            sf=0.1,
            ops=(
                "pricing_summary",
                "revenue_by_nation",
                "window_topk",
                "asof_join",
                "token_stats",
            ),
            why=(
                "Scan, join, aggregate, window and text kernels over sf0.1 "
                "parquet; no ACID table, no stream"
            ),
            warmup_passes=2,
            timed_passes=3,
        ),
        Workload(
            name="acid_sf0.01",
            sf=0.01,
            ops=(
                "stream_decontaminate_ingest",
                "bm25_topk_served",
            ),
            why=(
                "A streaming gate commits ACID epochs, a served BM25 op "
                "builds and reads bucketed tables; per-job cost dominates"
            ),
            warmup_passes=1,
            timed_passes=2,
        ),
    )
}
