"""The benchmark's own self-test, on sf0.001 data.

    python3 perfbench/selftest.py

Checks that
- every metric named in BENCHMARK.json is emitted, with its unit, by a
  traced and an untraced run of each workload;
- a corrupted expected result counts as a failed op;
- the self-time arithmetic is right on a synthetic span tree.
Exits 0 when all pass.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import REPO_ROOT, WORK_DIR  # noqa: E402
from perfbench.profiler import Span, Tracer  # noqa: E402
from perfbench.run import run, scratch  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SF = 0.001
SEED = 424242  # a seed of its own, so the corrupted cache touches no real run


def check_self_time() -> None:
    """op [0,10] has children a [1,4] and b [3,6] (overlapping) and c [8,12]
    (running past its parent); a has child d [2,3]."""
    t = Tracer()
    t.spans = [
        Span("op", 0, 10, None, 0),
        Span("a", 1, 4, 0, 0),
        Span("b", 3, 6, 0, 0),
        Span("c", 8, 12, 0, 0),
        Span("d", 2, 3, 1, 0),
        Span("op", 20, 21, None, 1),
    ]
    # op 0's children cover [1,6] and [8,10] of it; op 1 has no children.
    want = {"op": (10 - 5 - 2) + 1, "a": 3 - 1, "b": 3, "c": 4, "d": 1}
    got = t.self_times()
    assert got == want, (got, want)
    assert t.self_times(op_id=1) == {"op": 1}, t.self_times(op_id=1)


def check_metric_names() -> None:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    for name, wl in WORKLOADS.items():
        small = dataclasses.replace(wl, sf=SF)
        for trace in (0, 1):
            res = run(small, SEED, seconds=0.0, trace=bool(trace))
            assert res["correct"] and res["failed"] == 0, (name, trace, res)
            emitted = {n: u for n, (_, u) in res["metrics"].items()}
            assert emitted == units[trace], (name, trace, sorted(set(emitted) ^ set(units[trace])))
            print(f"selftest: {name} trace={trace}: all {len(emitted)} metrics, each with its unit")


def check_corrupt_expected() -> None:
    import pandas as pd

    wl = dataclasses.replace(WORKLOADS["batch_sf0.1"], sf=SF, ops=("pricing_summary",))
    path = os.path.join(WORK_DIR, "expected", f"sf{SF:g}-seed{SEED}", "pricing_summary.pkl")
    want = pd.read_pickle(path)
    col = next(c for c in want.columns if want[c].dtype.kind in "if")
    want.loc[0, col] = want.loc[0, col] + 1
    want.to_pickle(path)
    res = run(wl, SEED, seconds=0.0, trace=False)
    assert not res["correct"] and res["failed"] == res["attempted"] > 0, res
    print("selftest: a corrupted expected result counts as a failed op")


def main() -> int:
    check_self_time()
    print("selftest: self-time arithmetic")
    try:
        with scratch():
            check_metric_names()
            check_corrupt_expected()
    finally:
        for kind in ("data", "expected"):
            shutil.rmtree(os.path.join(WORK_DIR, kind, f"sf{SF:g}-seed{SEED}"), ignore_errors=True)
        for name in WORKLOADS:
            path = os.path.join(WORK_DIR, f"spans-{name}-seed{SEED}.jsonl")
            if os.path.exists(path):
                os.remove(path)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
