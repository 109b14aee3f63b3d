"""Closed-loop benchmark of the engine: one client, one op at a time.

    python3 perfbench/run.py --workload batch_sf0.1 --seed 1 --seconds 8 --trace 0

Run from the repository root.  A run generates the workload's tables from
``--seed``, computes each op's expected result with its DuckDB oracle,
sets the engine up, runs the op mix untimed to warm it up, then the
workload's count of timed passes, and more only while less than
``--seconds`` of op time has been measured.
Every op's result is compared with its expected result; a mismatch or an
exception counts as a failed op.  The last line of stdout is one JSON
object with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import REPO_ROOT, WORK_DIR  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

T_START = time.perf_counter()
DRIVER_MEMORY = "3g"  # fits a 15 GB host shared with other processes
SETUPS = 5  # engine set-ups in the running JVM; setup_s is their median
CKPT_FN = ("data_engineer_coder_spark.streaming.core", "_ckpt_dir")


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


@contextmanager
def scratch():
    """Point every scratch path of the engine, Spark, the JVM and Python
    at a fresh directory under the work dir (before the JVM starts); on
    exit stop the JVM, wait for it, and delete the directory."""
    os.makedirs(WORK_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run_", dir=WORK_DIR)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # SPARK_LOCAL_DIRS takes precedence over the session's spark.local.dir.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = REPO_ROOT
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        yield
    finally:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(run_dir, ignore_errors=True)


def _set_up(cores: int, sf_dir: str):
    """One engine set-up: the session, the engine over the inputs and a
    warm-up query.  (spark, engine, session+engine seconds, query seconds)"""
    from data_engineer_coder_spark.api import Engine
    from data_engineer_coder_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores, driver_memory=DRIVER_MEMORY)
    engine = Engine(spark, sf_dir)
    t1 = time.perf_counter()
    spark.range(0, 100_000, numPartitions=cores).selectExpr("sum(id * 2) AS s").collect()
    return spark, engine, t1 - t0, time.perf_counter() - t1


def _peak_rss_mb(spark) -> float:
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _ckpt_in_scratch() -> str:
    """Streaming checkpoints under TMPDIR, inside the run's scratch."""
    return tempfile.mkdtemp(prefix="ckpt_")


def result_problems(got, want) -> list[str]:
    """The oracle harness's problems that make an op's result wrong.
    "WARN:" problems mean equal within the harness's float tolerance."""
    from data_engineer_coder_spark.testing import compare_pandas

    return [p for p in compare_pandas(got, want) if not p.startswith("WARN")]


def run(wl: Workload, seed: int, seconds: float, trace: bool) -> dict:
    """One run of a workload; call inside ``scratch()``."""
    from perfbench import datagen, layers, profiler

    cores = len(os.sched_getaffinity(0))

    data_key = f"sf{wl.sf:g}-seed{seed}"
    sf_dir = datagen.generate(seed, wl.sf, os.path.join(WORK_DIR, "data", data_key))
    expected = datagen.expected_results(sf_dir, wl.ops, os.path.join(WORK_DIR, "expected", data_key))
    _log("inputs and expected results ready")

    # -- set-up: the first one launches the JVM (per-layer session.*); the
    # rest stop the session and set the engine up again in the same JVM.
    spark, engine, start_s, warmup_s = _set_up(cores, sf_dir)
    setups = []
    for _ in range(SETUPS):
        spark.stop()
        spark, engine, s, w = _set_up(cores, sf_dir)
        setups.append(s + w)
    _log("engine ready")

    from data_engineer_coder_spark import registry

    queries = registry.all_queries()
    # Only a traced run reads epochs and Spark's status store.
    listener = profiler.EpochListener() if trace else None
    if listener:
        spark.streams.addListener(listener)
    status = profiler.StatusStore(spark) if trace else None
    tracer = profiler.Tracer()
    counters = {"attempted": 0, "failed": 0}

    def run_op(op: str, traced: bool):
        """Run and check one op: (op id, wall seconds or None if it
        failed, the op's stream epochs)."""
        op_id = counters["attempted"]
        counters["attempted"] += 1
        wall = None
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.op(op_id, op):
                    with tracer.span("registry.construct"):
                        df = engine.query(op)
                    with tracer.span("registry.collect"):
                        got = df.toPandas()
            else:
                got = engine.query(op).toPandas()
            took = time.perf_counter() - t0
            problems = result_problems(got, expected[op])
            if problems:
                _log(f"{op}: wrong result: {problems}")
            else:
                wall = took
        except Exception as exc:  # an op that raises is a failed op
            _log(f"{op}: {type(exc).__name__}: {exc}")
        if wall is None:
            counters["failed"] += 1
        return op_id, wall, listener.drain() if listener else []

    lat: dict[str, list[float]] = {op: [] for op in wl.ops}
    lat_traced: dict[str, list[float]] = {op: [] for op in wl.ops}
    per_op: dict[str, list[dict]] = {op: [] for op in wl.ops}
    epochs: list[dict] = []
    # The helper is an engine internal: if it is gone, there is nothing to
    # redirect.
    ckpt_mod = sys.modules.get(CKPT_FN[0])
    redirect = {CKPT_FN: _ckpt_in_scratch} if hasattr(ckpt_mod, CKPT_FN[1]) else {}
    with profiler.patched(redirect):
        # -- untimed warm-up passes (checked like every other)
        for _ in range(wl.warmup_passes):
            for op in wl.ops:
                run_op(op, traced=False)
        if status:
            status.since_last()
        _log("warm-up done")

        # -- timed: the workload's timed_passes, then more whole passes only
        # while less than `seconds` of op time has been measured.
        # A traced run alternates traced and untraced passes; the
        # difference between them is the tracing overhead.
        timed_s = 0.0
        passes = 0
        while timed_s < seconds or passes < wl.timed_passes:
            traced = trace and passes % 2 == 0
            pass_walls = []
            for op in wl.ops:
                if traced:
                    with layers.instrument(tracer):
                        op_id, wall, op_epochs = run_op(op, traced=True)
                else:
                    op_id, wall, op_epochs = run_op(op, traced=False)
                jobs, stages = status.since_last() if status else ([], [])
                pass_walls.append(f"{op}={wall}")
                if wall is None:
                    continue
                timed_s += wall
                epochs.extend(op_epochs)
                (lat_traced if traced else lat)[op].append(wall)
                if traced:
                    counts = profiler.stage_counts(jobs, stages, wall)
                    counts["wall_s"] = wall
                    counts.update(layers.epoch_counts(op_epochs))
                    counts.update(layers.op_layer_counts(tracer, op_id))
                    per_op[op].append(counts)
            passes += 1
            _log(f"pass {passes}{' traced' if traced else ''}: {' '.join(pass_walls)}")
    _log(f"{passes} timed passes done")

    if trace:
        tracer.dump(os.path.join(WORK_DIR, f"spans-{wl.name}-seed{seed}.jsonl"))
    peak_rss = _peak_rss_mb(spark)
    if listener:
        spark.streams.removeListener(listener)
    spark.stop()

    out = {
        "correct": counters["failed"] == 0,
        "attempted": counters["attempted"],
        "failed": counters["failed"],
        "op_medians": {op: statistics.median(v) for op, v in lat.items() if v},
        "op_samples": {op: len(v) for op, v in lat.items()},
        "metrics": {},
        "samples": {},
    }
    if not all((*lat.values(), *(lat_traced.values() if trace else ()))):
        out["correct"] = False  # some op never produced a right result
        return out

    op_geomean = layers.geomean(statistics.median(v) for v in lat.values())
    if trace:
        all_modules = sorted({queries[op].fn.__module__ for w in WORKLOADS.values() for op in w.ops})
        op_modules = {op: queries[op].fn.__module__ for op in wl.ops}
        metrics = layers.per_layer_metrics(per_op, op_modules, all_modules, cores)
        traced_geomean = layers.geomean(statistics.median(v) for v in lat_traced.values())
        metrics["session.start_s"] = (start_s, "s")
        metrics["session.warmup_s"] = (warmup_s, "s")
        metrics["session.peak_rss_mb"] = (peak_rss, "MB")
        metrics["trace.overhead_s"] = (traced_geomean - op_geomean, "s")
        metrics.update(layers.epoch_metrics(epochs))
        n_traced = sum(len(v) for v in per_op.values())
        samples = {name: n_traced for name in metrics}
        samples.update({"session.start_s": 1, "session.warmup_s": 1, "session.peak_rss_mb": 1})
        samples.update({name: len(epochs) for name in layers.EPOCHS})
    else:
        n_timed = sum(len(v) for v in lat.values())
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            # A pass at each op's median latency; a median, like op_geomean_s,
            # so that one stalled op sample does not move it.
            "ops_per_min": (60.0 * len(lat) / sum(statistics.median(v) for v in lat.values()), "1/min"),
            "op_geomean_s": (op_geomean, "s"),
        }
        samples = {"setup_s": len(setups), "ops_per_min": n_timed, "op_geomean_s": n_timed}
    out["metrics"], out["samples"] = metrics, samples
    return out


def report(workload: str, result: dict) -> None:
    """Human-readable lines, then the one-line JSON result (last line)."""
    for op, v in result["op_medians"].items():
        print(f"{workload}  op {op:31s} {v:14.4f} s      n={result['op_samples'][op]}")
    for name, (value, unit) in result["metrics"].items():
        print(f"{workload}  {name:34s} {value:14.4f} {unit:6s} n={result['samples'][name]}")
    print(f"{workload}  ops attempted={result['attempted']} failed={result['failed']}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in result["metrics"].items()},
    }))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with scratch():
        result = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    report(args.workload, result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
