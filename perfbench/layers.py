"""Spans around the engine's layer functions, and the per-layer metrics.

Each traced layer is a public function of one module; ``instrument``
wraps them all for the duration of a ``with`` block.  The counts a layer
needs beyond its time (files a commit wrote, files a read kept) are taken
from the table manifests after the call's span has closed, so that
bookkeeping is not charged to the layer.
"""

from __future__ import annotations

import math
import statistics
from contextlib import contextmanager

from data_engineer_coder_spark.io import acid_table, layout, tables

from .profiler import Tracer, patched

PKG = "data_engineer_coder_spark"

# The write entry points: each publishes one manifest version per call.
COMMIT_FNS = (
    "append_rows", "replace_rows", "replace_partitions", "append_partitions",
    "compact_partitions", "adopt_partitions", "merge_into", "delete_rows",
)
LAYOUT_FNS = ("align_bucketed_write", "align_epoch_append")

# Per-op numbers: each distinct op's median over its iterations, then the
# mean over the mix.  They repeat exactly when the op's plan does.
PER_OP = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.task_s": "s", "spark.no_task_s": "s",
    "spark.input_mb": "MB", "spark.input_rows": "count", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "io.acid_table.commits": "count", "io.acid_table.commit_s": "s",
    "io.acid_table.files_written": "count", "io.acid_table.reads": "count",
    "io.acid_table.read_s": "s", "io.layout.align_calls": "count",
    "io.layout.align_s": "s", "io.tables.calls": "count", "io.tables.s": "s",
    "streaming.epochs": "count", "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "registry.construct_s": "s", "registry.collect_s": "s",
}
# Over every micro-batch of the timed passes (0 on a mix with no stream).
EPOCHS = {
    "streaming.epoch_s_p50": "s", "streaming.epoch_s_p90": "s", "streaming.rows_per_s": "1/s",
}


def op_module_metric(module: str) -> str:
    """``operators.<module>.op_s`` for the module that registered an op."""
    rel = module.removeprefix(f"{PKG}.").removeprefix("operators.")
    return f"operators.{rel}.op_s"


def _file_set(man: dict) -> set[str]:
    return {
        f"{rel}/{f['path']}" for rel, files in man.get("dir_files", {}).items() for f in files
    }


@contextmanager
def instrument(tracer: Tracer):
    """Wrap every traced layer function; restore the originals on exit."""

    def commit_before(bound):
        args = bound.arguments
        root = args.get("root") or args.get("dst_root")
        return root, _file_set(acid_table.current_manifest(root))

    def commit_after(bound, result, span, ctx):
        root, before = ctx
        span.attrs["files_written"] = len(_file_set(acid_table.current_manifest(root)) - before)

    def read_after(bound, result, span, ctx):
        args = bound.arguments
        man = acid_table.manifest_at(args["root"], args.get("version"))
        decisions = acid_table.files_selected(args["root"], args.get("version"), args.get("stats_filter"))
        part_filter = args.get("partition_filter")
        kept = total = 0
        for pkey, val in man["partitions"].items():
            kv = dict(seg.split("=", 1) for seg in pkey.split("/"))
            selected = part_filter is None or part_filter(kv)
            for rel in acid_table._dirs(val):
                # A directory committed without per-file stats is one read.
                files = decisions.get(rel) or [("", True)]
                total += len(files)
                kept += sum(keep for _, keep in files) if selected else 0
        span.attrs["files_kept"], span.attrs["files_total"] = kept, total

    acid = acid_table.__name__
    reps = {
        (acid, fn): tracer.wrap(
            "io.acid_table.commit", getattr(acid_table, fn), commit_before, commit_after
        )
        for fn in COMMIT_FNS
    }
    reps[(acid, "read_table")] = tracer.wrap(
        "io.acid_table.read", acid_table.read_table, after=read_after
    )
    for fn in LAYOUT_FNS:
        reps[(layout.__name__, fn)] = tracer.wrap("io.layout.align", getattr(layout, fn))
    reps[(tables.__name__, "table")] = tracer.wrap("io.tables", tables.table)
    with patched(reps):
        yield


def op_layer_counts(tracer: Tracer, op_id: int) -> dict[str, float]:
    """The span-derived numbers of one op."""
    spans = [s for s in tracer.spans if s.op_id == op_id]
    self_s = tracer.self_times(op_id)
    commits = [s for s in spans if s.name == "io.acid_table.commit"]
    reads = [s for s in spans if s.name == "io.acid_table.read"]
    return {
        "io.acid_table.commits": len(commits),
        "io.acid_table.commit_s": self_s.get("io.acid_table.commit", 0.0),
        "io.acid_table.files_written": sum(s.attrs.get("files_written", 0) for s in commits),
        "io.acid_table.reads": len(reads),
        "io.acid_table.read_s": self_s.get("io.acid_table.read", 0.0),
        "files_kept": sum(s.attrs.get("files_kept", 0) for s in reads),
        "files_total": sum(s.attrs.get("files_total", 0) for s in reads),
        "io.layout.align_calls": sum(s.name == "io.layout.align" for s in spans),
        "io.layout.align_s": self_s.get("io.layout.align", 0.0),
        "io.tables.calls": sum(s.name == "io.tables" for s in spans),
        "io.tables.s": self_s.get("io.tables", 0.0),
        "registry.construct_s": self_s.get("registry.construct", 0.0),
        "registry.collect_s": self_s.get("registry.collect", 0.0),
    }


def epoch_counts(epochs: list[dict]) -> dict[str, float]:
    return {
        "streaming.epochs": len(epochs),
        "streaming.add_batch_s": sum(e["add_batch_ms"] for e in epochs) / 1000.0,
        "streaming.trigger_overhead_s": sum(e["trigger_ms"] - e["add_batch_ms"] for e in epochs) / 1000.0,
    }


def epoch_metrics(epochs: list[dict]) -> dict[str, tuple[float, str]]:
    """Micro-batch latency (trigger start to commit) and input rate."""
    trig = sorted(e["trigger_ms"] / 1000.0 for e in epochs)
    if not trig:
        return {name: (0.0, unit) for name, unit in EPOCHS.items()}
    p90 = statistics.quantiles(trig, n=10, method="inclusive")[8] if len(trig) > 1 else trig[0]
    return {
        "streaming.epoch_s_p50": (statistics.median(trig), "s"),
        "streaming.epoch_s_p90": (p90, "s"),
        "streaming.rows_per_s": (sum(e["rows"] for e in epochs) / sum(trig), "1/s"),
    }


def per_layer_metrics(per_op: dict[str, list[dict]], op_modules: dict[str, str],
                      all_modules: list[str], cores: int) -> dict[str, tuple[float, str]]:
    """Fold each op's list of per-iteration numbers into the metrics."""
    med = {
        op: {k: statistics.median(it[k] for it in iters) for k in iters[0]}
        for op, iters in per_op.items()
    }
    out: dict[str, tuple[float, str]] = {}
    for name, unit in PER_OP.items():
        out[name] = (statistics.fmean(m[name] for m in med.values()), unit)

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    def total(key: str) -> float:
        return sum(m[key] for m in med.values())

    out["spark.core_util"] = (ratio(total("spark.task_s"), total("wall_s") * cores), "ratio")
    out["io.acid_table.files_read_ratio"] = (ratio(total("files_kept"), total("files_total")), "ratio")
    stream_ops = [m for m in med.values() if m["streaming.epochs"]]
    out["streaming.jobs_per_epoch"] = (
        ratio(sum(m["spark.jobs"] for m in stream_ops), sum(m["streaming.epochs"] for m in stream_ops)),
        "count",
    )
    for module in all_modules:
        out[op_module_metric(module)] = (
            sum(m["wall_s"] for op, m in med.items() if op_modules[op] == module), "s"
        )
    return out


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))
