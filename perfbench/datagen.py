"""Seeded fixture generation and the DuckDB oracle's expected results.

``scripts/gen_fixture.py`` writes every table with the driver fixtures'
schemas but pins its generator to seed 42.  ``generate`` runs that same
``gen`` with the numpy module it sees replaced by one whose
``random.default_rng`` is seeded from ``--seed``, so the tables, schemas and
distribution shapes stay the script's own and only the draws change.

Both the tables and the expected results are cached per (seed, sf) under
the benchmark's work directory; neither is part of any timed metric.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import types

import numpy as np
import pandas as pd

from . import REPO_ROOT


def _gen_fixture():
    scripts = os.path.join(REPO_ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import gen_fixture

    return gen_fixture


def _seeded_numpy(seed: int) -> types.ModuleType:
    shim = types.ModuleType("numpy")
    shim.__dict__.update(np.__dict__)
    shim.random = types.SimpleNamespace(default_rng=lambda _fixed: np.random.default_rng(seed))
    return shim


def generate(seed: int, sf: float, outdir: str) -> str:
    """Write the fixture tables for (seed, sf) into ``outdir`` once."""
    stamp = os.path.join(outdir, "GENERATED.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if json.load(fh).get("seed") == seed:
                return outdir
    gf = _gen_fixture()
    real_np = gf.np
    gf.np = _seeded_numpy(seed)
    try:
        # gen prints one line per table; stdout's last line is the result.
        with contextlib.redirect_stdout(sys.stderr):
            gf.gen(sf, outdir)
    finally:
        gf.np = real_np
    with open(stamp, "w") as fh:
        json.dump({"sf": sf, "seed": seed, "generator": "scripts/gen_fixture.py"}, fh)
    return outdir


def expected_results(sf_dir: str, ops: tuple[str, ...], cache_dir: str) -> dict[str, pd.DataFrame]:
    """Each op's oracle result under DuckDB, computed once per dataset."""
    from data_engineer_coder_spark import registry
    from data_engineer_coder_spark.testing import duck_connect

    oracles = registry.oracle_sql()
    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, pd.DataFrame] = {}
    con = None
    try:
        for op in ops:
            path = os.path.join(cache_dir, f"{op}.pkl")
            if os.path.exists(path):
                out[op] = pd.read_pickle(path)
                continue
            if op not in oracles:
                raise KeyError(f"op {op!r} has no registry oracle")
            con = con or duck_connect(sf_dir)
            out[op] = con.execute(oracles[op]).fetchdf()
            out[op].to_pickle(path)
    finally:
        if con is not None:
            con.close()
    return out
