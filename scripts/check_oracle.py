#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark and its oracle SQL on DuckDB over the
same parquet fixtures; compares row count, schema, order-insensitive
values through pandas materialization on BOTH sides — driver parity, so
int-vs-float dtype splits (HUGEINT oracles etc.) fail here first (see
data_engineer_coder_spark/testing.py).

Usage: python scripts/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_coder_spark import registry  # noqa: E402
from data_engineer_coder_spark.session import get_spark  # noqa: E402
from data_engineer_coder_spark.testing import compare_pandas, duck_connect  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cpus=8)
    con = duck_connect(sf_dir)
    specs = registry.all_queries()
    oracles = registry.oracle_sql()
    n_pass = n_fail = n_warn = n_rows_only = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = spec.fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            dpdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare_pandas(spdf, dpdf)
        dt = time.time() - t0
        if not problems:
            print(f"PASS {name}: {len(spdf)} rows [{dt:.1f}s]")
            n_pass += 1
        elif all(p.startswith("WARN") for p in problems):
            print(f"WARN {name}: {problems} [{dt:.1f}s]")
            n_warn += 1
        else:
            print(f"FAIL {name}: {problems} [{dt:.1f}s]")
            n_fail += 1
    print(f"\n== {n_pass} pass, {n_warn} warn, {n_fail} fail, {n_rows_only} rows-only ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
