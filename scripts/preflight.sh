#!/usr/bin/env bash
# Pre-snapshot gate (VERDICT r3 process fix): run this before ending a
# round.  An ENVIRONMENT change (e.g. a fixture's physical parquet type
# shifting under us) can invalidate old green rows without any code
# change — the only thing that catches that is re-running the full local
# gate, not the _FORCE_RECHECK rotation.
#
#   1. full pytest          (operator semantics + plan shapes + parity @ sf0.001),
#                           run exactly as the Tier-1 verify command in ROADMAP.md
#   2. full oracle sweep    (every registered query vs DuckDB @ sf0.01 — driver scale)
#   3. bench                (must exit 0 and print its JSON line)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preflight 1/3: pytest =="
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

echo "== preflight 2/3: full oracle sweep @ sf0.01 =="
python scripts/check_oracle.py /root/testdata/sf0.01

echo "== preflight 3/3: bench =="
python bench.py

echo "== preflight OK =="
