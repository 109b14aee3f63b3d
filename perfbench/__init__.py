"""Closed-loop benchmark of the engine's registry ops; see README.md."""

import os

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Everything a run writes (data, expected results, Spark scratch) stays here.
WORK_DIR = os.path.join(REPO_ROOT, ".bench_build", "perfbench")
