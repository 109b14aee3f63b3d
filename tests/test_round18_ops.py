"""Round 18: one near-dup SQL replay, and a registry and session that
cannot hide a broken setup.

The MinHash oracles are built from one set of CTE fragments in
``operators/dedup.py``.  These tests pin what that sharing promises
(the df-capped gate replay reduces to the plain one when no shingle
reaches the cap), that a missing query module fails the registry load
instead of silently dropping its queries, and that the session leaves
scratch placement to ``SPARK_LOCAL_DIRS`` when it is set.
"""

from __future__ import annotations

import os

import pytest

from data_engineer_coder_spark import registry
from data_engineer_coder_spark.streaming.windows import (
    _neardup_gate_capped_oracle,
    _neardup_gate_oracle,
)
from data_engineer_coder_spark.testing import compare_pandas


@pytest.mark.parametrize("mode", ["exact", "cms"])
def test_capped_gate_oracle_without_reachable_cap_is_plain_gate(duck, mode):
    plain = duck.execute(_neardup_gate_oracle()).fetchdf()
    capped = duck.execute(_neardup_gate_capped_oracle(10**12, mode=mode)).fetchdf()
    assert len(plain) == 3
    assert compare_pandas(capped, plain) == []


def test_missing_query_module_fails_the_registry_load(monkeypatch):
    bogus = "data_engineer_coder_spark.operators.no_such_query_module"
    monkeypatch.setattr(registry, "_QUERY_MODULES", registry._QUERY_MODULES + (bogus,))
    monkeypatch.setattr(registry, "_loaded", False)
    with pytest.raises(ModuleNotFoundError):
        registry.load_all()


@pytest.mark.skipif(
    not os.environ.get("SPARK_LOCAL_DIRS"), reason="SPARK_LOCAL_DIRS is not set"
)
def test_session_leaves_local_dir_to_spark_local_dirs(spark):
    assert spark.sparkContext.getConf().get("spark.local.dir", None) is None
