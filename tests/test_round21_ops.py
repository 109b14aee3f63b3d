"""Round 21: one commit path for the ACID table.

Every write verb in ``io/acid_table.py`` stages through one tail and
publishes through one manifest writer.  The test here pins the
exactly-once contract at that tail's crash seam for every verb that has
one: a writer dying after staging but before the commit leaves the
table as it was, and rerunning the same txid lands what an uncrashed run
lands, exactly once.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineer_coder_spark.io import acid_table as at

_S = "id long, v double, p string"


def _df(spark, rows):
    return spark.createDataFrame(rows, _S)


# verb → one call on the base table below, with the seam hook passed through.
_VERBS = {
    "append_partitions": lambda spark, root, crash: at.append_partitions(
        _df(spark, [(4, 4.0, "a"), (5, 5.0, "c")]), root, ["p"], "t",
        _crash_before_commit=crash,
    ),
    "replace_partitions": lambda spark, root, crash: at.replace_partitions(
        _df(spark, [(4, 4.0, "a")]), root, ["p"], "t", _crash_before_commit=crash,
    ),
    "append_rows": lambda spark, root, crash: at.append_rows(
        spark, [(4, 4.0, "a"), (5, 5.0, "c")], _S, root, ["p"], "t",
        _crash_before_commit=crash,
    ),
    "replace_rows": lambda spark, root, crash: at.replace_rows(
        spark, [(4, 4.0, "b")], _S, root, ["p"], "t", _crash_before_commit=crash,
    ),
    "merge_into": lambda spark, root, crash: at.merge_into(
        spark, _df(spark, [(1, 10.0, "a"), (6, 6.0, "c")]), root, ["p"],
        ["id", "p"], "t", _crash_before_commit=crash,
    ),
    # id 2 moves from b to c and empties b
    "merge_into_move": lambda spark, root, crash: at.merge_into(
        spark, _df(spark, [(2, 20.0, "c"), (7, 7.0, "a")]), root, ["p"], ["id"],
        "t", allow_partition_move=True, _crash_before_commit=crash,
    ),
    # deletes the only row of b
    "delete_rows": lambda spark, root, crash: at.delete_rows(
        spark, root, partition_cols=["p"], condition=F.col("id") == 2, txid="t",
        _crash_before_commit=crash,
    ),
    "compact_partitions": lambda spark, root, crash: at.compact_partitions(
        spark, root, "t", _crash_before_commit=crash,
    ),
}


def _base(spark, root):
    """Two commits, so partition a is backed by two staging dirs."""
    at.append_rows(spark, [(1, 1.0, "a"), (2, 2.0, "b")], _S, root, ["p"], "b1")
    at.append_rows(spark, [(3, 3.0, "a")], _S, root, ["p"], "b2")


def _rows(spark, root):
    return sorted(tuple(r) for r in at.read_table(spark, root).select("id", "v", "p").collect())


@pytest.mark.parametrize("verb", sorted(_VERBS))
def test_crash_at_commit_seam_then_replay_matches_uncrashed_run(spark, tmp_path, verb):
    run = _VERBS[verb]
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for root in (clean, crashed):
        _base(spark, root)
    rows_before = _rows(spark, crashed)
    run(spark, clean, None)
    want = at.current_manifest(clean)
    assert want["version"] == 3

    def boom():
        raise RuntimeError("writer died at the commit seam")

    with pytest.raises(RuntimeError, match="commit seam"):
        run(spark, crashed, boom)
    assert os.path.isdir(os.path.join(crashed, "_staging", "t"))  # it had staged
    assert at.current_manifest(crashed)["version"] == 2
    assert _rows(spark, crashed) == rows_before

    run(spark, crashed, None)
    got = at.current_manifest(crashed)
    for field in ("version", "partitions", "txids", "neutral_txids"):
        assert got[field] == want[field], field
    assert _rows(spark, crashed) == _rows(spark, clean)

    run(spark, crashed, None)  # exactly once: the replay adds no version
    assert at.current_manifest(crashed)["version"] == 3
