"""Round 23: one BM25 chain per engine.

Every BM25 query (batch, served, RM3, two-stage, dispatch, delete and
lifecycle) builds its scores from the shared steps in
``operators/textops.py``: the corpus statistics, the score join and the
RM3 expansion, each with a DuckDB twin, ranked by ``_probe_topk``.
These tests pin that the twins agree bit for bit, that a served
postings frame carrying its own doc length scores like the in-plan
corpus, and that every script imports the package of its own checkout.
"""

from __future__ import annotations

import glob
import importlib.machinery
import os
import runpy
import sys

import duckdb
from pyspark.sql import functions as F

from data_engineer_coder_spark.operators.textops import (
    _bm25_corpus,
    _bm25_scores,
    _sql_bm25_corpus,
    _sql_bm25_scores,
)

_DOCS = [
    (1, "spark writes parquet files"),
    (2, "spark reads parquet parquet"),
    (3, "manifest commit log log log"),
    (4, "parquet manifest spark"),
    (5, "commit log spark spark"),
]
# probe 1 weighs "log" at half; probe 9 is no document, so nothing is excluded
_QUERY = [(1, "spark", 1.0), (1, "parquet", 1.0), (1, "log", 0.5), (9, "commit", 1.0)]


def test_bm25_twins_are_bit_equal(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    q = spark.createDataFrame(_QUERY, "pid long, tok string, w double")
    fr = _bm25_corpus(docs)
    got = {(r["pid"], r["id"]): r["s"] for r in _bm25_scores(fr, q, "s").collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in _DOCS)
        + ") t(doc_id, text)"
    )
    con.execute(
        "CREATE TABLE q AS SELECT * FROM (VALUES "
        + ", ".join(f"({p}, '{t}', CAST({w} AS DOUBLE))" for p, t, w in _QUERY)
        + ") t(pid, tok, w)"
    )
    sql = f"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs),
{_sql_bm25_corpus("d", "_x")}
{_sql_bm25_scores("q", "s", "_x", w="q.w")}"""
    want = {(p, i): s for p, i, s in con.execute(sql).fetchall()}
    con.close()
    assert len(got) == 6  # probe 1 never scores its own doc
    assert (1, 1) not in got and (9, 3) in got
    assert got == want

    # the served shape: postings carry len, df and (n, avglen) come in
    post = fr["tok"].join(fr["dl"], "doc_id")
    served = _bm25_scores(
        {"tok": post, "dfreq": F.broadcast(fr["dfreq"]), "stats": fr["stats"]}, q, "s"
    )
    assert {(r["pid"], r["id"]): r["s"] for r in served.collect()} == got


def test_every_script_imports_its_own_checkout():
    """Each script puts its own checkout first on ``sys.path``, so run
    from any copy of the repository it imports that copy's package."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scripts = sorted(glob.glob(os.path.join(root, "scripts", "*.py")))
    assert scripts
    saved = list(sys.path)
    try:
        for p in scripts:
            runpy.run_path(p, run_name="not_main")
            spec = importlib.machinery.PathFinder.find_spec(
                "data_engineer_coder_spark", sys.path
            )
            assert spec is not None and spec.origin.startswith(root + os.sep), (p, spec)
            sys.path[:] = saved
    finally:
        sys.path[:] = saved
