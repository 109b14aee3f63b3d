"""Round 22: one hybrid fusion per engine.

The hybrid retrieval family (exact and served RRF, the recall gates, the
rank metrics and both RAG packers) builds every ranking from the shared
steps in ``operators/similarity.py``: the per-probe rank, the vector leg,
the lexical leg, the RRF fuse and the retention aggregate, each with a
DuckDB twin.  These tests pin that the twins agree bit for bit, that the
Spark truth ranks the same corpus as the oracle's, and that a table's
layout record is written once.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow.parquet as pq

from data_engineer_coder_spark import registry
from data_engineer_coder_spark.io import layout
from data_engineer_coder_spark.io.tables import TABLES
from data_engineer_coder_spark.operators.similarity import (
    _RRF_PROBES,
    _SQL_COS_AB,
    _SQL_N,
    _probe_topk,
    _rrf_fuse,
    _sql_probe_topk,
    _sql_rrf_fuse,
)
from data_engineer_coder_spark.testing import duck_connect, run_compare

# probe 1: ids in both legs plus one-sided ids; probe 2: vector leg only;
# probe 4: lexical leg only; probe 3: the legs' ids are disjoint
_VRANK = [(1, 5, 1), (1, 7, 2), (1, 8, 3), (2, 4, 1), (3, 11, 1), (3, 12, 2)]
_LRANK = [(1, 7, 1), (1, 5, 2), (1, 9, 3), (3, 21, 1), (3, 22, 2), (4, 30, 1)]


def _duck_with(**tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, (cols, rows) in tables.items():
        values = ", ".join(str(r) for r in rows)
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM (VALUES {values}) t({cols})")
    return con


def test_rrf_fuse_twins_are_bit_equal(spark):
    v = spark.createDataFrame(_VRANK, "pid long, id long, vr int")
    lx = spark.createDataFrame(_LRANK, "pid long, id long, lr int")
    got = {(r["pid"], r["id"]): r["rrf"] for r in _rrf_fuse(v, lx).collect()}
    con = _duck_with(vrank=("pid, id, vr", _VRANK), lrank=("pid, id, lr", _LRANK))
    want = {(p, i): x for p, i, x in con.execute(_sql_rrf_fuse("vrank", "lrank")).fetchall()}
    assert len(got) == 10
    assert got == want  # exact double equality, not a tolerance
    assert got[(1, 5)] == 1.0 / 61 + 1.0 / 62
    assert got[(1, 8)] == 1.0 / 63 and got[(1, 9)] == 1.0 / 63
    assert got[(2, 4)] == 1.0 / 61 and got[(4, 30)] == 1.0 / 61


def test_probe_rank_breaks_ties_by_key_in_both_engines(spark):
    rows = [(1, 3, 0.5), (1, 1, 0.5), (1, 2, 0.9), (1, 4, 0.5), (2, 9, 0.1), (2, 8, 0.1)]
    want = [(1, 1, 2), (1, 2, 1), (1, 3, 3), (2, 8, 1), (2, 9, 2)]  # 4 ties 1 and 3, cut at k
    df = spark.createDataFrame(rows, "pid long, id long, score double")
    got = sorted(
        tuple(r) for r in _probe_topk(df, 3, "pid", "score", "id").select("pid", "id", "rn").collect()
    )
    con = _duck_with(s=("pid, id, score", rows))
    sql = _sql_probe_topk("s", 3, "pid", "score", "id", cols="pid, id, rn")
    assert got == want
    assert sorted(con.execute(sql).fetchall()) == want


def test_truth_ranks_only_embeddings_with_a_document(spark, sf_dir, tmp_path):
    """Drop the document of a vector in some probe's exact cosine top-5:
    the vector is no longer in the hybrid corpus, so neither engine's
    ground truth may rank it."""
    con = duck_connect(sf_dir)
    scored = f"""(SELECT a.vec_id AS pid, b.vec_id AS id, {_SQL_COS_AB} AS cos
        FROM n a JOIN n b ON b.vec_id <> a.vec_id WHERE a.vec_id < {_RRF_PROBES})"""
    top5 = _sql_probe_topk(scored, 5, "pid", "cos", "id", cols="id")
    drop = con.execute(
        f"WITH n AS ({_SQL_N}) SELECT MIN(id) FROM ({top5}) WHERE id >= {_RRF_PROBES}"
    ).fetchone()[0]
    con.close()
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), sf / f"{t}.parquet")
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    keep = [d != drop for d in docs.column("doc_id").to_pylist()]
    pq.write_table(docs.filter(keep), str(sf / "documents.parquet"))
    con = duck_connect(str(sf))
    specs = registry.queries()
    oracles = registry.oracle_sql()
    for name in ("hybrid_recall_check", "retrieval_rank_metrics"):
        assert run_compare(spark, con, specs[name], oracles[name], str(sf)) == [], name
    con.close()


def test_table_config_first_creator_wins(tmp_path, monkeypatch):
    """A second creator that checked for the record before the first one
    landed gets the first record back and leaves the file as it was; an
    existing record is returned as stored."""
    root = str(tmp_path / "t")
    assert layout.table_config(root, {"b": 1}) == {"b": 1}
    real = os.path.exists
    monkeypatch.setattr(
        layout.os.path, "exists", lambda p: False if p.endswith("_config.json") else real(p)
    )
    assert layout.table_config(root, {"b": 2, "c": 3}) == {"b": 1}
    monkeypatch.undo()
    assert layout.table_config(root, {"c": 4}) == {"b": 1}
    with open(os.path.join(root, "_config.json")) as f:
        assert json.load(f) == {"b": 1}
    assert [n for n in os.listdir(root) if n != "_config.json"] == []
