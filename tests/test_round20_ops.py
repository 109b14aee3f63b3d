"""Round 20: one word window per engine.

Every n-gram, segment and RAG chunk is cut by one Spark helper in
``operators/textops.py`` (``ngram_array``, ``chunk_array``) and one DuckDB
fragment (``_sql_ngrams``, ``_sql_chunks``).  These tests pin the pair to
each other and to a plain-Python reference at the edge lengths where the
two engines' range primitives differ (Spark's ``sequence(1, 0)`` counts
down; DuckDB's ``//`` truncates toward zero), and check that a 1- or
2-word document no longer breaks the 3-gram decontamination query.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_engineer_coder_spark import registry
from data_engineer_coder_spark.operators.textops import (
    _CHUNK_LEN,
    _CHUNK_STRIDE,
    _sql_chunks,
    _sql_ngrams,
    chunk_array,
    ngram_array,
)
from data_engineer_coder_spark.testing import compare_pandas

_WINDOWS = [(n, step) for n in (2, 3, 8, 15) for step in (1, n)]
_CHUNK_WORDS = (1, 31, 32, 33, 56, 57)


def _words(k: int) -> list[str]:
    # a 3-word vocabulary, so windows repeat within a doc
    return [f"w{i % 3}" for i in range(k)]


def _ref_ngrams(ws: list[str], n: int, step: int) -> list[str]:
    return [" ".join(ws[i:i + n]) for i in range(0, len(ws) - n + 1, step)]


def _ref_chunks(ws: list[str]) -> list[list[str]]:
    nc = 1 + math.ceil(max(len(ws) - _CHUNK_LEN, 0) / _CHUNK_STRIDE)
    return [ws[k * _CHUNK_STRIDE:k * _CHUNK_STRIDE + _CHUNK_LEN] for k in range(nc)]


def test_word_window_pair_agrees_at_edge_lengths(spark):
    # word counts 0..17 cover 0..n+2 for every n; empty text splits to one
    # empty word, and a double space to an empty word inside the doc
    rows = [(k, _words(k)) for k in range(15 + 3)]
    rows += [(100 + k, _words(k)) for k in _CHUNK_WORDS]
    rows += [(-1, "".split(" ")), (-2, "w0  w1 w2".split(" "))]
    cols = [f"g{n}_{step}" for n, step in _WINDOWS]

    df = spark.createDataFrame(rows, "id int, ws array<string>")
    spark_rows = df.select(
        "id",
        *[ngram_array(F.col("ws"), n, step).alias(c) for (n, step), c in zip(_WINDOWS, cols)],
        chunk_array(F.col("ws")).alias("chunks"),
    ).collect()
    got_spark = {
        r["id"]: tuple(list(r[c]) for c in cols) + ([list(c) for c in r["chunks"]],)
        for r in spark_rows
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INT, ws VARCHAR[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sel = ", ".join(
        [f"{_sql_ngrams('ws', n, step)} AS {c}" for (n, step), c in zip(_WINDOWS, cols)]
        + [f"{_sql_chunks('ws')} AS chunks"]
    )
    got_duck = {r[0]: tuple(r[1:]) for r in con.execute(f"SELECT id, {sel} FROM t").fetchall()}

    want = {
        i: tuple(_ref_ngrams(ws, n, step) for n, step in _WINDOWS) + (_ref_chunks(ws),)
        for i, ws in rows
    }
    assert got_spark == want
    assert got_duck == want
    # the chunk geometry, trailing partial window included
    assert [[len(c) for c in want[100 + k][-1]] for k in _CHUNK_WORDS] == [
        [1], [31], [32], [32, 9], [32, 32], [32, 32, 9]
    ]


def test_decontaminate_overlap_drops_short_docs_in_both_engines(spark, sf_dir, tmp_path):
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    base = docs.slice(docs.num_rows - 1, 1).to_pylist()[0]
    top = max(docs.column("doc_id").to_pylist())
    extra = [
        {**base, "doc_id": top + 1, "text": "alpha"},
        {**base, "doc_id": top + 2, "text": "alpha beta"},
    ]
    assert top + 1 >= 20  # the corpus side of the benchmark split
    fixture = tmp_path / "sf"
    fixture.mkdir()
    pq.write_table(
        pa.concat_tables([docs, pa.Table.from_pylist(extra, schema=docs.schema)]),
        str(fixture / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{fixture}/documents.parquet')"
    )
    spec = registry.all_queries()["decontaminate_overlap"]
    got = spec.fn(spark, str(fixture)).toPandas()
    assert compare_pandas(got, con.execute(spec.oracle).fetchdf()) == []
    assert not set(got["doc_id"]) & {top + 1, top + 2}
