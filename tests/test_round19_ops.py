"""Round 19: one ANN probe step per engine.

The probe-cell ranking, the served probe width and the exact re-rank are
each written once in ``operators/similarity.py`` (SQL fragment + Spark
helper).  These tests pin the one rule the oracles used to hard-code: the
served pools probe ``served_nprobe(K)`` cells, and the SQL side now
derives that width from the centroid CTE's row count instead of a
literal 12.
"""

from __future__ import annotations

import duckdb

from data_engineer_coder_spark.operators.similarity import (
    _sql_probe_cells,
    _sql_served_nprobe,
    served_nprobe,
)


def test_sql_served_nprobe_matches_spark_rule():
    con = duckdb.connect()
    got = {
        k: con.execute(
            f"WITH cents AS (SELECT * FROM range({k})) SELECT {_sql_served_nprobe('cents')}"
        ).fetchone()[0]
        for k in range(1, 1001)
    }
    want = {k: served_nprobe(k) for k in range(1, 1001)}
    assert got == want


def test_probe_cells_fragment_keeps_served_nprobe_cells_past_192():
    k = 400  # served_nprobe(400) = 25: past the literal-12 regime
    con = duckdb.connect()
    rows = con.execute(f"""
WITH cents AS (
  SELECT range AS centroid_id, [range, 1]::BIGINT[] AS cqv, range * range + 1 AS cnrm
  FROM range({k})
),
probes AS (
  SELECT range AS probe_id, [1, range]::BIGINT[] AS pqv, range * range + 1 AS pnrm
  FROM range(3)
),
{_sql_probe_cells('probes', 'probe_id', 'cents', _sql_served_nprobe('cents'))}
SELECT probe_id, COUNT(*) FROM pcell GROUP BY 1 ORDER BY 1
""").fetchall()
    assert rows == [(p, served_nprobe(k)) for p in range(3)]
