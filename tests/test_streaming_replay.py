"""T5 depth (VERDICT r4 item 8): watermark eviction driven by a
rate-limited replay of the REAL events fixture, not synthetic rows.

The fixture's 30-day event stream is re-landed as N time-ordered chunk
files and replayed one micro-batch per chunk (``maxFilesPerTrigger=1``)
through a watermarked tumbling-window aggregation in APPEND mode.  That
exercises the full production lifecycle the single-batch availableNow
queries can't: the watermark advances at every micro-batch, each advance
finalizes (emits + evicts) the windows it passes, and the state store
stays bounded at the handful of still-open windows instead of the whole
history.

Pinned facts:
1. windows are emitted progressively across epochs (not one terminal
   dump) — the watermark really advanced per micro-batch;
2. the union of appended windows equals the batch twin restricted to
   windows the final watermark passed (append-mode contract: trailing
   open windows are withheld);
3. the state store held FAR fewer rows than the total window count at
   the final micro-batch — eviction actually ran (this is the 100 TB
   property: state ∝ open windows, not stream length).
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineer_coder_spark.io.tables import table
from data_engineer_coder_spark.streaming.core import _ckpt_dir

_N_CHUNKS = 6
_WINDOW = "6 hours"
_WATERMARK = "1 hour"


def _land_chunks(spark, sf_dir: str, base: str) -> tuple[str, int]:
    """Re-land the events fixture under ``base`` as N time-ordered
    single-file chunks."""
    land = os.path.join(base, "land")
    os.makedirs(land)
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "value")
    chunks = ev.orderBy("ts").withColumn(
        "_chunk", F.ntile(_N_CHUNKS).over(Window.orderBy("ts"))
    )
    total = 0
    for i in range(1, _N_CHUNKS + 1):
        p = os.path.join(base, f"c{i}")
        part = chunks.filter(F.col("_chunk") == i).drop("_chunk")
        total += part.count()
        part.coalesce(1).write.mode("overwrite").parquet(p)
        src = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        # zero-pad so listing order == event-time order
        os.link(os.path.join(p, src), os.path.join(land, f"{i:02d}.parquet"))
    return land, total


def test_watermark_eviction_under_fixture_replay(spark, sf_dir, tmp_path):
    land, n_events = _land_chunks(spark, sf_dir, str(tmp_path))
    schema = spark.read.parquet(land).schema

    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", _WINDOW).alias("win"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm").alias("w"),
            "n",
            F.round("s", 6).alias("s"),
        )
    )

    epochs: dict[int, list] = {}

    def sink(df, eid):
        rows = [tuple(r) for r in df.collect()]
        if rows:
            epochs[eid] = rows

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", _ckpt_dir())
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "replay did not finish"
    state_rows_last = None
    for p in q.recentProgress:
        if p.get("stateOperators"):
            state_rows_last = p["stateOperators"][0]["numRowsTotal"]

    # (1) progressive emission: append output landed in several epochs,
    # so the watermark advanced mid-stream, not only at the end.
    assert len(epochs) >= 3, f"windows all dumped at once: epochs={list(epochs)}"

    # (2) exact parity with the batch twin over the emitted horizon.
    ev = table(spark, sf_dir, "events").select("ts", "value")
    final_wm_ts = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {_WATERMARK}")).alias("wm")
    ).collect()[0]["wm"]
    batch = (
        ev.groupBy(F.window("ts", _WINDOW).alias("win"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .filter(F.col("win.end") <= F.lit(final_wm_ts))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm").alias("w"),
            "n",
            F.round("s", 6).alias("s"),
        )
    )
    want = sorted(map(tuple, batch.collect()))
    got = sorted(t for rows in epochs.values() for t in rows)
    assert got == want

    # (3) bounded state: far fewer live state rows than total windows.
    n_windows_total = ev.select(F.window("ts", _WINDOW)).distinct().count()
    assert state_rows_last is not None
    assert state_rows_last < n_windows_total / 2, (
        f"state held {state_rows_last} rows vs {n_windows_total} windows — "
        "eviction did not run"
    )
