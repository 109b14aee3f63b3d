"""T5 watermark semantics with genuinely late data.

Spark's watermark contract (documented, and pinned here empirically):
data *within* the watermark is guaranteed to be aggregated; data later
than the watermark is dropped *once the window's state is evicted* —
a late row arriving while the old window's state still lives may merge
in (best-effort, not a violation).

Three ordered micro-batches (maxFilesPerTrigger=1):
  b0: events at 10:00, 10:20, 11:00  → watermark after b0 = 10:50
  b1: fresh event at 11:10           → runs at wm 10:50; evicts the
                                       10:00–10:30 window; wm → 11:00
  b2: very late event at 10:05       → its window is evicted → DROPPED
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F


_BATCHES = [
    [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 10:20:00", 2.0), (3, "2024-01-01 11:00:00", 4.0)],
    [(5, "2024-01-01 11:10:00", 16.0)],
    [(6, "2024-01-01 10:05:00", 8.0)],  # very late: window state already evicted
]


def test_late_event_dropped_after_state_eviction(spark, tmp_path):
    base = str(tmp_path)
    land = os.path.join(base, "land")
    os.makedirs(land)
    for i, rows in enumerate(_BATCHES):
        df = spark.createDataFrame(rows, ["event_id", "ts_s", "value"]).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
        )
        p = os.path.join(base, f"b{i}")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        src = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        os.link(os.path.join(p, src), os.path.join(land, f"{i:02d}.parquet"))
        time.sleep(1.1)  # distinct mtimes → deterministic file order

    schema = spark.read.parquet(os.path.join(base, "b0")).schema
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("win"))
        .agg(F.sum("value").alias("s"))
        .select(F.date_format("win.start", "HH:mm").alias("w"), "s")
    )
    epochs: dict[int, list] = {}

    def sink(df, eid):
        epochs[eid] = [tuple(r) for r in df.collect()]

    ckpt = os.path.join(base, "ckpt")
    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    assert ("10:00", 3.0) in epochs[0] and ("11:00", 4.0) in epochs[0]
    assert epochs[1] == [("11:00", 20.0)]
    # The guaranteed drop: the very-late row produces NO update.
    assert epochs[2] == []
    # Watermark progressed as documented (lags one batch).
    wms = [p["eventTime"].get("watermark") for p in q.recentProgress]
    assert wms[1].startswith("2024-01-01T10:50") and wms[2].startswith("2024-01-01T11:00")