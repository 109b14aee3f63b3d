"""Streaming T1–T8: batch-equivalence (SURVEY.md §5.2) — the same
transformation over readStream (availableNow) must equal the batch run."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_engineer_coder_spark.io.tables import table
from data_engineer_coder_spark.streaming import windows as sw
from data_engineer_coder_spark.streaming.core import (
    run_to_memory,
    stream_events,
    write_foreach_batch,
)
from data_engineer_coder_spark.streaming.stateful import streaming_user_counters


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_tumbling_batch_equivalence(spark, sf_dir):
    batch = sw.tumbling_hourly(table(spark, sf_dir, "events"))
    stream = run_to_memory(sw.tumbling_hourly(stream_events(spark, sf_dir)), "complete")
    assert _sorted_rows(stream) == _sorted_rows(batch)


def test_session_batch_equivalence(spark, sf_dir):
    batch = sw.sessionized(table(spark, sf_dir, "events"))
    stream = run_to_memory(sw.sessionized(stream_events(spark, sf_dir)), "complete")
    assert _sorted_rows(stream) == _sorted_rows(batch)


def test_watermark_append_emits_only_closed_windows(spark, sf_dir):
    """Watermark semantics: in append mode only windows whose end is at
    or before (max event time - watermark delay) are emitted; the
    trailing open windows stay in state."""
    ev = table(spark, sf_dir, "events")
    batch = sw.watermarked_tumbling(ev)
    stream = run_to_memory(
        sw.watermarked_tumbling(stream_events(spark, sf_dir)), "append"
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - __import__("datetime").timedelta(minutes=10)
    closed = batch.filter(
        F.col("win_start").cast("timestamp") + F.expr("INTERVAL 10 MINUTES")
        <= F.lit(wm)
    )
    assert _sorted_rows(stream) == _sorted_rows(closed)
    assert 0 < stream.count() < batch.count()


def test_stateful_counters_match_batch_agg(spark, sf_dir):
    stream = streaming_user_counters(stream_events(spark, sf_dir))
    got = _sorted_rows(run_to_memory(stream, "update").select("user_id", "n_events"))
    want = _sorted_rows(
        table(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n"))
    )
    assert got == want


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    target = str(tmp_path / "agg")

    def sink(df, epoch_id):
        df.write.mode("overwrite").parquet(target)

    q = write_foreach_batch(
        sw.tumbling_hourly(stream_events(spark, sf_dir)), sink, output_mode="complete"
    )
    q.awaitTermination(300)
    written = spark.read.parquet(target)
    batch = sw.tumbling_hourly(table(spark, sf_dir, "events"))
    assert _sorted_rows(written) == _sorted_rows(batch)


def test_foreach_batch_merge_upsert_state(spark, sf_dir, tmp_path):
    """Streaming CDC: each micro-batch MERGEs its latest-per-key rows into
    a parquet state table (the foreachBatch upsert-sink pattern).  The
    merge step is associative (max over a totally-ordered struct), so the
    final state must equal the batch latest-per-key regardless of how the
    stream was split into micro-batches."""
    target = str(tmp_path / "state")

    latest = F.max(F.struct("ts", "event_id", "value")).alias("latest")

    def merge(batch_df, epoch_id):
        upd = batch_df.groupBy("user_id").agg(latest).select(
            "user_id", "latest.ts", "latest.event_id", "latest.value"
        )
        if os.path.exists(target):
            cur = batch_df.sparkSession.read.parquet(target)
            upd = (
                cur.unionByName(upd)
                .groupBy("user_id")
                .agg(latest)
                .select("user_id", "latest.ts", "latest.event_id", "latest.value")
            )
        # stage-then-swap: never read and overwrite the same files in one job
        tmp = target + "_tmp"
        upd.write.mode("overwrite").parquet(tmp)
        final = batch_df.sparkSession.read.parquet(tmp)
        final.write.mode("overwrite").parquet(target)

    ev = stream_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    q = write_foreach_batch(ev, merge, output_mode="append")
    q.awaitTermination(300)

    got = spark.read.parquet(target)
    want = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(latest)
        .select("user_id", "latest.ts", "latest.event_id", "latest.value")
    )
    assert _sorted_rows(got) == _sorted_rows(want)


def test_checkpoint_resume_processes_new_data_exactly_once(spark, sf_dir, tmp_path):
    """Durability: stop a checkpointed file-stream, add a new file, restart
    with the same checkpoint — the old data must not be re-emitted and the
    new file must be picked up (offset tracking across restarts)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out" / "data")

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.filter(F.col("event_id") < 500).write.parquet(src + "/part1")

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run_once()
    first = spark.read.parquet(out).count()
    assert first == ev.filter(F.col("event_id") < 500).count()

    ev.filter((F.col("event_id") >= 500) & (F.col("event_id") < 800)).write.parquet(
        src + "/part2"
    )
    run_once()
    got = spark.read.parquet(out)
    want = ev.filter(F.col("event_id") < 800)
    assert got.count() == want.count()  # no duplicates, nothing missed
    assert _sorted_rows(got) == _sorted_rows(want)


def test_tws_counters_match_batch_agg(spark, sf_dir):
    """Spark 4 transformWithStateInPandas twin of the GroupState
    counters.  Import-gated: the API's state-server protocol needs
    google.protobuf, absent in some environments (including this
    container) — the operator itself must still build a valid streaming
    plan either way."""
    import pytest

    from data_engineer_coder_spark.streaming.stateful import (
        streaming_user_counters_tws,
        tws_available,
    )

    sdf = streaming_user_counters_tws(stream_events(spark, sf_dir))
    assert sdf.isStreaming and set(sdf.columns) == {"user_id", "n_events", "sum_value"}
    if not tws_available():
        pytest.skip("google.protobuf not installed: transformWithState "
                    "driver worker cannot start in this environment")
    got = _sorted_rows(run_to_memory(sdf, "update").select("user_id", "n_events"))
    want = _sorted_rows(
        table(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n"))
    )
    assert got == want


def test_stream_documents_directory_layout(spark, sf_dir, tmp_path):
    """ADVICE r5: a documents.parquet materialized as a DIRECTORY of part
    files (what df.write.parquet produces) must stream every row — the
    old name-glob approach silently read zero rows from that layout."""
    from data_engineer_coder_spark.streaming.core import stream_documents

    docs = table(spark, sf_dir, "documents")
    corpus = str(tmp_path / "corpus")
    docs.write.parquet(os.path.join(corpus, "documents.parquet"))
    out = run_to_memory(
        stream_documents(spark, corpus).groupBy().count(), "complete"
    )
    assert out.collect()[0][0] == docs.count()


def test_stream_exactly_once_sink_survives_epoch_replay(spark, sf_dir, tmp_path):
    """T8b: the ACID-table foreachBatch sink must make a replayed epoch a
    no-op (at-least-once foreachBatch + txid idempotence = exactly-once).
    Run the stream, capture an epoch's batch, re-commit it manually (the
    crash-replay), and assert the table is unchanged — then compare the
    final table against the batch source."""
    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        current_manifest,
        read_table,
    )
    from data_engineer_coder_spark.streaming.core import (
        stream_documents,
        write_stream_exactly_once,
    )

    root = str(tmp_path / "t")
    src = stream_documents(spark, sf_dir).select("doc_id", "lang", "n_chars")
    q = write_stream_exactly_once(src, root, ["lang"])
    q.awaitTermination(300)

    man = current_manifest(root)
    assert man["txids"], "stream committed no epochs"
    n_before = read_table(spark, root).count()
    v_before = man["version"]

    # crash-replay: re-commit epoch 0's logical write with the same txid
    batch = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    append_partitions(batch, root, ["lang"], man["txids"][0])
    man2 = current_manifest(root)
    assert man2["version"] == v_before  # no new commit
    assert read_table(spark, root).count() == n_before  # no duplicates

    got = read_table(spark, root).select("doc_id", "lang", "n_chars")
    assert _sorted_rows(got) == _sorted_rows(batch)


def test_stream_exactly_once_sink_accumulates_multi_epoch(spark, sf_dir, tmp_path):
    """T8b under a genuinely MULTI-epoch stream (ADVICE r7 high): every
    epoch carries rows for the same ``lang`` partition values, so a
    replace-semantics sink would silently drop all but the last epoch's
    rows per partition.  The append-manifest sink must conserve every
    epoch."""
    from data_engineer_coder_spark.io.acid_table import current_manifest, read_table
    from data_engineer_coder_spark.streaming.core import write_stream_exactly_once

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    src_dir = str(tmp_path / "src")
    docs.repartition(2).write.parquet(src_dir)  # 2 files → 2 micro-batches
    schema = spark.read.parquet(src_dir).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    root = str(tmp_path / "t")
    q = write_stream_exactly_once(sdf, root, ["lang"])
    q.awaitTermination(300)

    man = current_manifest(root)
    assert len(man["txids"]) >= 2, "fixture failed to produce multiple epochs"
    got = read_table(spark, root)
    assert got.count() == docs.count()  # earlier epochs' rows survived
    assert _sorted_rows(got.select("doc_id", "lang", "n_chars")) == _sorted_rows(docs)


def test_stream_append_then_compact_roundtrip(spark, sf_dir, tmp_path):
    """T8b + r8 maintenance: a 4-epoch exactly-once stream leaves one
    staging dir per epoch per lang; compact_partitions must collapse
    them to one dir per lang with identical rows, vacuum reclaims the
    epoch dirs, and a LATER stream epoch appends cleanly on top of the
    compacted table — the full table-maintenance loop a production
    micro-batch sink runs."""
    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        compact_partitions,
        current_manifest,
        read_table,
        vacuum,
    )
    from data_engineer_coder_spark.streaming.core import write_stream_exactly_once

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    src_dir = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src_dir)  # 4 files → 4 micro-batches
    schema = spark.read.parquet(src_dir).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    root = str(tmp_path / "t")
    q = write_stream_exactly_once(sdf, root, ["lang"])
    q.awaitTermination(300)

    man = current_manifest(root)
    assert len(man["txids"]) >= 3, "fixture failed to produce multiple epochs"
    multi = [p for p, dirs in man["partitions"].items() if len(dirs) >= 2]
    assert multi, "no partition accumulated multiple epoch dirs"

    compact_partitions(spark, root, "maint-1")
    man2 = current_manifest(root)
    assert all(len(d) == 1 for d in man2["partitions"].values())
    got = read_table(spark, root)
    assert got.count() == docs.count()
    assert _sorted_rows(got.select("doc_id", "lang", "n_chars")) == _sorted_rows(docs)

    removed = vacuum(root)
    assert removed, "vacuum reclaimed no superseded epoch dirs"
    assert read_table(spark, root).count() == docs.count()

    # the stream's NEXT epoch appends on top of the compacted table
    extra = docs.limit(7).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    append_partitions(extra, root, ["lang"], "epoch-99")
    assert read_table(spark, root).count() == docs.count() + 7


def test_stream_quarantine_splits_and_conserves_rows(spark, sf_dir, tmp_path):
    """T8c: the streaming DQ gate must conserve rows exactly (good +
    quarantined == source), tag each quarantined row with the rules it
    broke, and stay exactly-once under epoch replay on BOTH tables."""
    from pyspark.sql import functions as F

    from data_engineer_coder_spark.io.acid_table import read_table
    from data_engineer_coder_spark.streaming.core import (
        stream_documents,
        write_stream_with_quarantine,
    )

    base = str(tmp_path)
    good_root, bad_root = f"{base}/good", f"{base}/bad"
    src = stream_documents(spark, sf_dir).select("doc_id", "lang", "n_chars")
    rules = {
        "min_length": F.col("n_chars") >= 150,
        "lang_allowed": F.col("lang") != "zh",
    }
    q = write_stream_with_quarantine(src, rules, good_root, bad_root, ["lang"])
    q.awaitTermination(300)

    good = read_table(spark, good_root).toPandas()
    bad = read_table(spark, bad_root).toPandas()
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars").toPandas()
    assert len(good) + len(bad) == len(docs)
    assert set(good.doc_id) | set(bad.doc_id) == set(docs.doc_id)
    assert len(bad) > 0  # the fixture must exercise the quarantine side
    assert (good["n_chars"].astype(int) >= 150).all()
    assert (good["lang"] != "zh").all()
    short = bad[bad["n_chars"].astype(int) < 150]
    assert short["failed_rules"].str.contains("min_length").all()
    zh = bad[bad["lang"] == "zh"]
    assert zh["failed_rules"].str.contains("lang_allowed").all()
    # replaying the epoch is a no-op on both sides
    from data_engineer_coder_spark.io.acid_table import append_partitions, current_manifest

    man = current_manifest(good_root)
    append_partitions(
        spark.createDataFrame(good), good_root, ["lang"], man["txids"][0]
    )
    assert read_table(spark, good_root).count() == len(good)


def test_stream_stream_left_outer_emits_null_rows(spark, tmp_path):
    """T9 outer: a purchase with NO qualifying click (none at all, or
    only one outside the 30-min window) must surface with null click
    columns once the watermark closes — the rows an inner join drops."""
    import datetime

    import pandas as pd
    from pyspark.sql import Row

    from data_engineer_coder_spark.streaming.joins import (
        stream_stream_left_outer_join,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes, user, etype):
        return Row(
            event_id=eid,
            ts=t0 + datetime.timedelta(minutes=minutes),
            user_id=user,
            event_type=etype,
            value=float(eid),
            props="{}",
        )

    rows = [
        ev(1, 0, 1, "click"),      # user 1: click 10 min before purchase
        ev(2, 10, 1, "purchase"),  #   -> attributed
        ev(3, 10, 2, "purchase"),  # user 2: no click at all -> null row
        ev(4, 0, 3, "click"),      # user 3: click 40 min before purchase
        ev(5, 40, 3, "purchase"),  #   -> outside the window -> null row
        # horizon pushers: the watermark is min over the two FILTERED
        # branches (Catalyst pushes the event-type filter below the
        # watermark node), so BOTH a late click and a late purchase are
        # needed to close it past the purchases above
        ev(6, 600, 9, "click"),
        ev(7, 600, 9, "purchase"),
    ]
    fixture = str(tmp_path / "outer")
    spark.createDataFrame(rows).coalesce(1).write.parquet(
        f"{fixture}/events.parquet"
    )
    got = (
        stream_stream_left_outer_join(spark, fixture)
        .toPandas()
        .set_index("purchase_id")
    )
    assert got.loc[2, "click_id"] == 1  # matched pair intact
    assert set(got.index) == {2, 3, 5}
    assert pd.isna(got.loc[3, "click_id"]) and pd.isna(got.loc[3, "click_ts"])
    assert pd.isna(got.loc[5, "click_id"])  # too-old click doesn't attribute


def test_stream_rollup_merge_equals_full_recompute(spark, sf_dir, tmp_path):
    """T8d: the streaming matview sink must, after N micro-batches,
    hold exactly the rollup a full batch recompute produces — the
    merge==recompute contract of incremental_rollup_merge, proven
    through the streaming path, with replay staying exactly-once."""
    from data_engineer_coder_spark.io.acid_table import current_manifest, read_table
    from data_engineer_coder_spark.streaming.core import write_stream_rollup_merge

    ev = table(spark, sf_dir, "events").select("ts", "event_type", "value")
    src_dir = str(tmp_path / "src")
    ev.repartition(3).write.parquet(src_dir)  # 3 files → 3 micro-batches
    schema = spark.read.parquet(src_dir).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    root = str(tmp_path / "t")
    q = write_stream_rollup_merge(sdf, root)
    q.awaitTermination(300)

    man = current_manifest(root)
    assert len(man["txids"]) >= 2, "fixture failed to produce multiple epochs"

    got = (
        read_table(spark, root)
        .select(
            "day", "event_type", "n",
            F.col("sv").cast("double").alias("sum_v"), "mn", "mx",
        )
        .toPandas()
        .sort_values(["day", "event_type"])
        .reset_index(drop=True)
    )
    want = (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_v"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .toPandas()
        .sort_values(["day", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["n"].values == want["n"].values).all()
    assert (got["sum_v"].values == want["sum_v"].values).all()  # decimal-exact merge
    assert (got["mn"].values == want["mn"].values).all()
    assert (got["mx"].values == want["mx"].values).all()

    # replaying a committed epoch is a no-op (exactly-once)
    v = current_manifest(root)["version"]
    n_before = read_table(spark, root).count()
    from data_engineer_coder_spark.io.acid_table import replace_partitions

    first_txid = man["txids"][0]
    replace_partitions(
        read_table(spark, root).limit(1).drop("day").withColumn("day", F.lit("x")),
        root, ["day"], first_txid,
    )
    assert current_manifest(root)["version"] == v
    assert read_table(spark, root).count() == n_before


def test_stream_progress_report_shows_batches_and_watermark(spark, sf_dir):
    """T-obs: the progress report must surface one row per micro-batch
    with non-zero input and an advancing watermark for a watermarked
    aggregation."""
    from data_engineer_coder_spark.streaming.core import stream_progress_report

    agg = sw.watermarked_tumbling(stream_events(spark, sf_dir))
    q = (
        agg.writeStream.format("memory")
        .queryName("prog_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rep = stream_progress_report(spark, q).toPandas()
    assert len(rep) >= 1
    assert rep["input_rows"].sum() > 0
    assert rep["batch_id"].is_unique
    # the watermark column must be populated once event time has flowed
    assert rep["watermark"].notna().any()


def test_neardup_gate_decisions_and_replay_noop(spark, tmp_path):
    """T8e: the online near-dup ingest gate must (a) keep-first within a
    batch, (b) reject an arriving near-dup of an already-indexed doc,
    (c) accept sub-3-word docs unconditionally (no signature), and
    (d) stay exactly-once when the whole stream replays (fresh
    checkpoint, same epoch txids)."""
    import os as _os
    import time as _time

    from data_engineer_coder_spark.io.acid_table import current_manifest, read_table
    from data_engineer_coder_spark.streaming.core import write_stream_neardup_gate

    dup = "the quick brown fox jumps over the lazy dog today and tomorrow"
    uniq1 = "completely different words about spark streaming engines at scale"
    uniq2 = "a third unrelated document mentioning parquet manifests and commits"
    e0 = [(10, dup), (12, dup), (14, uniq1), (16, "hi")]
    e1 = [(21, dup), (23, uniq2)]
    src = str(tmp_path / "src")
    _os.makedirs(src)
    now = _time.time()
    for i, rows in enumerate((e0, e1)):
        part = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(part)
        f = next(x for x in _os.listdir(part) if x.endswith(".parquet"))
        dst = _os.path.join(src, f"e{i}.parquet")
        _os.rename(_os.path.join(part, f), dst)
        _os.utime(dst, (now + 30 * i, now + 30 * i))
    schema = spark.read.parquet(src).schema

    def _run():
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = write_stream_neardup_gate(
            sdf, str(tmp_path / "sigs"), str(tmp_path / "docs"), str(tmp_path / "stats")
        )
        q.awaitTermination(300)

    _run()
    stats = {
        int(r["epoch"]): (r["n_rejected_index"], r["n_rejected_batch"], r["n_accepted"])
        for r in read_table(spark, str(tmp_path / "stats")).collect()
    }
    # epoch 0: 12 is a within-batch dup of 10 (keep-first); "hi" accepted
    assert stats[0] == (0, 1, 3)
    # epoch 1: 21 near-dups indexed 10; 23 unique
    assert stats[1] == (1, 0, 1)
    docs = read_table(spark, str(tmp_path / "docs"))
    assert sorted(r["doc_id"] for r in docs.collect()) == [10, 14, 16, 23]
    sigs = read_table(spark, str(tmp_path / "sigs"))
    # the 2-word doc contributed no signature
    assert sorted(r["doc_id"] for r in sigs.collect()) == [10, 14, 23]

    v_before = {
        n: current_manifest(str(tmp_path / n))["version"]
        for n in ("sigs", "docs", "stats")
    }
    _run()  # fresh checkpoint → full replay of epochs 0 and 1
    for n, v in v_before.items():
        assert current_manifest(str(tmp_path / n))["version"] == v, n
    assert read_table(spark, str(tmp_path / "docs")).count() == 4
    assert read_table(spark, str(tmp_path / "stats")).count() == 2


def test_neardup_gate_df_cap_excludes_boilerplate(spark, tmp_path):
    """T8e capped: the standing df matview must count ARRIVED (not just
    accepted) docs, a shingle past the cap must be excluded from later
    epochs' signatures (n_capped_shingles > 0, and a pure-boilerplate
    arrival whose shingles are ALL capped is accepted — no signature),
    and the cap must be able to FLIP a decision the uncapped gate makes."""
    import os as _os
    import time as _time

    from data_engineer_coder_spark.io.acid_table import read_table
    from data_engineer_coder_spark.streaming.core import write_stream_neardup_gate

    boiler = "subscribe to our weekly newsletter for updates and special offers today"
    tail = "meanwhile the actual article discusses parquet footers"
    e0 = [(10, boiler), (12, boiler)]          # 12 rejected within-batch; df(B)=2
    e1 = [(21, boiler), (23, boiler + " " + tail)]
    src = str(tmp_path / "src")
    _os.makedirs(src)
    now = _time.time()
    for i, rows in enumerate((e0, e1)):
        part = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(part)
        f = next(x for x in _os.listdir(part) if x.endswith(".parquet"))
        dst = _os.path.join(src, f"e{i}.parquet")
        _os.rename(_os.path.join(part, f), dst)
        _os.utime(dst, (now + 30 * i, now + 30 * i))
    schema = spark.read.parquet(src).schema

    def _run(tag, cap):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = write_stream_neardup_gate(
            sdf,
            str(tmp_path / f"{tag}_sigs"),
            str(tmp_path / f"{tag}_docs"),
            str(tmp_path / f"{tag}_stats"),
            df_cap=cap,
            df_root=str(tmp_path / f"{tag}_dfs") if cap else None,
        )
        q.awaitTermination(300)
        return {
            int(r["epoch"]): (r["n_capped_shingles"], r["n_rejected_index"],
                              r["n_rejected_batch"], r["n_accepted"])
            for r in read_table(spark, str(tmp_path / f"{tag}_stats")).collect()
        }

    plain = _run("plain", None)
    # uncapped: 21 is byte-identical to indexed 10 → rejected vs index
    assert plain[0] == (0, 0, 1, 1)
    assert plain[1][1] == 1  # 21 rejected vs index

    capped = _run("capped", 1)
    assert capped[0] == (0, 0, 1, 1)  # epoch 0 sees an empty df state
    n_capped, ri, rb, acc = capped[1]
    # df(boiler shingles) = 2 (arrived docs 10 AND 12, despite 12's
    # rejection) > cap=1 → excluded: 21 has NO remaining shingles → no
    # signature → accepted (the decision the cap flips); 23 signs on its
    # unique tail only and is accepted too
    assert n_capped > 0
    assert (ri, rb, acc) == (0, 0, 2)
    # the standing df matview recorded every boiler shingle at df=2
    dfs = read_table(spark, str(tmp_path / "capped_dfs"))
    assert dfs.filter(F.col("df") >= 2).count() == n_capped


def test_neardup_gate_prune_key_cap_fallback(spark, tmp_path):
    """r11: the gate's driver-side key lists are capped — past
    ``prune_key_cap`` the probe falls back to the UNPRUNED index scan,
    and the accept/reject decisions must be byte-identical (pruning
    chooses which files to read, never which candidates to consider)."""
    import os as _os
    import time as _time

    from data_engineer_coder_spark.io.acid_table import read_table
    from data_engineer_coder_spark.streaming.core import write_stream_neardup_gate

    dup = "the quick brown fox jumps over the lazy dog today and tomorrow"
    uniq1 = "completely different words about spark streaming engines at scale"
    uniq2 = "a third unrelated document mentioning parquet manifests and commits"
    e0 = [(10, dup), (14, uniq1)]
    e1 = [(21, dup), (23, uniq2), (25, uniq1 + " with an extra suffix")]
    src = str(tmp_path / "src")
    _os.makedirs(src)
    now = _time.time()
    for i, rows in enumerate((e0, e1)):
        part = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(part)
        f = next(x for x in _os.listdir(part) if x.endswith(".parquet"))
        dst = _os.path.join(src, f"e{i}.parquet")
        _os.rename(_os.path.join(part, f), dst)
        _os.utime(dst, (now + 30 * i, now + 30 * i))
    schema = spark.read.parquet(src).schema

    def _run(tag, cap):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = write_stream_neardup_gate(
            sdf,
            str(tmp_path / f"{tag}_sigs"),
            str(tmp_path / f"{tag}_docs"),
            str(tmp_path / f"{tag}_stats"),
            prune_key_cap=cap,
        )
        q.awaitTermination(300)
        ledger = sorted(
            (int(r["epoch"]), r["n_arrived"], r["n_rejected_index"],
             r["n_rejected_batch"], r["n_accepted"])
            for r in read_table(spark, str(tmp_path / f"{tag}_stats")).collect()
        )
        docs = sorted(
            r["doc_id"]
            for r in read_table(spark, str(tmp_path / f"{tag}_docs")).collect()
        )
        return ledger, docs

    pruned = _run("pruned", 100_000)     # epoch-1 key set well under cap
    fallback = _run("fallback", 1)       # cap=1 < 8×|batch| keys → unpruned scan
    assert pruned == fallback
    # sanity: the gate actually rejected the cross-epoch near-dup
    assert pruned[0][1][2] == 1  # epoch 1: n_rejected_index == 1


def test_df_table_buckets_is_table_metadata(spark, tmp_path):
    """r11 (ADVICE r10): the exact df matview's bucket count persists in
    the table's _config.json — a later run requesting a DIFFERENT
    df_buckets must get the table's original layout back, so standing
    rows are never split across two hash layouts."""
    import json
    import os as _os
    import time as _time

    from data_engineer_coder_spark.io import layout
    from data_engineer_coder_spark.io.acid_table import read_table
    from data_engineer_coder_spark.streaming.core import write_stream_neardup_gate

    def df_buckets(root, requested):  # the gate's own lookup
        return int(layout.table_config(root, {"df_buckets": requested})["df_buckets"])

    root = str(tmp_path / "dfs_meta")
    assert df_buckets(root, 8) == 8       # creates the config
    assert df_buckets(root, 64) == 8      # table layout wins
    with open(_os.path.join(root, "_config.json")) as f:
        assert json.load(f) == {"df_buckets": 8}

    # integration: a capped gate run writes the sidecar next to the
    # manifest, and the standing rows' bucket values respect it
    boiler = "subscribe to our weekly newsletter for updates and special offers today"
    e0 = [(10, boiler), (12, boiler)]
    src = str(tmp_path / "src")
    _os.makedirs(src)
    part = str(tmp_path / "p0")
    spark.createDataFrame(e0, "doc_id long, text string").coalesce(1).write.parquet(part)
    f0 = next(x for x in _os.listdir(part) if x.endswith(".parquet"))
    dst = _os.path.join(src, "e0.parquet")
    _os.rename(_os.path.join(part, f0), dst)
    _os.utime(dst, (_time.time(), _time.time()))
    schema = spark.read.parquet(src).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    df_root = str(tmp_path / "gate_dfs")
    q = write_stream_neardup_gate(
        sdf,
        str(tmp_path / "g_sigs"),
        str(tmp_path / "g_docs"),
        str(tmp_path / "g_stats"),
        df_cap=1,
        df_root=df_root,
        df_buckets=4,
    )
    q.awaitTermination(300)
    with open(_os.path.join(df_root, "_config.json")) as f:
        assert json.load(f) == {"df_buckets": 4}
    dfs = read_table(spark, df_root)
    assert dfs.filter(F.col("bucket").cast("int") >= 4).count() == 0
    # and a scale-up request on the standing table is ignored
    assert df_buckets(df_root, 1024) == 4
