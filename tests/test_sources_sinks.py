"""Sources S1/S2 and sinks S4/S6 (SURVEY.md §2.1)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_engineer_coder_spark.io.tables import table
from data_engineer_coder_spark.sinks import (
    jdbc_column_types,
    render_report,
    send_report,
    write_partitioned_parquet,
)
from data_engineer_coder_spark.sources.rest import (
    air_quality_urls,
    fake_fetcher,
    fetch_urls,
)


def test_fetch_urls_parallel_fake(spark):
    out = fetch_urls(air_quality_urls(spark), fetcher=fake_fetcher).collect()
    assert len(out) == 3
    assert all(r.status == 200 and r.n_attempts == 1 for r in out)
    assert all('"status": "ok"' in r.body for r in out)


def test_fetch_urls_retries_then_succeeds(spark):
    calls = {}

    def flaky(url: str):
        calls[url] = calls.get(url, 0) + 1
        if calls[url] == 1:
            return 503, "unavailable"
        return 200, "{}"

    # Single partition so the closure's call-count state is coherent.
    urls = air_quality_urls(spark).coalesce(1)
    out = fetch_urls(urls, fetcher=flaky, backoff_s=0.01).collect()
    assert all(r.status == 200 for r in out)
    assert all(r.n_attempts == 2 for r in out)


def test_jdbc_column_types_mapping(spark, sf_dir):
    df = table(spark, sf_dir, "orders")
    ddl = jdbc_column_types(df)
    assert "o_orderkey BIGINT" in ddl
    assert "o_totalprice DOUBLE" in ddl  # Spark DDL type (parser rejects ANSI "DOUBLE PRECISION")
    assert "o_orderstatus VARCHAR(256)" in ddl
    assert "o_orderdate TIMESTAMP" in ddl


def test_partitioned_parquet_roundtrip_prunes(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders")
    df = table(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    write_partitioned_parquet(df, out, ["yr"])
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    pruned = back.filter(F.col("yr") == 1995)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(yr#" in plan  # static partition pruning
    assert pruned.count() == df.filter(F.col("yr") == 1995).count()


def test_report_render_and_injected_transport(spark, sf_dir):
    summary = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    body = render_report("Daily summary", {"events": [tuple(r) for r in summary]})
    assert "Daily summary" in body and "-- events --" in body
    sent = {}
    send_report(body, "ops@example.test", transport=lambda to, b: sent.update({to: b}))
    assert sent == {"ops@example.test": body}


def test_jdbc_options_from_env(tmp_path):
    from data_engineer_coder_spark.sinks import jdbc_options_from_env

    pw = tmp_path / "pw"
    pw.write_text("s3cret\n")
    env = {
        "DB_HOST": "db.example.test",
        "DB_NAME": "warehouse",
        "DB_USER": "loader",
        "DB_PORT": "5439",
        "DB_PASSWORD_FILE": str(pw),
    }
    opts = jdbc_options_from_env(env)
    assert opts["url"] == "jdbc:postgresql://db.example.test:5439/warehouse"
    assert opts["user"] == "loader" and opts["password"] == "s3cret"
    import pytest as _pytest

    with _pytest.raises(KeyError):
        jdbc_options_from_env({"DB_HOST": "x"})  # missing required vars


def test_write_compacted_parquet_bounds_file_count(spark, sf_dir, tmp_path):
    """Both knobs: coalesce bounds files from below (no per-task dust),
    maxRecordsPerFile splits oversized tasks from above."""
    import glob

    from data_engineer_coder_spark.sinks import write_compacted_parquet

    li = table(spark, sf_dir, "lineitem").repartition(16)
    n = li.count()

    out = str(tmp_path / "c1" / "t")
    write_compacted_parquet(li, out, max_records_per_file=n, num_partitions=2)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == 2, files

    out2 = str(tmp_path / "c2" / "t")
    cap = n // 4 + 1
    write_compacted_parquet(li, out2, max_records_per_file=cap, num_partitions=1)
    files2 = glob.glob(out2 + "/*.parquet")
    assert len(files2) == 4, files2
    assert spark.read.parquet(out2).count() == n


def test_custom_source_streams_deterministic_rows(spark):
    """The Python DataSource's streaming half must drain its finite row
    range through micro-batches and match the batch generator exactly."""
    import time

    from data_engineer_coder_spark.sources.custom import (
        _MULT,
        SyntheticDocsDataSource,
    )

    spark.dataSource.register(SyntheticDocsDataSource())
    total = 120
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("rows_per_batch", "50")
        .option("total_rows", str(total))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("custom_stream_sink")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("custom_stream_sink").count() >= total:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("custom_stream_sink").collect()))
    want = sorted((i, 0, (i * _MULT) % 97 + 3) for i in range(total))
    assert got == want


def test_merge_schema_read_across_evolved_writes(spark, sf_dir, tmp_path):
    """Schema evolution: a second writer adds a column; mergeSchema reads
    both generations with the union schema and NULLs for the old files —
    the append-only data-lake contract."""
    out = str(tmp_path / "t")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    o.limit(100).write.mode("append").parquet(out)
    o.limit(50).withColumn("o_discounted", F.col("o_totalprice") * 0.9).write.mode(
        "append"
    ).parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"o_orderkey", "o_totalprice", "o_discounted"}
    assert merged.count() == 150
    assert merged.filter(F.col("o_discounted").isNull()).count() == 100


def test_clustered_write_enables_file_skipping(spark, sf_dir, tmp_path):
    """Range-clustered files must hold near-disjoint key ranges: a
    selective range predicate should find matching rows in only a few
    files (row-group stats make the others skippable)."""
    import glob

    out = str(tmp_path / "t")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    from data_engineer_coder_spark.sinks import write_clustered_parquet

    write_clustered_parquet(o, out, ["o_orderkey"], num_files=8)
    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) == 8, files

    lo = o.agg(F.min("o_orderkey")).collect()[0][0]
    hi = o.agg(F.max("o_orderkey")).collect()[0][0]
    probe_lo, probe_hi = lo, lo + (hi - lo) // 16  # bottom ~6% of the key range
    files_with_hits = sum(
        1
        for f in files
        if spark.read.parquet(f)
        .filter(F.col("o_orderkey").between(probe_lo, probe_hi))
        .limit(1)
        .count()
        > 0
    )
    assert files_with_hits <= 2, files_with_hits
    got = spark.read.parquet(out).count()
    assert got == o.count()


def test_jdbc_roundtrip_via_embedded_derby(spark, sf_dir, tmp_path):
    """S4 end-to-end: a REAL JDBC write + read-back through the embedded
    Derby engine Spark already ships (the sandbox has no network DB).
    Exercises the same codepath as the reference's postgres load
    (my_data_pipeline.py:91-116): Spark derives DDL from
    createTableColumnTypes, batches inserts, one txn per partition."""
    from data_engineer_coder_spark.sinks import write_jdbc

    db = str(tmp_path / "db")
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )
    write_jdbc(src, url, "nation_sink", mode="overwrite", properties=props)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_sink")
        .options(**props)
        .load()
    )
    got = sorted(map(tuple, back.collect()))
    want = sorted(map(tuple, src.collect()))
    assert got == want


def test_jdbc_partitioned_write_and_read_via_derby(spark, sf_dir, tmp_path):
    """S4 at scale (VERDICT r4 item 7): the parallel JDBC paths.

    Write side: one transaction PER DATAFRAME PARTITION — a 4-partition
    source writes through 4 concurrent connections (the reference is
    single-connection sequential, my_data_pipeline.py:135,173-175); the
    ``numPartitions`` writer option caps the fan-in for databases with
    connection limits.  Read side: partitionColumn/lowerBound/upperBound/
    numPartitions splits the table scan into parallel range queries —
    the only way a 100 TB JDBC ingest isn't a single-cursor bottleneck.
    Also pins the createTableColumnTypes DDL mapping (the reference's
    dtype→SQL map, my_data_pipeline.py:101-106, with VARCHAR widened
    50→256) against Derby's own catalog."""
    from data_engineer_coder_spark.sinks import jdbc_column_types, write_jdbc

    db = str(tmp_path / "db")
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    # DDL map sanity before it hits the database
    ddl = jdbc_column_types(src)
    assert "c_custkey BIGINT" in ddl
    assert "c_name VARCHAR(256)" in ddl  # reference's VARCHAR(50) widened
    assert "c_nationkey INTEGER" in ddl
    assert "c_acctbal DOUBLE" in ddl  # Spark DDL type, not ANSI "DOUBLE PRECISION"

    # parallel write: 4 source partitions, capped to 2 concurrent
    # connections by the writer option
    write_jdbc(
        src.repartition(4, F.col("c_custkey")),
        url,
        "customer_sink",
        mode="overwrite",
        properties={**props, "numPartitions": "2"},
    )

    lo = src.agg(F.min("c_custkey")).collect()[0][0]
    hi = src.agg(F.max("c_custkey")).collect()[0][0]
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "customer_sink")
        .option("partitionColumn", "c_custkey")
        .option("lowerBound", str(lo))
        .option("upperBound", str(hi + 1))
        .option("numPartitions", "4")
        .options(**props)
        .load()
    )
    # the bounded read really is split into parallel range scans
    assert back.rdd.getNumPartitions() == 4
    got = sorted(map(tuple, back.collect()))
    want = sorted(map(tuple, src.collect()))
    assert got == want

    # the DDL the writer issued is what Derby actually created
    cols = (
        spark.read.format("jdbc")
        .option("url", url)
        .option(
            "query",
            # Derby folds the unquoted table name up but Spark's writer
            # quotes COLUMN identifiers, so those stay lowercase
            "SELECT c.columnname, CAST(c.columndatatype AS VARCHAR(64)) AS dt "
            "FROM sys.syscolumns c JOIN sys.systables t ON c.referenceid = t.tableid "
            "WHERE t.tablename = 'CUSTOMER_SINK'",
        )
        .options(**props)
        .load()
        .collect()
    )
    types = {r[0]: r[1] for r in cols}
    assert types["c_custkey"].startswith("BIGINT")
    assert types["c_name"].startswith("VARCHAR(256)")
    assert types["c_nationkey"].startswith("INTEGER")
    assert types["c_acctbal"].startswith("DOUBLE")


def test_file_transport_writes_report(tmp_path):
    """S6 end-to-end with the dev-default transport: render → send →
    file lands with recipient header and body."""
    from data_engineer_coder_spark.sinks import file_transport, render_report, send_report

    body = render_report("Daily summary", {"events": [(1, "click"), (2, "purchase")]})
    send_report(body, "data-team@example.com", transport=file_transport(str(tmp_path)))
    out = tmp_path / "data-team@example.com.txt"
    assert out.exists()
    text = out.read_text()
    assert text.startswith("To: data-team@example.com\n\n")
    assert "Daily summary" in text and "purchase" in text


# ---------------------------------------------------------------------------
# Localhost integration tests for the two injectable network seams
# (VERDICT r5 item 6).  Everything stays on 127.0.0.1 — no external network.
# ---------------------------------------------------------------------------


def test_fetch_urls_against_local_http_server(spark):
    """S1 e2e with the REAL http_fetcher: an in-process HTTP server
    returns 500 twice per path before succeeding, proving the
    executor-side (mapInPandas) retry/backoff actually retries and the
    final payload lands — not just the injected-fake path."""
    import json as _json
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from data_engineer_coder_spark.sources.rest import fetch_urls, http_fetcher

    hits = Counter()
    lock = threading.Lock()

    class Flaky(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — stdlib handler contract
            with lock:
                hits[self.path] += 1
                n = hits[self.path]
            if self.path.startswith("/flaky") and n <= 2:
                self.send_response(500)
                self.end_headers()
                self.wfile.write(b"transient")
            else:
                body = _json.dumps({"path": self.path, "attempt": n}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Flaky)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        urls = spark.createDataFrame(
            [(f"http://127.0.0.1:{port}/flaky/a",),
             (f"http://127.0.0.1:{port}/ok/b",)],
            "url string",
        )
        out = {
            r["url"].rsplit("/", 2)[-2]: r
            for r in fetch_urls(
                urls, fetcher=http_fetcher, max_retries=3, backoff_s=0.05, partitions=2
            ).collect()
        }
        assert out["flaky"]["status"] == 200
        assert out["flaky"]["n_attempts"] == 3  # two 500s, then success
        assert _json.loads(out["flaky"]["body"])["attempt"] == 3
        assert out["ok"]["status"] == 200
        assert out["ok"]["n_attempts"] == 1
    finally:
        srv.shutdown()
        srv.server_close()


def test_fetch_urls_exhausts_retries_on_persistent_500(spark):
    """A permanently-broken endpoint must come back as a 5xx row with
    every attempt consumed — not raise, not hang the job."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from data_engineer_coder_spark.sources.rest import fetch_urls, http_fetcher

    class Broken(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            self.send_response(503)
            self.end_headers()
            self.wfile.write(b"down")

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Broken)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        urls = spark.createDataFrame([(f"http://127.0.0.1:{port}/x",)], "url string")
        row = fetch_urls(
            urls, fetcher=http_fetcher, max_retries=2, backoff_s=0.01, partitions=1
        ).collect()[0]
        assert row["status"] == 503
        assert row["n_attempts"] == 3
    finally:
        srv.shutdown()
        srv.server_close()


class _MiniSMTP:
    """Just enough RFC-5321 to satisfy smtplib on 127.0.0.1: EHLO/HELO,
    MAIL, RCPT, DATA (dot-terminated), QUIT.  Captures each accepted
    message as (mail_from, rcpt_tos, data)."""

    def __init__(self):
        import socket
        import threading

        self.messages = []
        self._sock = socket.socket()
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(4)
        self.port = self._sock.getsockname()[1]
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def _serve(self):
        while True:
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            with conn:
                f = conn.makefile("rb")
                conn.sendall(b"220 mini ESMTP\r\n")
                mail_from, rcpts, quit_seen = None, [], False
                while not quit_seen:
                    line = f.readline()
                    if not line:
                        break
                    cmd = line.decode("utf-8", "replace").strip()
                    verb = cmd.split(":")[0].split(" ")[0].upper()
                    if verb in ("EHLO", "HELO"):
                        conn.sendall(b"250 mini\r\n")
                    elif verb == "MAIL":
                        mail_from = cmd.split(":", 1)[1].strip()
                        conn.sendall(b"250 OK\r\n")
                    elif verb == "RCPT":
                        rcpts.append(cmd.split(":", 1)[1].strip())
                        conn.sendall(b"250 OK\r\n")
                    elif verb == "DATA":
                        conn.sendall(b"354 end with <CRLF>.<CRLF>\r\n")
                        data = []
                        while True:
                            dline = f.readline()
                            if dline in (b".\r\n", b".\n", b""):
                                break
                            data.append(dline.decode("utf-8", "replace"))
                        self.messages.append((mail_from, list(rcpts), "".join(data)))
                        conn.sendall(b"250 accepted\r\n")
                    elif verb == "QUIT":
                        conn.sendall(b"221 bye\r\n")
                        quit_seen = True
                    else:
                        conn.sendall(b"250 OK\r\n")

    def close(self):
        self._sock.close()


def test_send_report_via_local_smtp():
    """S6 e2e over a REAL smtplib conversation against an in-process
    SMTP server — the production transport path, no relay required."""
    from data_engineer_coder_spark.sinks import render_report, send_report, smtp_transport

    srv = _MiniSMTP()
    try:
        body = render_report("Nightly load", {"orders": [(1, "F"), (2, "O")]})
        send_report(
            body,
            "ops@example.test",
            transport=smtp_transport("127.0.0.1", srv.port, sender="etl@example.test"),
        )
        assert len(srv.messages) == 1
        mail_from, rcpts, data = srv.messages[0]
        assert "etl@example.test" in mail_from
        assert any("ops@example.test" in r for r in rcpts)
        assert "Subject: Nightly load" in data
        assert "orders" in data
    finally:
        srv.close()


# --------------------------------------------------------------------------
# ACID-ish table (round 7): exactly-once overwrite-by-partition on
# parquet — staging dir + atomic manifest commit.  Replaces the
# reference's CREATE TABLE IF NOT EXISTS + blind append
# (my_data_pipeline.py:106-115), whose daily rerun duplicates every row.
# --------------------------------------------------------------------------


def _acid_rows(spark, day: str, vals):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(day=day, k=i, v=x) for i, x in enumerate(vals)]
    )


def test_acid_replace_partitions_no_partial_visibility(spark, tmp_path):
    """A writer that crashes AFTER staging but BEFORE the manifest
    commit must leave the table exactly as it was — no partial state."""
    import pytest

    from data_engineer_coder_spark.io.acid_table import (
        current_manifest,
        read_table,
        replace_partitions,
    )

    root = str(tmp_path / "t")
    replace_partitions(_acid_rows(spark, "2024-01-01", [1.0, 2.0]), root, ["day"], "tx1")
    before = read_table(spark, root).toPandas().sort_values("k")
    assert before["v"].tolist() == [1.0, 2.0]
    v_before = current_manifest(root)["version"]

    def boom():
        raise RuntimeError("writer died between staging and commit")

    with pytest.raises(RuntimeError, match="writer died"):
        replace_partitions(
            _acid_rows(spark, "2024-01-01", [9.0, 9.0, 9.0]),
            root,
            ["day"],
            "tx2",
            _crash_before_commit=boom,
        )
    # reader still sees the old version, not the half-written one
    after = read_table(spark, root).toPandas().sort_values("k")
    assert after["v"].tolist() == [1.0, 2.0]
    assert current_manifest(root)["version"] == v_before
    # the retry of the SAME txid completes and becomes visible atomically
    replace_partitions(_acid_rows(spark, "2024-01-01", [9.0, 9.0, 9.0]), root, ["day"], "tx2")
    final = read_table(spark, root).toPandas()
    assert final["v"].tolist() == [9.0, 9.0, 9.0]


def test_acid_rerun_same_txid_is_exactly_once(spark, tmp_path):
    """The reference's daily-rerun duplication bug, killed at the sink:
    re-running a committed logical write is a no-op."""
    from data_engineer_coder_spark.io.acid_table import (
        current_manifest,
        read_table,
        replace_partitions,
    )

    root = str(tmp_path / "t")
    df = _acid_rows(spark, "2024-01-01", [1.0, 2.0, 3.0])
    replace_partitions(df, root, ["day"], "daily-2024-01-01")
    v1 = current_manifest(root)["version"]
    replace_partitions(df, root, ["day"], "daily-2024-01-01")  # scheduler retry
    assert current_manifest(root)["version"] == v1
    assert read_table(spark, root).count() == 3  # not 6


def test_acid_replace_leaves_other_partitions_intact(spark, tmp_path):
    from data_engineer_coder_spark.io.acid_table import read_table, replace_partitions

    root = str(tmp_path / "t")
    replace_partitions(_acid_rows(spark, "2024-01-01", [1.0]), root, ["day"], "tx1")
    replace_partitions(_acid_rows(spark, "2024-01-02", [2.0]), root, ["day"], "tx2")
    replace_partitions(_acid_rows(spark, "2024-01-02", [5.0, 6.0]), root, ["day"], "tx3")
    got = read_table(spark, root).toPandas()
    assert sorted(got[got.day == "2024-01-01"]["v"]) == [1.0]
    assert sorted(got[got.day == "2024-01-02"]["v"]) == [5.0, 6.0]


def test_acid_manifest_prune_and_vacuum(spark, tmp_path):
    """partition_filter prunes at the manifest (rejected dirs never
    listed); vacuum removes superseded + orphaned staging dirs while
    live data survives."""
    import os

    from data_engineer_coder_spark.io.acid_table import (
        read_table,
        replace_partitions,
        vacuum,
    )

    root = str(tmp_path / "t")
    replace_partitions(_acid_rows(spark, "2024-01-01", [1.0]), root, ["day"], "tx1")
    replace_partitions(_acid_rows(spark, "2024-01-02", [2.0]), root, ["day"], "tx2")
    replace_partitions(_acid_rows(spark, "2024-01-01", [7.0]), root, ["day"], "tx3")
    only_d1 = read_table(spark, root, partition_filter=lambda kv: kv["day"] == "2024-01-01")
    assert only_d1.toPandas()["v"].tolist() == [7.0]
    removed = vacuum(root)
    # tx1's data was fully superseded by tx3 → removable; tx2/tx3 live
    assert "_staging/tx1" in removed
    assert not os.path.isdir(os.path.join(root, "_staging", "tx1"))
    got = read_table(spark, root).toPandas()
    assert sorted(got["v"].tolist()) == [2.0, 7.0]


def test_acid_commit_version_race_rebases(tmp_path):
    """Two writers racing for the same manifest version must BOTH land:
    os.link fails with EEXIST and the loser re-reads the winner's
    manifest and re-merges its own delta on top — no lost update."""
    from data_engineer_coder_spark.io.acid_table import (
        _commit,
        _empty_manifest,
        current_manifest,
    )

    root = str(tmp_path / "t")
    stale = _empty_manifest()  # both writers snapshot the empty table
    _commit(root, stale, {"day=1": ["_staging/a/day=1"]}, "a", "replace", ["day"], "{}")
    # writer B commits from the SAME stale snapshot → version collision
    _commit(root, stale, {"day=2": ["_staging/b/day=2"]}, "b", "append", ["day"], "{}")
    man = current_manifest(root)
    assert man["version"] == 2
    assert man["txids"] == ["a", "b"]  # neither writer's commit was dropped
    assert man["partitions"] == {
        "day=1": ["_staging/a/day=1"],
        "day=2": ["_staging/b/day=2"],
    }


def test_acid_append_accumulates_epochs(spark, tmp_path):
    """append_partitions must ADD each txid's rows to a partition that
    earlier txids also wrote — the multi-epoch streaming-append shape
    that replace semantics would silently truncate."""
    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        current_manifest,
        read_table,
    )

    root = str(tmp_path / "t")
    append_partitions(_acid_rows(spark, "2024-01-01", [1.0, 2.0]), root, ["day"], "e0")
    append_partitions(_acid_rows(spark, "2024-01-01", [3.0]), root, ["day"], "e1")
    got = read_table(spark, root).toPandas()
    assert sorted(got["v"].tolist()) == [1.0, 2.0, 3.0]  # e0 rows survived e1
    # txid replay is still a no-op
    v = current_manifest(root)["version"]
    append_partitions(_acid_rows(spark, "2024-01-01", [3.0]), root, ["day"], "e1")
    assert current_manifest(root)["version"] == v
    assert read_table(spark, root).count() == 3


def test_acid_time_travel_and_schema_evolution(spark, tmp_path):
    """Version-pinned reads see the table as of that commit; a later
    write may add a column and old versions surface it as null."""
    from pyspark.sql import Row

    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        read_table,
        replace_partitions,
        table_history,
    )

    root = str(tmp_path / "t")
    replace_partitions(_acid_rows(spark, "2024-01-01", [1.0]), root, ["day"], "t1")
    append_partitions(_acid_rows(spark, "2024-01-01", [2.0]), root, ["day"], "t2")
    evolved = spark.createDataFrame(
        [Row(day="2024-01-02", k=0, v=9.0, src="api")]
    )
    append_partitions(evolved, root, ["day"], "t3")

    assert read_table(spark, root, version=1).count() == 1
    assert sorted(read_table(spark, root, version=2).toPandas()["v"]) == [1.0, 2.0]
    cur = read_table(spark, root).toPandas()
    assert len(cur) == 3
    assert "src" in cur.columns  # evolved column, null for old rows
    assert cur[cur["day"] == "2024-01-01"]["src"].isna().all()

    hist = table_history(spark, root).toPandas().sort_values("version")
    assert hist["version"].tolist() == [1, 2, 3]
    assert hist["txid"].tolist() == ["t1", "t2", "t3"]
    assert hist["n_dirs"].tolist() == [1, 2, 3]
    assert hist["n_cols"].tolist() == [2, 2, 3]  # (k,v) then (k,v,src)


def test_acid_zone_map_skipping_is_lossless_and_actually_skips(spark, tmp_path):
    """Footer-stats skipping must (a) drop at least one file that a
    range predicate provably can't match and (b) lose no matching rows
    versus the unskipped read — conservative in exactly one direction."""
    from pyspark.sql import Row

    from data_engineer_coder_spark.io.acid_table import (
        files_selected,
        read_table,
        replace_partitions,
    )

    root = str(tmp_path / "t")
    rows = [Row(day="2024-01-01", b=i // 10, k=i, v=float(i)) for i in range(40)]
    df = spark.createDataFrame(rows)
    replace_partitions(df, root, ["day", "b"], "t1")  # k ∈ [10b, 10b+9] per dir

    def k_under_15(stats):
        lo, hi = stats.get("k", (None, None))
        return lo is None or lo <= 15

    sel = files_selected(root, stats_filter=k_under_15)
    kept = [k for files in sel.values() for _, k in files]
    assert not all(kept), "no file was skipped — zone maps did nothing"

    got = (
        read_table(spark, root, stats_filter=k_under_15)
        .filter(F.col("k") <= 15)
        .toPandas()
    )
    assert sorted(got["k"].tolist()) == list(range(16))  # lossless

    # a file with NO recorded stats (legacy manifest) must always be
    # read, even under a filter that rejects everything — strip one
    # file's stats from the manifest on disk and re-check
    import json

    from data_engineer_coder_spark.io.acid_table import (
        _MANIFEST_DIR,
        current_manifest,
    )

    man = current_manifest(root)
    some_rel = next(iter(man["dir_files"]))
    man["dir_files"][some_rel][0]["stats"] = {}
    mpath = os.path.join(
        root, _MANIFEST_DIR, f"v{man['version']:06d}.json"
    )
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    sel2 = files_selected(root, stats_filter=lambda s: False)
    assert sel2[some_rel][0][1] is True  # statless file: must-read
    # every file that still has stats is skipped by the reject-all filter
    others = [k for rel, files in sel2.items() for i, (_, k) in enumerate(files)
              if not (rel == some_rel and i == 0)]
    assert others and not any(others)


def test_acid_compaction_same_rows_fewer_dirs(spark, tmp_path):
    """Three append epochs → 3 staging dirs; compaction → 1 dir with
    identical rows; the pre-compaction version stays time-travelable;
    txid replay is a no-op; vacuum then removes the 3 old dirs."""
    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        compact_partitions,
        current_manifest,
        read_table,
        vacuum,
    )

    root = str(tmp_path / "t")
    for e, vals in enumerate(([1.0, 2.0], [3.0], [4.0, 5.0])):
        append_partitions(_acid_rows(spark, "2024-01-01", vals), root, ["day"], f"e{e}")
    man = current_manifest(root)
    assert len(man["partitions"]["day=2024-01-01"]) == 3

    compact_partitions(spark, root, "c1")
    man2 = current_manifest(root)
    assert len(man2["partitions"]["day=2024-01-01"]) == 1
    assert sorted(read_table(spark, root).toPandas()["v"]) == [1.0, 2.0, 3.0, 4.0, 5.0]
    # pre-compaction version still readable (dirs not vacuumed yet)
    assert sorted(read_table(spark, root, version=3).toPandas()["v"]) == [
        1.0, 2.0, 3.0, 4.0, 5.0,
    ]
    # replaying the compaction txid is a no-op
    compact_partitions(spark, root, "c1")
    assert current_manifest(root)["version"] == man2["version"]
    # compacted files carry footer stats for future skipping
    rel = man2["partitions"]["day=2024-01-01"][0]
    assert man2["dir_files"][rel], "compacted dir has no file stats"
    assert all(f["stats"].get("k") for f in man2["dir_files"][rel])
    # vacuum drops the three superseded epoch dirs
    removed = vacuum(root)
    assert len(removed) == 3
    assert sorted(read_table(spark, root).toPandas()["v"]) == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_acid_compaction_crash_and_conflict(spark, tmp_path):
    """A compactor that dies before commit leaves the table untouched;
    a partition changed between snapshot and commit aborts the
    compaction instead of silently dropping the racing writer's rows."""
    import pytest

    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        compact_partitions,
        current_manifest,
        read_table,
    )

    root = str(tmp_path / "t")
    append_partitions(_acid_rows(spark, "2024-01-01", [1.0]), root, ["day"], "e0")
    append_partitions(_acid_rows(spark, "2024-01-01", [2.0]), root, ["day"], "e1")
    v = current_manifest(root)["version"]

    def boom():
        raise RuntimeError("compactor died")

    with pytest.raises(RuntimeError, match="compactor died"):
        compact_partitions(spark, root, "c1", _crash_before_commit=boom)
    assert current_manifest(root)["version"] == v  # nothing committed

    # simulate a racing append landing between snapshot and commit
    def racing_append():
        append_partitions(_acid_rows(spark, "2024-01-01", [9.0]), root, ["day"], "e2")

    with pytest.raises(RuntimeError, match="conflict"):
        compact_partitions(spark, root, "c2", _crash_before_commit=racing_append)
    # the racing writer's rows are intact and visible
    assert sorted(read_table(spark, root).toPandas()["v"]) == [1.0, 2.0, 9.0]
    # a rerun against the settled state succeeds and keeps all rows
    compact_partitions(spark, root, "c3")
    assert sorted(read_table(spark, root).toPandas()["v"]) == [1.0, 2.0, 9.0]
    assert len(current_manifest(root)["partitions"]["day=2024-01-01"]) == 1


def test_acid_compaction_merges_evolved_schemas(spark, tmp_path):
    """Compacting dirs written before and after an add-column evolution
    must union by name with null fill — the compacted files carry the
    widest schema."""
    from pyspark.sql import Row

    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        compact_partitions,
        current_manifest,
        read_table,
    )

    root = str(tmp_path / "t")
    append_partitions(_acid_rows(spark, "2024-01-01", [1.0]), root, ["day"], "t1")
    evolved = spark.createDataFrame([Row(day="2024-01-01", k=0, v=2.0, src="api")])
    append_partitions(evolved, root, ["day"], "t2")
    compact_partitions(spark, root, "c1")
    assert len(current_manifest(root)["partitions"]["day=2024-01-01"]) == 1
    got = read_table(spark, root).toPandas().sort_values("v")
    assert got["v"].tolist() == [1.0, 2.0]
    assert got["src"].tolist()[0] is None or got["src"].isna().iloc[0]
    assert got["src"].tolist()[1] == "api"


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order vs single-column sort, measured on the actual parquet
    footers: under an x-only sort the per-file y-range spans ~the whole
    domain (zero skip power on y); under Z-order every file covers a
    small rectangle, so BOTH columns' per-file spans shrink — the
    multi-dimension file-skipping property.  Also checks the Morton
    value round-trips next to a python reference."""
    import glob

    import pyarrow.parquet as apq

    from data_engineer_coder_spark.sinks import (
        write_clustered_parquet,
        write_zordered_parquet,
        zorder_value,
    )

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("x"), F.col("l_partkey").alias("y")
    )
    n_files = 16
    base = str(tmp_path)
    write_clustered_parquet(li, f"{base}/xsort", ["x"], num_files=n_files)
    write_zordered_parquet(li, f"{base}/zord", "x", "y", num_files=n_files)

    def mean_span(root, col):
        spans = []
        for f in glob.glob(f"{root}/*.parquet"):
            md = apq.ParquetFile(f).metadata
            mins, maxs = [], []
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    if c.path_in_schema == col and c.statistics is not None:
                        mins.append(c.statistics.min)
                        maxs.append(c.statistics.max)
            if mins:
                spans.append(max(maxs) - min(mins))
        return sum(spans) / len(spans)

    domain_y = mean_span(f"{base}/xsort", "y")  # ≈ full domain per file
    z_y = mean_span(f"{base}/zord", "y")
    z_x = mean_span(f"{base}/zord", "x")
    x_x = mean_span(f"{base}/xsort", "x")
    # z-order shrinks y spans by at least 2x vs the x-sorted layout...
    assert z_y < domain_y / 2, (z_y, domain_y)
    # ...while keeping x spans within 8x of the dedicated x sort
    assert z_x < 8 * max(x_x, 1), (z_x, x_x)

    # Morton reference check on a few values
    rows = (
        spark.range(0, 4)
        .select(
            F.col("id").alias("x"),
            (F.col("id") * 2 + 1).alias("y"),
            zorder_value(F.col("id"), F.col("id") * 2 + 1).alias("z"),
        )
        .collect()
    )

    def morton(x, y, bits=21):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    for r in rows:
        assert r["z"] == morton(r["x"], r["y"])


# ---------------------------------------------------------------------------
# merge_into (ACID MERGE/upsert) — round 8 late
# ---------------------------------------------------------------------------


def _merge_fixture(spark, tmp_path):
    import os

    from data_engineer_coder_spark.io.acid_table import replace_partitions

    root = os.path.join(str(tmp_path), "t")
    base = spark.createDataFrame(
        [(1, "en", 10), (2, "en", 20), (3, "fr", 30)],
        "doc_id int, lang string, val int",
    )
    replace_partitions(base, root, ["lang"], "t1")
    return root


def test_merge_into_updates_and_inserts(spark, tmp_path):
    from data_engineer_coder_spark.io.acid_table import merge_into, read_table

    root = _merge_fixture(spark, tmp_path)
    upd = spark.createDataFrame(
        [(2, "en", 99), (4, "en", 40)], "doc_id int, lang string, val int"
    )
    merge_into(spark, upd, root, ["lang"], ["lang", "doc_id"], "m1")
    got = {
        (r["doc_id"], r["lang"]): r["val"]
        for r in read_table(spark, root).collect()
    }
    assert got == {(1, "en"): 10, (2, "en"): 99, (3, "fr"): 30, (4, "en"): 40}


def test_merge_into_replay_is_noop(spark, tmp_path):
    from data_engineer_coder_spark.io.acid_table import (
        current_manifest,
        merge_into,
        read_table,
    )

    root = _merge_fixture(spark, tmp_path)
    upd = spark.createDataFrame([(2, "en", 99)], "doc_id int, lang string, val int")
    merge_into(spark, upd, root, ["lang"], ["lang", "doc_id"], "m1")
    v = current_manifest(root)["version"]
    merge_into(spark, upd, root, ["lang"], ["lang", "doc_id"], "m1")  # replay
    assert current_manifest(root)["version"] == v
    assert read_table(spark, root).count() == 3


def test_merge_into_rejects_cross_partition_keys(spark, tmp_path):
    import pytest

    from data_engineer_coder_spark.io.acid_table import merge_into

    root = _merge_fixture(spark, tmp_path)
    upd = spark.createDataFrame([(2, "en", 99)], "doc_id int, lang string, val int")
    with pytest.raises(ValueError, match="partition-local"):
        merge_into(spark, upd, root, ["lang"], ["doc_id"], "m1")


def test_merge_into_leaves_untouched_partition_dirs_alone(spark, tmp_path):
    """fr is not in the updates batch: its directory set must be
    byte-identical across the merge (touched-partition-only rewrite)."""
    from data_engineer_coder_spark.io.acid_table import (
        current_manifest,
        merge_into,
    )

    root = _merge_fixture(spark, tmp_path)
    before = current_manifest(root)["partitions"]["lang=fr"]
    upd = spark.createDataFrame([(2, "en", 99)], "doc_id int, lang string, val int")
    merge_into(spark, upd, root, ["lang"], ["lang", "doc_id"], "m1")
    assert current_manifest(root)["partitions"]["lang=fr"] == before


def test_delete_rows_erases_and_time_travels(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from data_engineer_coder_spark.io.acid_table import (
        current_manifest,
        delete_rows,
        read_table,
        replace_partitions,
    )

    root = os.path.join(str(tmp_path), "t")
    base = spark.createDataFrame(
        [(1, "en", "web"), (2, "en", "book"), (3, "fr", "web")],
        "doc_id int, lang string, source string",
    )
    replace_partitions(base, root, ["lang"], "t1")
    delete_rows(
        spark, root, partition_cols=["lang"],
        condition=F.col("source") == "web", txid="d1",
    )
    assert {r["doc_id"] for r in read_table(spark, root).collect()} == {2}
    # history immutable: version 1 still shows all three rows
    assert read_table(spark, root, version=1).count() == 3
    # replay no-op
    v = current_manifest(root)["version"]
    delete_rows(
        spark, root, partition_cols=["lang"],
        condition=F.col("source") == "web", txid="d1",
    )
    assert current_manifest(root)["version"] == v


# ---------------------------------------------------------------------------
# ACID MERGE/DELETE hardening — round 9 (ADVICE r8)
# ---------------------------------------------------------------------------


def test_delete_rows_null_predicate_keeps_unmatched(spark, tmp_path):
    """SQL DELETE removes only condition=TRUE rows: a NULL in the
    predicate column means NOT matched — the row must survive.  (The r8
    implementation's bare ``~condition`` silently deleted it.)"""
    import os

    from pyspark.sql import functions as F

    from data_engineer_coder_spark.io.acid_table import (
        delete_rows,
        read_table,
        replace_partitions,
    )

    root = os.path.join(str(tmp_path), "t")
    base = spark.createDataFrame(
        [(1, "en", "web"), (2, "en", None), (3, "en", "book")],
        "doc_id int, lang string, source string",
    )
    replace_partitions(base, root, ["lang"], "t1")
    delete_rows(
        spark, root, partition_cols=["lang"],
        condition=F.col("source") == "web", txid="d1",
    )
    assert {r["doc_id"] for r in read_table(spark, root).collect()} == {2, 3}


def test_merge_into_rejects_duplicate_source_keys(spark, tmp_path):
    """Delta parity: two source rows targeting the same key is an error,
    not a silent duplicate-key insert."""
    import pytest

    from data_engineer_coder_spark.io.acid_table import merge_into

    root = _merge_fixture(spark, tmp_path)
    upd = spark.createDataFrame(
        [(2, "en", 99), (2, "en", 100)], "doc_id int, lang string, val int"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        merge_into(spark, upd, root, ["lang"], ["lang", "doc_id"], "m1")


def test_merge_into_aborts_on_racing_append(spark, tmp_path):
    """An append landing on a touched partition between the merge's
    snapshot and its commit must abort the merge (lost-update guard),
    leaving the racing writer's rows visible; a rerun then succeeds."""
    import pytest

    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        merge_into,
        read_table,
    )

    root = _merge_fixture(spark, tmp_path)
    upd = spark.createDataFrame([(2, "en", 99)], "doc_id int, lang string, val int")

    def racing_append():
        extra = spark.createDataFrame(
            [(7, "en", 70)], "doc_id int, lang string, val int"
        )
        append_partitions(extra, root, ["lang"], "race1")

    with pytest.raises(RuntimeError, match="conflict"):
        merge_into(
            spark, upd, root, ["lang"], ["lang", "doc_id"], "m1",
            _crash_before_commit=racing_append,
        )
    got = {r["doc_id"] for r in read_table(spark, root).collect()}
    assert 7 in got and got == {1, 2, 3, 7}  # racing writer intact, merge absent
    merge_into(spark, upd, root, ["lang"], ["lang", "doc_id"], "m2")
    vals = {
        (r["doc_id"]): r["val"] for r in read_table(spark, root).collect()
    }
    assert vals == {1: 10, 2: 99, 3: 30, 7: 70}


def test_delete_rows_aborts_on_racing_append(spark, tmp_path):
    """Same guard for DELETE: a racing append on a selected partition
    aborts instead of being silently erased by the rewrite."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        delete_rows,
        read_table,
        replace_partitions,
    )

    root = os.path.join(str(tmp_path), "t")
    base = spark.createDataFrame(
        [(1, "en", "web"), (2, "en", "book")],
        "doc_id int, lang string, source string",
    )
    replace_partitions(base, root, ["lang"], "t1")

    def racing_append():
        extra = spark.createDataFrame(
            [(9, "en", "book")], "doc_id int, lang string, source string"
        )
        append_partitions(extra, root, ["lang"], "race1")

    with pytest.raises(RuntimeError, match="conflict"):
        delete_rows(
            spark, root, partition_cols=["lang"],
            condition=F.col("source") == "web", txid="d1",
            _crash_before_commit=racing_append,
        )
    assert {r["doc_id"] for r in read_table(spark, root).collect()} == {1, 2, 9}
    delete_rows(
        spark, root, partition_cols=["lang"],
        condition=F.col("source") == "web", txid="d2",
    )
    assert {r["doc_id"] for r in read_table(spark, root).collect()} == {2, 9}


def test_manifest_prunes_dead_dir_stats(spark, tmp_path):
    """dir_files must not grow monotonically: a replace that supersedes a
    directory drops its stats from the NEW manifest (old manifests keep
    theirs — time travel unaffected)."""
    import os

    from data_engineer_coder_spark.io.acid_table import (
        current_manifest,
        manifest_at,
        replace_partitions,
    )

    root = os.path.join(str(tmp_path), "t")
    df1 = spark.createDataFrame([(1, "en")], "doc_id int, lang string")
    replace_partitions(df1, root, ["lang"], "t1")
    rel1 = current_manifest(root)["partitions"]["lang=en"][0]
    df2 = spark.createDataFrame([(2, "en")], "doc_id int, lang string")
    replace_partitions(df2, root, ["lang"], "t2")
    man2 = current_manifest(root)
    live = {rel for dirs in man2["partitions"].values() for rel in dirs}
    assert set(man2["dir_files"]) == live  # dead t1 dir pruned
    assert rel1 not in man2["dir_files"]
    assert rel1 in manifest_at(root, 1)["dir_files"]  # history intact


def test_merge_into_partition_move(spark, tmp_path):
    """allow_partition_move: an update that changes a row's partition
    value lands in the new partition with NO stranded copy in the old
    one, an emptied partition is dropped, and history time-travels."""
    import os

    from data_engineer_coder_spark.io.acid_table import (
        current_manifest,
        merge_into,
        read_table,
        replace_partitions,
    )

    root = os.path.join(str(tmp_path), "t")
    base = spark.createDataFrame(
        [(1, "en", 10), (2, "fr", 20), (3, "de", 30)],
        "doc_id int, lang string, val int",
    )
    replace_partitions(base, root, ["lang"], "t1")
    # doc 3's lang label is corrected de→en; doc 4 is a plain insert
    upd = spark.createDataFrame(
        [(3, "en", 31), (4, "fr", 40)], "doc_id int, lang string, val int"
    )
    merge_into(
        spark, upd, root, ["lang"], ["doc_id"], "m1",
        allow_partition_move=True,
    )
    got = {
        r["doc_id"]: (r["lang"], r["val"])
        for r in read_table(spark, root).collect()
    }
    assert got == {1: ("en", 10), 2: ("fr", 20), 3: ("en", 31), 4: ("fr", 40)}
    man = current_manifest(root)
    assert "lang=de" not in man["partitions"]  # emptied by the move
    # pre-move version still shows doc 3 in de
    old = {
        r["doc_id"]: r["lang"]
        for r in read_table(spark, root, version=1).collect()
    }
    assert old[3] == "de"
    # replay no-op
    v = man["version"]
    merge_into(
        spark, upd, root, ["lang"], ["doc_id"], "m1",
        allow_partition_move=True,
    )
    assert current_manifest(root)["version"] == v


def test_merge_into_partition_move_requires_flag(spark, tmp_path):
    import pytest

    from data_engineer_coder_spark.io.acid_table import merge_into

    root = _merge_fixture(spark, tmp_path)
    upd = spark.createDataFrame([(2, "fr", 99)], "doc_id int, lang string, val int")
    with pytest.raises(ValueError, match="partition-local"):
        merge_into(spark, upd, root, ["lang"], ["doc_id"], "m1")


def test_merge_into_partition_move_aborts_on_race(spark, tmp_path):
    """A racing append on the SOURCE partition of a moving row aborts
    the move; the racing rows survive and a rerun succeeds."""
    import pytest

    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        merge_into,
        read_table,
    )

    root = _merge_fixture(spark, tmp_path)  # 1:en 2:en 3:fr
    upd = spark.createDataFrame([(3, "en", 31)], "doc_id int, lang string, val int")

    def racing_append():
        extra = spark.createDataFrame(
            [(8, "fr", 80)], "doc_id int, lang string, val int"
        )
        append_partitions(extra, root, ["lang"], "race1")

    with pytest.raises(RuntimeError, match="conflict"):
        merge_into(
            spark, upd, root, ["lang"], ["doc_id"], "m1",
            allow_partition_move=True, _crash_before_commit=racing_append,
        )
    got = {r["doc_id"]: r["lang"] for r in read_table(spark, root).collect()}
    assert got == {1: "en", 2: "en", 3: "fr", 8: "fr"}
    merge_into(
        spark, upd, root, ["lang"], ["doc_id"], "m2",
        allow_partition_move=True,
    )
    got = {r["doc_id"]: (r["lang"], r["val"]) for r in read_table(spark, root).collect()}
    assert got == {1: ("en", 10), 2: ("en", 20), 3: ("en", 31), 8: ("fr", 80)}


def test_version_before_txid_replay_anchor(spark, tmp_path):
    """The crash-replay anchor: a transaction re-reading the table "as of
    before itself" gets the last version WITHOUT its txid — the live head
    on the normal path, the pre-epoch snapshot on a replay, and the
    empty state when it was the first committer."""
    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        current_manifest,
        version_before_txid,
    )

    root = str(tmp_path / "t")
    # never-committed txid on an empty table → empty state
    assert version_before_txid(root, "epoch-0") == 0
    append_partitions(_acid_rows(spark, "2024-01-01", [1.0]), root, ["day"], "epoch-0")
    append_partitions(_acid_rows(spark, "2024-01-02", [2.0]), root, ["day"], "epoch-1")
    assert current_manifest(root)["version"] == 2
    # normal path: txid not committed yet → live head
    assert version_before_txid(root, "epoch-2") == 2
    # replay path: the epoch's own commit is excluded
    assert version_before_txid(root, "epoch-1") == 1
    # first committer replayed → the empty state
    assert version_before_txid(root, "epoch-0") == 0


def test_replace_partitions_drop_parts_migrated_partition(spark, tmp_path):
    """A replaced partition whose rows ALL migrated elsewhere (named in
    drop_parts, absent from the staged write) is dropped; drop_parts
    keys the staged write repopulates are kept."""
    from data_engineer_coder_spark.io.acid_table import (
        current_manifest,
        read_table,
        replace_partitions,
    )

    root = str(tmp_path / "t")
    replace_partitions(
        _acid_rows(spark, "2024-01-01", [1.0]).unionByName(
            _acid_rows(spark, "2024-01-02", [2.0])
        ),
        root, ["day"], "t1",
    )
    # rewrite: day-01's row "moves" to day-02; day-01 ends up empty
    moved = _acid_rows(spark, "2024-01-02", [1.0, 2.0])
    replace_partitions(
        moved, root, ["day"], "t2",
        drop_parts=["day=2024-01-01", "day=2024-01-02"],
    )
    man = current_manifest(root)
    assert sorted(man["partitions"]) == ["day=2024-01-02"]
    assert sorted(read_table(spark, root).toPandas()["v"]) == [1.0, 2.0]


def test_compact_sort_by_keeps_footer_ranges_tight(spark, tmp_path):
    """Sort-on-compact: after collapsing two overlapping-range epoch
    files with sort_by, the compacted file's footer min/max stay exact
    row values and stats pruning still skips non-colliding reads — the
    property the ingest gate's band-pruned probe depends on."""
    from pyspark.sql import Row

    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        compact_partitions,
        files_selected,
        read_table,
    )

    root = str(tmp_path / "t")
    # two epochs with interleaved key ranges in one partition
    e0 = spark.createDataFrame([Row(day="d", k=k, v=0.0) for k in (1, 5, 9)])
    e1 = spark.createDataFrame([Row(day="d", k=k, v=1.0) for k in (2, 6, 10)])
    append_partitions(e0, root, ["day"], "e0")
    append_partitions(e1, root, ["day"], "e1")
    compact_partitions(spark, root, "c1", sort_by=["k"])

    def rng(lo, hi):
        def flt(stats):
            s = stats.get("k", (None, None))
            if s[0] is None:
                return True
            return s[1] >= lo and s[0] <= hi

        return flt

    sel = files_selected(root, stats_filter=rng(11, 99))
    # compacted to one dir; the out-of-range probe reads NOTHING
    assert all(not keep for files in sel.values() for _, keep in files)
    sel = files_selected(root, stats_filter=rng(10, 10))
    assert any(keep for files in sel.values() for _, keep in files)
    got = read_table(spark, root, stats_filter=rng(1, 2)).count()
    assert got == 6  # range-sorted single file: stats select it, all rows read


def test_gate_maintenance_compaction_race_aborts(spark, tmp_path):
    """The gate's scheduled index maintenance (sort_by compaction under a
    maintenance txid) racing an epoch append aborts with a conflict and
    leaves the epoch's rows intact — then succeeds on re-run."""
    import pytest

    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        compact_partitions,
        read_table,
    )

    root = str(tmp_path / "t")
    append_partitions(_acid_rows(spark, "2024-01-01", [1.0]), root, ["day"], "epoch-0")
    append_partitions(_acid_rows(spark, "2024-01-01", [2.0]), root, ["day"], "epoch-1")

    def racing_epoch():
        append_partitions(
            _acid_rows(spark, "2024-01-01", [9.0]), root, ["day"], "epoch-2"
        )

    with pytest.raises(RuntimeError, match="conflict"):
        compact_partitions(
            spark, root, "maintenance-epoch-1-sigs", sort_by=["k"],
            _crash_before_commit=racing_epoch,
        )
    assert sorted(read_table(spark, root).toPandas()["v"]) == [1.0, 2.0, 9.0]
    compact_partitions(spark, root, "maintenance-epoch-1-sigs", sort_by=["k"])
    assert sorted(read_table(spark, root).toPandas()["v"]) == [1.0, 2.0, 9.0]
