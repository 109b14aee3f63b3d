"""Round 24: no scan infers its schema.

A ``spark.read.parquet`` without a schema runs a Spark job to read a
footer (every footer under ``mergeSchema``).  Fixture reads now reuse
the schema Spark inferred on the first read of the same file, and ACID
reads take the manifest's schema of record.  These tests pin that both
reads run no Spark job, that the ACID read still returns what footer
inference returned, that a conflicting column type fails its commit,
and that a rewritten fixture is inferred again.  The file-format
queries delete the scratch directories they write.
"""

from __future__ import annotations

import os
import re
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_engineer_coder_spark import registry
from data_engineer_coder_spark.io import acid_table as at
from data_engineer_coder_spark.io.tables import TABLES, table

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "data_engineer_coder_spark")


def _jobs_run(spark, fn):
    """(fn's result, Spark jobs it ran), from the status store."""
    sc = spark.sparkContext._jsc.sc()
    store, bus = sc.statusStore(), sc.listenerBus()

    def job_ids():
        bus.waitUntilEmpty()  # the status store is fed from the listener bus
        jobs = store.jobsList(None)
        return [int(jobs.apply(i).jobId()) for i in range(jobs.size())]

    last = max(job_ids(), default=-1)
    out = fn()
    return out, sum(i > last for i in job_ids())


def _inferred_read(spark, root, version=None):
    """The read with footer inference: every live dir, merging footers
    when more than one commit wrote them, plus the path partitions."""
    man = at.manifest_at(root, version)
    rels = [rel for val in sorted(man["partitions"].items()) for rel in at._dirs(val[1])]
    reader = spark.read
    if len({rel.split("/")[1] if "/" in rel else rel for rel in rels}) > 1:
        reader = reader.option("mergeSchema", "true")
    return at._with_path_partitions(
        reader.parquet(*[os.path.join(root, rel) for rel in rels]),
        man.get("partition_cols", []),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _assert_reads_like_inference(spark, root, version=None):
    df, jobs = _jobs_run(spark, lambda: at.read_table(spark, root, version=version))
    assert jobs == 0, (root, version, jobs)
    ref = _inferred_read(spark, root, version)
    assert df.schema == ref.schema, (df.schema, ref.schema)
    assert _rows(df) == _rows(ref)


def _evolved(spark, root, part=str):
    """Three commits: a base table, an added column, an added array
    column in a new partition."""
    at.append_partitions(
        spark.createDataFrame([(1, "a", part(0)), (2, "b", part(1))],
                              "id long, v string, b string"),
        root, ["b"], "t0",
    )
    at.append_partitions(
        spark.createDataFrame([(3, "c", 7, part(0))],
                              "id long, v string, extra int, b string"),
        root, ["b"], "t1",
    )
    at.append_partitions(
        spark.createDataFrame([(4, [1.5, None], part(2))],
                              "id long, arr array<double>, b string"),
        root, ["b"], "t2",
    )


def test_single_commit_read_runs_no_job(spark, tmp_path):
    root = str(tmp_path / "t")
    at.replace_partitions(
        spark.createDataFrame([(i, f"s{i}", i % 3) for i in range(9)],
                              "id long, s string, b int"),
        root, ["b"], "t0",
    )
    _assert_reads_like_inference(spark, root)


def test_evolved_reads_pin_each_version_record(spark, tmp_path):
    root = str(tmp_path / "t")
    _evolved(spark, root)
    for v in (1, 2, 3):
        _assert_reads_like_inference(spark, root, v)
    names = at._record_schema(at.current_manifest(root)).fieldNames()
    assert names == ["id", "v", "extra", "arr"]


def test_arrow_staged_ledger_reads_like_inference(spark, tmp_path):
    root = str(tmp_path / "ledger")
    ddl = "epoch int, n_docs long, ratio double, src string, ok boolean"
    at.append_rows(spark, [(0, 10, 0.5, "gate-a", True)], ddl, root, ["epoch"], "e0")
    at.append_rows(spark, [(1, 7, None, None, False)], ddl, root, ["epoch"], "e1")
    _assert_reads_like_inference(spark, root)


@pytest.mark.parametrize("shape", ["one_job", "per_partition"])
def test_compacted_reads_like_inference(spark, tmp_path, shape):
    """Both compaction rewrites read under the schema of record: the
    one-job shape (plain partition values, sorted) and the per-partition
    shape (partition values that need hive escaping)."""
    root = str(tmp_path / "t")
    if shape == "one_job":
        _evolved(spark, root)
        sort_by = ["id"]
    else:
        _evolved(spark, root, part=lambda i: f"k {i}")
        sort_by = None
    man = at.compact_partitions(spark, root, "compact-1", sort_by=sort_by)
    assert "compact-1" in man["txids"]
    assert man["schema"] == at.manifest_at(root, 3)["schema"]
    _assert_reads_like_inference(spark, root)
    assert _rows(at.read_table(spark, root)) == _rows(at.read_table(spark, root, version=3))


def test_adopted_reads_like_inference(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    base = "id long, v string, b int"
    at.replace_partitions(
        spark.createDataFrame([(1, "a", 0), (2, "b", 1)], base), dst, ["b"], "d0"
    )
    at.append_partitions(spark.createDataFrame([(3, "c", 0)], base), src, ["b"], "s0")
    at.append_partitions(spark.createDataFrame([(4, "d", 1)], base), src, ["b"], "s1")
    at.adopt_partitions(src, dst, ["b"], "swap")
    _assert_reads_like_inference(spark, dst)


def test_adopted_evolved_table_keeps_every_column(spark, tmp_path):
    """Adopted dirs all sit under one ``../src`` prefix, so the inferred
    read took one footer and dropped the columns later commits added;
    the schema of record keeps them."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _evolved(spark, src)
    at.adopt_partitions(src, dst, ["b"], "swap")
    df, jobs = _jobs_run(spark, lambda: at.read_table(spark, dst))
    assert jobs == 0
    ref = _inferred_read(spark, src)
    assert df.schema == ref.schema
    assert df.columns == ["id", "v", "extra", "arr", "b"]
    assert _rows(df) == _rows(ref)


def test_conflicting_column_type_fails_its_commit(spark, tmp_path):
    root = str(tmp_path / "t")
    at.append_partitions(
        spark.createDataFrame([(1, "a", 0)], "id long, v string, b int"), root, ["b"], "t0"
    )
    with pytest.raises(ValueError, match="schema conflict on column 'id'"):
        at.append_partitions(
            spark.createDataFrame([("x", "a", 0)], "id string, v string, b int"),
            root, ["b"], "t1",
        )
    assert at.current_manifest(root)["txids"] == ["t0"]
    assert _rows(at.read_table(spark, root)) == [(1, "a", "0")]


def test_record_drops_spark_internal_field_metadata(spark, tmp_path):
    """A frame column can carry Spark's internal ``__metadata_col`` mark
    (the footer never does); kept in the record, it would hide the
    scan's ``_metadata`` column that path partitions are read from."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", 0)], "id long, v string, b int")
    at.append_partitions(
        df.withMetadata("id", {"__metadata_col": "id", "comment": "kept"}),
        root, ["b"], "t0",
    )
    meta = at._record_schema(at.current_manifest(root))["id"].metadata
    assert meta == {"comment": "kept"}
    assert _rows(at.read_table(spark, root)) == [(1, "a", "0")]


def test_schema_union_keeps_first_seen_order_and_ors_nullability():
    a = '{"fields":[{"metadata":{},"name":"x","nullable":false,"type":"long"}],"type":"struct"}'
    b = ('{"fields":[{"metadata":{},"name":"y","nullable":false,"type":"string"},'
         '{"metadata":{},"name":"x","nullable":true,"type":"long"}],"type":"struct"}')
    rec = at._record_schema({"schema": at._union_schema(a, b)})
    assert [(f.name, f.nullable) for f in rec.fields] == [("x", True), ("y", False)]


def test_repeated_fixture_read_runs_no_job(spark, sf_dir):
    for name in TABLES:
        table(spark, sf_dir, name)
    for name in ("lineitem", "events"):
        df, jobs = _jobs_run(spark, lambda name=name: table(spark, sf_dir, name))
        assert jobs == 0, name
        assert df.count() > 0


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_rewritten_fixture_is_inferred_again(spark, tmp_path, layout):
    path = tmp_path / "nation.parquet"

    def write(tbl):
        if layout == "file":
            pq.write_table(tbl, str(path))
        else:
            path.mkdir(exist_ok=True)
            for f in path.iterdir():
                f.unlink()
            pq.write_table(tbl, str(path / "part-0.parquet"))

    write(pa.table({"a": pa.array([1, 2], pa.int32())}))
    assert table(spark, str(tmp_path), "nation").columns == ["a"]
    write(pa.table({"a": pa.array([3], pa.int32()), "b": pa.array(["x"])}))
    df, jobs = _jobs_run(spark, lambda: table(spark, str(tmp_path), "nation"))
    assert jobs >= 1
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_file_format_queries_leave_no_temp_dirs(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    q = registry.queries()
    for name in ("csv_json_roundtrip", "csv_malformed_robustness",
                 "orc_roundtrip", "partition_pruned_read"):
        assert q[name](spark, sf_dir).count() > 0, name
    assert os.listdir(tmp_path) == []


def test_no_schema_less_parquet_read_in_the_package():
    """Only the fixture cache's first inference and the partition
    discovery read-back of ``partition_pruned_read`` read parquet
    without a schema."""
    pat = re.compile(r"\.read(?:\.option\([^)]*\))*\.parquet\(")
    found = []
    for d, _, names in os.walk(_PKG):
        for n in names:
            if n.endswith(".py"):
                with open(os.path.join(d, n)) as fh:
                    src = fh.read()
                found += [os.path.relpath(os.path.join(d, n), _PKG)] * len(pat.findall(src))
    assert sorted(found) == ["io/tables.py", "operators/fileformats.py"], found
