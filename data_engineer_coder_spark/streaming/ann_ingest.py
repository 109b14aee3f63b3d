"""T8j (round 11): STREAMING ANN INDEX MAINTENANCE through the driver
gate — the ingest loop a 100 TB similarity-search corpus lives in.

The batch ANN queries (``ivf_ann_topk``, ``pq_ann_topk``) search a
FINISHED index and ``ivf_index_upsert_audit`` proves one batch upsert;
this query runs the real pipeline: a BOOTSTRAP SAMPLE (vec_id % 10 = 0)
trains the quantizer — hash-seeded IVF centroids and the one-Lloyd-round
PQ codebook — which is committed ONCE as a standing ACID artifact; then
the remaining 90 % of the corpus ARRIVES as 3 deterministic epochs
through ``core.write_stream_ann_index_gate``: each micro-batch is
two-level-assigned to its inverted list, PQ-encoded against the
broadcast codebook, and appended (partitioned by cell bucket, so lists
co-locate) together with its ledger row under ONE epoch txid.

The oracle replays EVERYTHING in plain SQL — quantizer training on the
bootstrap slice, the two-level assignment and the PQ encoding of every
arriving vector — because quantizer and codebook are FROZEN before the
stream starts: a vector's (cell, code) is a pure function of the
bootstrap set, independent of arrival epoch.  The per-(epoch, cell)
rollup the query returns is therefore fully value-hash-checked, while
the stream itself contributes the transactional guarantees (pinned
artifact reads, exactly-once appends, ledger conservation) that the
in-harness guards and ``tests/test_round11_ops.py`` replay-no-op test
enforce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.tables import table
from ..operators._helpers import sql_materialize
from ..registry import register


def _ann_ingest_oracle() -> str:
    from ..operators.similarity import (
        _SQL_N,
        _sql_ivf_cents,
        _sql_ivf_params,
        _sql_pq_encode,
        _sql_pq_train_cb,
        _sql_two_level,
    )

    sql = f"""
WITH nall AS (
  {_SQL_N}
),
n AS (SELECT * FROM nall WHERE vec_id % 10 = 0),
strm AS (SELECT * FROM nall WHERE vec_id % 10 <> 0),
{_sql_ivf_params('n')},
{_sql_ivf_cents('n')},
{_sql_two_level('cents', 'asg', 'strm')},
{_sql_pq_train_cb('n')},
{_sql_pq_encode('strm', 'scodes')},
percode AS (
  SELECT vec_id, CAST(SUM((s + 1) * c) AS BIGINT) AS csum
  FROM scodes GROUP BY vec_id
)
SELECT CAST(a.vec_id % 3 AS INT) AS epoch,
       a.centroid_id,
       COUNT(*) AS n_vecs,
       CAST(SUM(a.vec_id) AS BIGINT) AS vid_sum,
       CAST(SUM(p.csum) AS BIGINT) AS code_sum,
       CAST(SUM(CAST(FLOOR((a.c_sim + 1) * 1000000) AS BIGINT)) // COUNT(*)
            AS BIGINT) AS mean_sim_e6
FROM asg a JOIN percode p ON p.vec_id = a.vec_id
GROUP BY 1, 2
"""
    # multi-referenced heavy CTEs (DuckDB inlines per reference): the
    # bootstrap slice feeds params/cents/picked/codes0/tr, the stream
    # slice feeds the assignment chain AND the encoder, and cents is
    # read by both two-level stages.
    return sql_materialize(sql, ("nall", "n", "strm", "cents", "cb"))


@register(
    "stream_ann_index_ingest",
    oracle=_ann_ingest_oracle(),
    tags=(
        "streaming", "similarity", "ann", "llm", "acid", "real-stream",
    ),
    doc=(
        "T8j real stream: a bootstrap sample trains the IVF quantizer + "
        "PQ codebook (standing ACID artifacts), then 3 ordered "
        "micro-batches of arriving vectors are cell-assigned, "
        "PQ-encoded, and appended to the bucketed inverted-list index "
        "under one epoch txid each.  Returns the per-(epoch, cell) "
        "rollup of the standing index; oracle = full SQL replay of the "
        "training, assignment, and encoding of every vector."
    ),
)
def stream_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import read_table, replace_partitions
    from ..operators.similarity import (
        _dot,
        _ivf_cents,
        _pq_seed_row,
        _pq_train_entries,
        _qvec,
    )
    from .core import write_stream_ann_index_gate
    from .windows import _check_epoch_membership, _ordered_epoch_stream, _run_gate

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    n = emb.withColumn("nrm", _dot(F.col("qv"), F.col("qv")))
    is_boot = F.pmod("vec_id", F.lit(10)) == 0
    boot = n.filter(is_boot)
    strm = n.filter(~is_boot)
    tmp = tempfile.mkdtemp(prefix="anngate_")
    try:
        roots = {
            nm: os.path.join(tmp, nm)
            for nm in ("cents", "codebook", "index", "stats")
        }
        # the standing quantizer, trained ONCE on the bootstrap sample
        # and committed before the stream starts (the VERDICT-r10
        # standing-artifact rule: train-once, version, reuse)
        cents = _ivf_cents(boot).withColumn(
            "b", F.pmod("centroid_id", F.lit(4))
        )
        replace_partitions(cents, roots["cents"], ["b"], "quantizer-build")
        cb_entries = _pq_train_entries(
            boot.select("vec_id", "qv"), _pq_seed_row(boot.select("vec_id", "qv"))
        )
        replace_partitions(cb_entries, roots["codebook"], ["s"], "quantizer-build")

        sdf = _ordered_epoch_stream(spark, strm, tmp, key="vec_id")
        _run_gate(spark, lambda ck: write_stream_ann_index_gate(
            sdf, roots["cents"], roots["codebook"],
            roots["index"], roots["stats"], checkpoint=ck,
        ))

        ledger = [
            (int(r["epoch"]), r["n_arrived"], r["arrived_id_sum"],
             r["n_cells_touched"], r["code_checksum"])
            for r in read_table(spark, roots["stats"]).collect()
        ]
        _check_epoch_membership(strm, "vec_id", ledger)
        idx = read_table(spark, roots["index"]).select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col("codes").cast("array<bigint>").alias("codes"),
            F.col("sim_e6").cast("long").alias("sim_e6"),
            F.col("epoch").cast("int").alias("epoch"),
        )
        out = (
            idx.groupBy("epoch", "centroid_id")
            .agg(
                F.count("*").alias("n_vecs"),
                F.sum("vec_id").alias("vid_sum"),
                F.sum(
                    F.aggregate(
                        F.zip_with(
                            "codes",
                            F.sequence(F.lit(1), F.lit(8)),
                            lambda c, w: c * w,
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x,
                    )
                ).alias("code_sum"),
                F.expr("sum(sim_e6) div count(*)").alias("mean_sim_e6"),
            )
            .localCheckpoint()
        )
        # CONSERVATION: the standing index reconciles with the ledger —
        # row counts per epoch AND the code checksums (a lost or
        # duplicated append would break one of them).
        tot = out.groupBy("epoch").agg(
            F.sum("n_vecs").alias("n"), F.sum("code_sum").alias("csum")
        )
        got2 = {
            int(r["epoch"]): (int(r["n"]), int(r["csum"]))
            for r in tot.collect()
        }
        want2 = {e: (na, csum) for e, na, _, _, csum in ledger}
        if got2 != want2:
            raise RuntimeError(
                f"index/ledger reconciliation failed: {got2} != {want2}"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _bucket_probe_oracle() -> str:
    from ..operators.similarity import (
        _IVF_NPROBE,
        _PQ_SUBDIM,
        _SQL_N,
        _SQL_PQ_L2,
        _sql_ivf_cents,
        _sql_ivf_params,
        _sql_pq_encode,
        _sql_pq_train_cb,
        _sql_probe_cells,
        _sql_two_level,
    )

    psl = f"p.pqv[(cb.s * {_PQ_SUBDIM} + 1):((cb.s + 1) * {_PQ_SUBDIM})]"
    sql = f"""
WITH nall AS (
  {_SQL_N}
),
n AS (SELECT * FROM nall WHERE vec_id % 10 = 0),
strm AS (SELECT * FROM nall WHERE vec_id % 10 <> 0),
{_sql_ivf_params('n')},
{_sql_ivf_cents('n')},
{_sql_two_level('cents', 'asg', 'strm')},
{_sql_pq_train_cb('n')},
{_sql_pq_encode('strm', 'scodes')},
probes AS (
  SELECT vec_id AS probe_id, qv AS pqv, nrm AS pnrm FROM strm WHERE vec_id < 25
),
{_sql_probe_cells('probes', 'probe_id', 'cents', _IVF_NPROBE)},
pb AS (
  SELECT probe_id,
         CAST(COUNT(DISTINCT centroid_id % 16) AS BIGINT) AS n_buckets_read
  FROM pcell GROUP BY 1
),
dtab AS (
  SELECT p.probe_id, cb.s, cb.c,
         {_SQL_PQ_L2.format(a=psl, b='cb.cs')} AS d
  FROM probes p CROSS JOIN cb
),
adc AS (
  SELECT pc.probe_id, a.vec_id AS neighbor_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist
  FROM pcell pc
  JOIN asg a ON a.centroid_id = pc.centroid_id AND a.vec_id <> pc.probe_id
  JOIN scodes sc ON sc.vec_id = a.vec_id
  JOIN dtab t ON t.probe_id = pc.probe_id AND t.s = sc.s AND t.c = sc.c
  GROUP BY 1, 2
)
SELECT r.probe_id, r.neighbor_id, r.rn, r.adc_dist, pb.n_buckets_read
FROM (
  SELECT probe_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (
           PARTITION BY probe_id ORDER BY adc_dist, neighbor_id
         ) AS rn
  FROM adc
) r
JOIN pb ON pb.probe_id = r.probe_id
WHERE r.rn <= 3
"""
    return sql_materialize(sql, ("nall", "n", "strm", "cents", "cb", "probes"))


@register(
    "ann_index_bucket_probe",
    oracle=_bucket_probe_oracle(),
    tags=("similarity", "ann", "acid", "llm"),
    doc=(
        "The SERVING side of the streamed ANN index: probes rank the "
        "standing centroids, and the candidate read touches ONLY the "
        "cell buckets of their nprobe lists — manifest-level partition "
        "pruning on the bucketed index, then ADC scoring from the "
        "STORED codes.  Returns per-probe top-3 + the per-probe bucket "
        "fan-out; oracle replays ranking, pruning arithmetic, and "
        "every ADC distance."
    ),
)
def ann_index_bucket_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from ..io.acid_table import _part_values, current_manifest, read_table, replace_partitions
    from ..operators.similarity import (
        _IVF_NPROBE,
        _PQ_K,
        _PQ_SUBS,
        _cb_row_from_entries,
        _cosine,
        _dot,
        _ivf_cents,
        _pq_code_for,
        _pq_l2,
        _pq_seed_row,
        _pq_sub,
        _pq_train_entries,
        _qvec,
        _top_cells,
        _two_level_assign,
    )

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    n = emb.withColumn("nrm", _dot(F.col("qv"), F.col("qv")))
    is_boot = F.pmod("vec_id", F.lit(10)) == 0
    boot = n.filter(is_boot)
    strm = n.filter(~is_boot)
    cents = _ivf_cents(boot).localCheckpoint(eager=False)
    cb_row = _cb_row_from_entries(
        _pq_train_entries(
            boot.select("vec_id", "qv"), _pq_seed_row(boot.select("vec_id", "qv"))
        )
    ).localCheckpoint(eager=False)

    tmp = tempfile.mkdtemp(prefix="annprobe_")
    try:
        index_root = os.path.join(tmp, "index")
        # one bulk build of the bucketed index (the gate's per-epoch
        # work as a single txn — the stream path is proven separately
        # by stream_ann_index_ingest)
        asg = _two_level_assign(strm, cents)
        enc = (
            asg.crossJoin(F.broadcast(cb_row))
            .select(
                "vec_id",
                "centroid_id",
                F.array(
                    *[_pq_code_for(F.lit(s)) for s in range(_PQ_SUBS)]
                ).alias("codes"),
            )
            .withColumn("cell_bucket", F.pmod("centroid_id", F.lit(16)))
        )
        replace_partitions(enc, index_root, ["cell_bucket"], "bulk-load")

        probes = strm.filter(F.col("vec_id") < 25).localCheckpoint(eager=False)
        probe_cells = _top_cells(
            cents.drop("stride", "cstride")
            .crossJoin(F.broadcast(probes))
            .select(
                F.col("vec_id").alias("probe_id"),
                "centroid_id",
                _cosine(
                    _dot(F.col("qv"), F.col("cqv")), F.col("nrm"), F.col("cnrm")
                ).alias("c_sim"),
            ),
            _IVF_NPROBE,
        ).localCheckpoint()
        # THE SERVING READ: prune the index to the probed cells' buckets
        # at the MANIFEST — unprobed buckets are never listed or scanned.
        allowed = {
            str(r["b"])
            for r in probe_cells.select(
                F.pmod("centroid_id", F.lit(16)).alias("b")
            )
            .distinct()
            .collect()
        }
        idx = read_table(
            spark,
            index_root,
            partition_filter=lambda kv: kv["cell_bucket"] in allowed,
        ).select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col("codes").cast("array<bigint>").alias("codes"),
        )
        # single-probe pruning audit: a serving read for ONE probe must
        # touch at most nprobe buckets, strictly fewer than the table
        # holds (when the table holds more)
        one = probe_cells.orderBy("probe_id").limit(_IVF_NPROBE)
        one_buckets = {
            str(r["b"])
            for r in one.select(F.pmod("centroid_id", F.lit(16)).alias("b")).collect()
        }
        all_parts = list(current_manifest(index_root)["partitions"])
        one_parts = [
            p for p in all_parts
            if _part_values(p)["cell_bucket"]
            in one_buckets
        ]
        if len(one_parts) > _IVF_NPROBE or (
            len(all_parts) > _IVF_NPROBE and len(one_parts) >= len(all_parts)
        ):
            raise RuntimeError(
                f"bucket pruning ineffective: one probe touches "
                f"{len(one_parts)} of {len(all_parts)} partitions"
            )
        # per-probe ADC distance tables (flat 128-entry lookup array)
        dtab = probes.crossJoin(F.broadcast(cb_row)).select(
            F.col("vec_id").alias("probe_id"),
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1)),
                    lambda s: F.transform(
                        F.get(F.col("cb"), s),
                        lambda cs: _pq_l2(_pq_sub(s), cs),
                    ),
                )
            ).alias("dtab"),
        )
        adc_expr = F.aggregate(
            F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1)),
            F.lit(0).cast("bigint"),
            lambda acc, s: acc
            + F.get(F.col("dtab"), s * _PQ_K + F.get(F.col("codes"), s).cast("int")),
        )
        scored = (
            F.broadcast(probe_cells)
            .join(idx, "centroid_id")
            .filter(F.col("vec_id") != F.col("probe_id"))
            .join(F.broadcast(dtab), "probe_id")
            .select(
                "probe_id",
                F.col("vec_id").alias("neighbor_id"),
                adc_expr.alias("adc_dist"),
            )
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.asc("adc_dist"), F.asc("neighbor_id")
        )
        nb = probe_cells.groupBy("probe_id").agg(
            F.countDistinct(F.pmod("centroid_id", F.lit(16))).alias(
                "n_buckets_read"
            )
        )
        out = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .join(F.broadcast(nb), "probe_id")
            .select("probe_id", "neighbor_id", "rn", "adc_dist", "n_buckets_read")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _staged_reencode(enc_new, staging_root: str, n_buckets: int = 8) -> None:
    """Stage a retrain's re-encoded index one CELL BUCKET at a time into
    ``staging_root``, each bucket under its own txid — the incremental
    re-encode of the maintenance path (VERDICT r11 #3).  A crash loses
    at most one bucket's work; a resumed run replays already-committed
    buckets as exactly-once no-ops.  Asserts the per-bucket txn ledger:
    after the loop the staging manifest holds exactly one commit per
    bucket."""
    from ..io.acid_table import current_manifest, replace_partitions

    for b in range(n_buckets):
        replace_partitions(
            enc_new.filter(F.col("b") == b), staging_root, ["b"],
            f"retrain-stage-b{b}",
        )
    txids = current_manifest(staging_root)["txids"]
    want = [f"retrain-stage-b{b}" for b in range(n_buckets)]
    if sorted(txids) != sorted(want):
        raise RuntimeError(f"per-bucket staging ledger wrong: {txids}")


def _retrain_swap_oracle() -> str:
    from ..operators.similarity import (
        _PQ_SUBDIM,
        _SQL_QVEC,
        _sql_pq_encode,
        _sql_pq_train_cb,
    )

    def err_cte(name, codes, cb):
        sl = f"n.qv[({codes}.s * {_PQ_SUBDIM} + 1):(({codes}.s + 1) * {_PQ_SUBDIM})]"
        l2 = (
            f"CAST(list_sum(list_transform(list_zip({sl}, {cb}.cs),"
            " z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
        )
        return f"""{name} AS (
  SELECT {codes}.s, COUNT(*) AS nv, CAST(SUM({l2}) AS BIGINT) AS err
  FROM {codes}
  JOIN strm n ON n.vec_id = {codes}.vec_id
  JOIN {cb} ON {cb}.s = {codes}.s AND {cb}.c = {codes}.c
  GROUP BY {codes}.s
)"""

    sql = f"""
WITH nall AS (
  SELECT vec_id, {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings
),
n AS (SELECT * FROM nall WHERE vec_id % 10 = 0),
strm AS (SELECT * FROM nall WHERE vec_id % 10 <> 0),
{_sql_pq_train_cb('n', 'old_')},
{_sql_pq_encode('strm', 'ocodes', 'old_cb')},
{_sql_pq_train_cb('strm', 'new_')},
{_sql_pq_encode('strm', 'ncodes', 'new_cb')},
{err_cte('erro', 'ocodes', 'old_cb')},
{err_cte('errn', 'ncodes', 'new_cb')}
SELECT CAST(o.s AS INT) AS s,
       o.nv AS n_vecs,
       o.err AS err_old,
       e.err AS err_new,
       e.err <= o.err AS improved
FROM erro o JOIN errn e ON e.s = o.s
"""
    return sql_materialize(sql, ("nall", "n", "strm", "old_cb", "new_cb"))


@register(
    "ann_index_retrain_swap_audit",
    oracle=_retrain_swap_oracle(),
    tags=("similarity", "ann", "acid", "llm"),
    doc=(
        "The maintenance ACTION the drift audit triggers: retrain the "
        "PQ codebook on the index's own content, re-encode the index "
        "ONE CELL BUCKET AT A TIME into a staging table (per-bucket "
        "txids — bounded failure domain, resumable), then swap codes "
        "+ codebook under ONE maintenance txid via a METADATA-ONLY "
        "adopt of the staged directories (time-travel keeps the old "
        "index; replayed staging and swap are no-ops).  Returns the "
        "per-subspace exact integer quantization error before/after; "
        "oracle replays both trainings, both encodings, and both "
        "error sums."
    ),
)
def ann_index_retrain_swap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import (
        adopt_partitions,
        current_manifest,
        read_table,
        replace_partitions,
    )
    from ..operators.similarity import (
        _PQ_SUBS,
        _cb_row_from_entries,
        _pq_code_for,
        _pq_l2,
        _pq_sub,
        _pq_seed_row,
        _pq_train_entries,
        _qvec,
    )

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    is_boot = F.pmod("vec_id", F.lit(10)) == 0
    boot = emb.filter(is_boot)
    strm = emb.filter(~is_boot).localCheckpoint(eager=False)

    def train_entries(src):
        # one Lloyd round, materialized ONCE: the audit references the
        # bootstrap entries three times (encoder row, codebook table
        # write, pre-swap checksum) and each un-checkpointed reference
        # would re-run the seed top-K + train shuffle (guide §1.2)
        return _pq_train_entries(src, _pq_seed_row(src)).localCheckpoint()

    def train_row(entries):
        return _cb_row_from_entries(entries).localCheckpoint(eager=False)

    def encode(src, cb_row):
        return src.crossJoin(F.broadcast(cb_row)).select(
            "vec_id",
            F.array(
                *[_pq_code_for(F.lit(s)) for s in range(_PQ_SUBS)]
            ).alias("codes"),
        ).withColumn("b", F.pmod("vec_id", F.lit(8)))

    def cks(df):
        r = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(
                    F.aggregate(
                        F.zip_with(
                            "codes",
                            F.sequence(F.lit(1), F.lit(_PQ_SUBS)),
                            lambda c, w: c * w,
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x,
                    )
                ),
                F.lit(0),
            ).alias("cs"),
        ).collect()[0]
        return int(r["n"]), int(r["cs"])

    cb_old_entries = train_entries(boot)  # the ingest-era bootstrap codebook
    cb_old = train_row(cb_old_entries)
    tmp = tempfile.mkdtemp(prefix="annswap_")
    try:
        index_root = os.path.join(tmp, "index")
        cb_root = os.path.join(tmp, "codebook")
        enc_old = encode(strm, cb_old).localCheckpoint()
        replace_partitions(enc_old, index_root, ["b"], "bulk-load")
        replace_partitions(cb_old_entries, cb_root, ["s"], "bulk-load")
        v_old = current_manifest(index_root)["version"]

        # THE MAINTENANCE PATH (staged per bucket, VERDICT r11 #3):
        # retrain on the index's own content, re-encode ONE BUCKET AT A
        # TIME into a staging table under per-bucket txids — the
        # failure domain is one bucket and a crashed run resumes with
        # already-staged buckets no-opping — then swap codes AND
        # codebook atomically: the index adopts the staged directories
        # METADATA-ONLY (``adopt_partitions``, an O(manifest) commit —
        # no re-read/re-write of staged data) under the same logical
        # txid as the codebook replace.  Readers never observe staging
        # (the live index serves old codes + old codebook throughout
        # the per-bucket re-encode); index and codebook remain TWO
        # table commits, so a reader in the instant between them can
        # pair new codes with the old codebook — the same inter-commit
        # window the pre-staging monolithic swap had.  A crash there
        # converges on replay (both commits are idempotent under the
        # shared txid); a serving stack that must close even that
        # window pins reads to ``version_before_txid`` like the ingest
        # gate does.
        cb_new_entries = train_entries(strm)
        cb_new = train_row(cb_new_entries)
        enc_new = encode(strm, cb_new).localCheckpoint()
        staging_root = os.path.join(tmp, "index_restage")
        _staged_reencode(enc_new, staging_root, n_buckets=8)
        adopt_partitions(staging_root, index_root, ["b"], "retrain-swap")
        replace_partitions(cb_new_entries, cb_root, ["s"], "retrain-swap")
        v_new = current_manifest(index_root)["version"]

        # time-travel guard: the pre-swap version still serves the OLD
        # codes; the head serves the NEW ones (count + weighted checksum)
        def tbl(version):
            return read_table(spark, index_root, version=version).select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("codes").cast("array<bigint>").alias("codes"),
            )

        if cks(tbl(v_old)) != cks(enc_old):
            raise RuntimeError("time-travel read of the pre-swap index drifted")
        if cks(tbl(v_new)) != cks(enc_new):
            raise RuntimeError("post-swap index does not match the re-encode")
        # exactly-once: a replayed swap is a version-for-version no-op
        adopt_partitions(staging_root, index_root, ["b"], "retrain-swap")
        if current_manifest(index_root)["version"] != v_new:
            raise RuntimeError("replayed maintenance txid advanced the table")
        # per-bucket txn ledger: exactly one staged commit per bucket,
        # and a replayed staging pass must not add versions either
        v_stage = current_manifest(staging_root)["version"]
        _staged_reencode(enc_new, staging_root, n_buckets=8)
        if current_manifest(staging_root)["version"] != v_stage:
            raise RuntimeError("replayed staging txids advanced the table")
        # the codebook table must swap IN STEP with the index: its head
        # serves exactly the retrained entries, and the pre-swap version
        # still serves the bootstrap-era codebook (slice checksums)
        def cb_cks(df):
            r = df.agg(
                F.count("*").alias("n"),
                F.sum(
                    (F.col("s").cast("bigint") * 16 + F.col("c"))
                    * F.aggregate(
                        F.col("cs").cast("array<bigint>"),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x,
                    )
                ).alias("w"),
            ).collect()[0]
            return int(r["n"]), int(r["w"] or 0)

        def cb_tbl(version):
            return read_table(spark, cb_root, version=version).select(
                F.col("s").cast("int").alias("s"),
                F.col("c").cast("int").alias("c"),
                F.col("cs").cast("array<bigint>").alias("cs"),
            )

        if cb_cks(cb_tbl(None)) != cb_cks(cb_new_entries):
            raise RuntimeError("codebook head drifted from the retrained entries")
        if cb_cks(cb_tbl(1)) != cb_cks(cb_old_entries):
            raise RuntimeError("pre-swap codebook version drifted")

        # per-subspace exact quantization error, old vs new — FROM THE
        # TABLE VERSIONS, so the audit certifies what the table holds
        def errs(codes_df, cb_row, err_name):
            ex = (
                codes_df.join(strm, "vec_id")
                .crossJoin(F.broadcast(cb_row))
                .select(F.posexplode("codes").alias("s", "c"), "qv", "cb")
                .select(
                    "s",
                    _pq_l2(
                        _pq_sub(F.col("s")),
                        F.get(F.get(F.col("cb"), F.col("s")), F.col("c").cast("int")),
                    ).alias("d"),
                )
            )
            return ex.groupBy("s").agg(
                F.count("*").alias("n_vecs"), F.sum("d").alias(err_name)
            )

        out = (
            errs(tbl(v_old), cb_old, "err_old")
            .join(errs(tbl(v_new), cb_new, "err_new").drop("n_vecs"), "s")
            .select(
                F.col("s").cast("int").alias("s"),
                "n_vecs",
                "err_old",
                "err_new",
                (F.col("err_new") <= F.col("err_old")).alias("improved"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
