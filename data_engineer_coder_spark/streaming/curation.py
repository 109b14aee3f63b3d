"""T8i (round 11): the UNIFIED CURATION INGEST PIPELINE through the
driver gate — the three proven ingest gates (T8e near-dup screen, T8h
decontamination, the T8d-style ledger) composed over ONE arriving
stream under ONE per-epoch transaction (``core.write_stream_curation_gate``).

The registered query drives the REAL stream — the train slice of the
documents table (doc_id % 97 != 0; the held-out slice builds the
standing eval 8-gram index first) split into 3 deterministic epochs —
and returns the PER-DOC VERDICT table: every arriving doc's fate
(``rejected_neardup_index`` / ``rejected_neardup_batch`` /
``quarantined_contaminated`` / ``accepted``) exactly as the gate
committed it.  The oracle replays EVERY decision in plain SQL: the
MinHash/band/agreement chain unrolled over the 3 epochs with the index
evolving as the ACCEPTED sets, and the eval-gram contamination probe —
so the driver's value hash certifies the composed pipeline end to end,
not just its counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.tables import table
from ..operators._helpers import sql_materialize
from ..operators.dedup import (
    _AGREEMENT_CTES,
    _SH_CTE,
    _epoch_ctes,
    _hash_cte,
    _keep_first_ctes,
    _signature_ctes,
)
from ..registry import register


# The curation gate's accept rule: a survivor is quarantined (q_i)
# when it carries an eval 8-gram, accepted (a_i) otherwise.
_ACCEPT_CLEAN = """q{i} AS (SELECT doc_id FROM s{i} WHERE doc_id IN (SELECT doc_id FROM contam)),
a{i} AS (SELECT doc_id FROM s{i} WHERE doc_id NOT IN (SELECT doc_id FROM contam))"""


def _curation_ctes(idx2_where: str = "") -> str:
    """The verdict-replay CTE chain (tr → … → a2), WITHOUT the final
    SELECT — shared by the plain, searchable, and lifecycle curation
    oracles.  ``idx2_where`` optionally filters the standing index
    epoch 2 probes against (the lifecycle drill's takedown arriving
    between epochs 1 and 2 shrinks it)."""
    from ..operators.textops import _DECON_MOD, _sql_eval_probe

    sql = f"""
WITH tr AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE doc_id % {_DECON_MOD} <> 0
),
w AS (SELECT doc_id, ws FROM tr WHERE LEN(ws) >= 3),
{_SH_CTE},
{_hash_cte("sh")},
{_signature_ctes("hv")},
{_AGREEMENT_CTES},
{_sql_eval_probe(
    f"(SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % {_DECON_MOD} = 0)",
    "tr",
)},
{_epoch_ctes("tr")},
{_keep_first_ctes(_ACCEPT_CLEAN, idx2_where)}"""
    # multi-referenced heavy CTEs: DuckDB inlines per reference and the
    # epoch recursion references sig/m2/contam many times (the r10
    # MATERIALIZED rule — bpe_learn_iterative / cms-gate pattern)
    return sql_materialize(sql, ("hv", "sig", "m2", "ev", "contam"))


_VERDICT_UNION = """
SELECT doc_id, 0 AS epoch, 'rejected_neardup_batch' AS verdict FROM rb0
UNION ALL SELECT doc_id, 0, 'quarantined_contaminated' FROM q0
UNION ALL SELECT doc_id, 0, 'accepted' FROM a0
UNION ALL SELECT doc_id, 1, 'rejected_neardup_index' FROM ri1
UNION ALL SELECT doc_id, 1, 'rejected_neardup_batch' FROM rb1
UNION ALL SELECT doc_id, 1, 'quarantined_contaminated' FROM q1
UNION ALL SELECT doc_id, 1, 'accepted' FROM a1
UNION ALL SELECT doc_id, 2, 'rejected_neardup_index' FROM ri2
UNION ALL SELECT doc_id, 2, 'rejected_neardup_batch' FROM rb2
UNION ALL SELECT doc_id, 2, 'quarantined_contaminated' FROM q2
UNION ALL SELECT doc_id, 2, 'accepted' FROM a2
"""


def _curation_oracle() -> str:
    return _curation_ctes() + _VERDICT_UNION


def _searchable_oracle() -> str:
    from ..operators._helpers import sql_md5_bucket16
    from ..operators.similarity import (
        _SQL_NORM,
        _SQL_QVEC,
        _sql_ivf_cents,
        _sql_ivf_params,
        _sql_two_level,
    )

    tokb = f"CAST(({sql_md5_bucket16('tok')}) % 16 AS BIGINT)"
    return f"""{_curation_ctes()},
acc AS MATERIALIZED (
  SELECT doc_id, 0 AS epoch FROM a0
  UNION ALL SELECT doc_id, 1 FROM a1
  UNION ALL SELECT doc_id, 2 FROM a2
),
atok AS MATERIALIZED (
  SELECT epoch, doc_id, tok, COUNT(*) AS tf FROM (
    SELECT a.epoch, t.doc_id, unnest(t.ws) AS tok
    FROM tr t JOIN acc a ON a.doc_id = t.doc_id
  ) GROUP BY 1, 2, 3
),
postrows AS (
  SELECT epoch, {tokb} AS k, COUNT(*) AS v1,
         CAST(SUM(({sql_md5_bucket16('tok')}) * tf) AS BIGINT) AS v2
  FROM atok GROUP BY 1, 2
),
fwdrows AS (
  SELECT epoch, CAST(doc_id % 16 AS BIGINT) AS k, COUNT(*) AS v1,
         CAST(SUM(tf * doc_id) AS BIGINT) AS v2
  FROM atok GROUP BY 1, 2
),
ledrows AS (
  SELECT a.epoch, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(LEN(t.ws)) AS BIGINT) AS v1
  FROM tr t JOIN acc a ON a.doc_id = t.doc_id GROUP BY a.epoch
),
n2 AS MATERIALIZED (
  SELECT vec_id, qv, {_SQL_NORM.format(a='qv')} AS nrm
  FROM (
    SELECT e.vec_id, {_SQL_QVEC.format(e='e.embedding')} AS qv
    FROM embeddings e JOIN tr t ON t.doc_id = e.vec_id
  )
),
nb AS MATERIALIZED (SELECT * FROM n2 WHERE vec_id % 10 = 0),
{_sql_ivf_params('nb')},
{_sql_ivf_cents('nb')},
av AS (
  SELECT n2.vec_id, a.epoch, n2.qv, n2.nrm
  FROM n2 JOIN acc a ON a.doc_id = n2.vec_id
),
{_sql_two_level('cents', 'asg', 'av', extra_cols=('epoch',))},
annrows AS (
  SELECT epoch, CAST(centroid_id % 16 AS BIGINT) AS k, COUNT(*) AS v1,
         CAST(SUM(vec_id * centroid_id) AS BIGINT) AS v2
  FROM asg GROUP BY 1, 2
)
SELECT 'verdict' AS kind, CAST(epoch AS INT) AS epoch,
       CAST(doc_id AS BIGINT) AS k, verdict AS s,
       CAST(0 AS BIGINT) AS v1, CAST(0 AS BIGINT) AS v2
FROM ({_VERDICT_UNION})
UNION ALL
SELECT 'postings', CAST(epoch AS INT), k, '', v1, v2 FROM postrows
UNION ALL
SELECT 'forward', CAST(epoch AS INT), k, '', v1, v2 FROM fwdrows
UNION ALL
SELECT 'bm25_ledger', CAST(epoch AS INT), k, '', v1, CAST(0 AS BIGINT) FROM ledrows
UNION ALL
SELECT 'ann', CAST(epoch AS INT), k, '', v1, v2 FROM annrows
"""


@register(
    "stream_curation_ingest",
    oracle=_curation_oracle(),
    tags=(
        "streaming", "pipeline", "dedup", "decontamination", "llm",
        "acid", "real-stream",
    ),
    doc=(
        "T8i real stream: 3 ordered micro-batches of training documents "
        "through the UNIFIED curation gate — near-dup screen against the "
        "evolving accepted-docs index, then eval 8-gram decontamination "
        "of the survivors, docs/quarantine/index/verdicts/ledger all "
        "committed under ONE epoch txid.  Returns the per-doc verdict "
        "table; oracle = full SQL replay of every verdict across the "
        "3 epochs."
    ),
)
def stream_curation_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import read_table
    from .core import write_stream_curation_gate
    from .windows import (
        _check_epoch_membership,
        _eval_index_split,
        _ordered_epoch_stream,
        _run_gate,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="crgate_")
    try:
        roots = {
            n: os.path.join(tmp, n)
            for n in ("eval", "sigs", "docs", "quarantine", "verdicts", "stats")
        }
        train = _eval_index_split(docs, roots["eval"])
        sdf = _ordered_epoch_stream(spark, train, tmp)
        _run_gate(spark, lambda ck: write_stream_curation_gate(
            sdf, roots["eval"], roots["sigs"], roots["docs"],
            roots["quarantine"], roots["verdicts"], roots["stats"],
            checkpoint=ck,
        ))
        ledger = [
            (int(r["epoch"]), r["n_arrived"], r["arrived_id_sum"],
             r["n_rejected_index"], r["n_rejected_batch"],
             r["n_quarantined"], r["n_accepted"])
            for r in read_table(spark, roots["stats"]).collect()
        ]
        _check_epoch_membership(train, "doc_id", ledger)
        # CONSERVATION: each epoch's four verdict buckets partition its
        # arrivals, and the standing tables reconcile with the ledger.
        for e, n, _, ri, rb, nq, na in ledger:
            if ri + rb + nq + na != n:
                raise RuntimeError(
                    f"epoch {e}: verdicts {ri}+{rb}+{nq}+{na} != arrived {n}"
                )
        n_docs = read_table(spark, roots["docs"]).count()
        try:
            n_quar = read_table(spark, roots["quarantine"]).count()
        except ValueError:
            n_quar = 0
        if n_docs != sum(r[6] for r in ledger) or n_quar != sum(
            r[5] for r in ledger
        ):
            raise RuntimeError(
                "docs/quarantine tables disagree with the ledger — the "
                "gate lost or duplicated rows"
            )
        verdicts = [
            (int(r["doc_id"]), int(r["epoch"]), r["verdict"])
            for r in read_table(spark, roots["verdicts"]).collect()
        ]
        if len(verdicts) != sum(r[1] for r in ledger):
            raise RuntimeError("verdict rows != arrivals — audit trail broken")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        verdicts, "doc_id long, epoch int, verdict string"
    )


# --------------------------------------------------------------------------
# Round 13 (VERDICT r12 #1): ONE INGEST, ALL STANDING ARTIFACTS — the
# searchable curation gate.  stream_curation_ingest proves the verdict
# pipeline is transactional, but an accepted doc was not yet
# RETRIEVABLE: the standing BM25 postings/forward index and the ANN
# cell index were maintained by separate gates on separate streams.
# Here the same curation gate also appends every accepted doc's
# postings, forward rows, BM25 ledger row, and (for docs carrying a
# vector) its ANN cell row — all under the SAME epoch txid, so
# "accepted" and "searchable" can never disagree, even across a crash.
# --------------------------------------------------------------------------


@register(
    "stream_curation_searchable",
    oracle=_searchable_oracle(),
    tags=(
        "streaming", "pipeline", "dedup", "decontamination", "llm",
        "acid", "real-stream", "rag", "ann",
    ),
    doc=(
        "T8i+ (round 13): the unified curation gate extended so every "
        "ACCEPTED doc is immediately retrievable — per epoch, accepted "
        "docs are tokenized into the standing token-bucketed postings "
        "+ doc-bucketed forward index (with a BM25 ledger row), and "
        "their vectors two-level-assigned against the standing IVF "
        "quantizer into the cell-bucketed ANN index, all under the "
        "SAME epoch txid as docs/verdicts/near-dup-index/ledger.  "
        "Returns one table uniting the per-doc verdicts with "
        "per-(epoch, bucket) rollups of all four retrieval artifacts; "
        "oracle = full SQL replay of every verdict AND both indexes' "
        "contents across the 3 epochs.  Harness asserts: a keyword "
        "BM25 serve from the gate's artifacts is bit-identical to the "
        "from-scratch recompute over the accepted corpus, and a full "
        "stream replay is a no-op on all 10 standing tables."
    ),
)
def stream_curation_searchable(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import current_manifest, read_table, replace_partitions
    from ..operators._helpers import md5_bucket16
    from ..operators.similarity import _dot, _ivf_cents, _qvec
    from ..operators.textops import _bm25_corpus, _bm25_scores
    from .bm25_ingest import _assert_bit_parity, _keyword_probe, _served_scores
    from .core import write_stream_curation_gate
    from .windows import _eval_index_split, _ordered_epoch_stream, _run_gate

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", _qvec("embedding").alias("qv"))
        .select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    )
    tmp = tempfile.mkdtemp(prefix="crsearch_")
    try:
        names = (
            "eval", "sigs", "docs", "quarantine", "verdicts", "stats",
            "postings", "forward", "bm25_stats", "cents", "ann",
        )
        roots = {n: os.path.join(tmp, n) for n in names}
        roots["bands"] = roots["sigs"] + "_bands"
        train = (
            _eval_index_split(docs, roots["eval"])
            .join(emb, docs["doc_id"] == emb["vec_id"], "left")
            .select("doc_id", "text", "qv", "nrm")
        )
        # standing IVF quantizer: hash-seeded centroids from the
        # deterministic vec_id % 10 = 0 bootstrap of the train-slice
        # vectors, committed ONCE before the stream starts
        nvt = train.filter(F.col("qv").isNotNull()).select(
            F.col("doc_id").alias("vec_id"), "qv", "nrm"
        )
        cents = _ivf_cents(nvt.filter(F.pmod("vec_id", F.lit(10)) == 0))
        replace_partitions(
            cents.withColumn("b", F.pmod("centroid_id", F.lit(4))),
            roots["cents"], ["b"], "cents-build",
        )
        search_roots = {
            k: roots[k] for k in ("postings", "forward", "bm25_stats", "cents", "ann")
        }

        def _run_stream(src_tmp: str, copy_from: str | None = None):
            sdf = _ordered_epoch_stream(spark, train, src_tmp, copy_from=copy_from)
            _run_gate(spark, lambda ck: write_stream_curation_gate(
                sdf, roots["eval"], roots["sigs"], roots["docs"],
                roots["quarantine"], roots["verdicts"], roots["stats"],
                checkpoint=ck, bands_root=roots["bands"],
                search_roots=search_roots,
            ))

        _run_stream(tmp)

        # ---- conservation: verdicts partition arrivals; ledgers agree
        ledger = {
            int(r["epoch"]): (
                int(r["n_arrived"]),
                int(r["n_rejected_index"]) + int(r["n_rejected_batch"])
                + int(r["n_quarantined"]) + int(r["n_accepted"]),
                int(r["n_accepted"]),
            )
            for r in read_table(spark, roots["stats"]).collect()
        }
        for e, (n, parts, _) in ledger.items():
            if n != parts:
                raise RuntimeError(f"epoch {e}: verdicts don't partition arrivals")
        bled = {
            int(r["epoch"]): int(r["n_docs"])
            for r in read_table(spark, roots["bm25_stats"]).collect()
        }
        if bled != {e: na for e, (_, _, na) in ledger.items()}:
            raise RuntimeError(
                f"BM25 ledger disagrees with the curation ledger: {bled}"
            )

        # ---- a keyword serve from the gate's artifacts must equal the
        # from-scratch recompute over the ACCEPTED corpus, bit for bit
        acc_docs = read_table(spark, roots["docs"]).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("text").cast("string").alias("text"),
        ).localCheckpoint(eager=False)
        qk = _keyword_probe(docs)
        sroots = {"postings": roots["postings"], "stats": roots["bm25_stats"]}
        served = _served_scores(
            spark, sroots, qk.withColumn("w", F.lit(1.0)), "bm25_e9"
        ).localCheckpoint()
        want = _bm25_scores(
            _bm25_corpus(acc_docs), qk.withColumn("w", F.lit(1.0)), "bm25_e9"
        )
        _assert_bit_parity(served, want, "bm25_e9")

        # ---- a full stream replay is a no-op on EVERY standing table
        vers = {
            n: current_manifest(roots[n])["version"]
            for n in names + ("bands",)
            if n != "quarantine" or current_manifest(roots[n])["partitions"]
        }
        # replay reuses the first run's epoch files byte-for-byte (the
        # split is deterministic) — re-deriving them re-ran the 3
        # filter+coalesce jobs over the docs⋈embeddings train frame for
        # identical rows (guide §1.2: don't recompute what you have)
        _run_stream(os.path.join(tmp, "replay"), copy_from=tmp)
        after = {n: current_manifest(roots[n])["version"] for n in vers}
        if after != vers:
            raise RuntimeError(
                f"stream replay committed new versions: {vers} -> {after}"
            )

        # ---- the driver-hashed output: verdicts + all four artifacts
        zl = F.lit(0).cast("bigint")
        verd = read_table(spark, roots["verdicts"]).select(
            F.lit("verdict").alias("kind"),
            F.col("epoch").cast("int").alias("epoch"),
            F.col("doc_id").cast("bigint").alias("k"),
            F.col("verdict").cast("string").alias("s"),
            zl.alias("v1"),
            zl.alias("v2"),
        )
        post = (
            read_table(spark, roots["postings"])
            .groupBy(
                F.col("epoch").cast("int").alias("epoch"),
                F.col("tok_bucket").cast("bigint").alias("k"),
            )
            .agg(
                F.count("*").alias("v1"),
                F.sum(
                    md5_bucket16(F.col("tok").cast("string")).cast("bigint")
                    * F.col("tf").cast("long")
                ).alias("v2"),
            )
            .select(
                F.lit("postings").alias("kind"), "epoch", "k",
                F.lit("").alias("s"), "v1", "v2",
            )
        )
        fwd = (
            read_table(spark, roots["forward"])
            .groupBy(
                F.col("epoch").cast("int").alias("epoch"),
                F.col("doc_bucket").cast("bigint").alias("k"),
            )
            .agg(
                F.count("*").alias("v1"),
                F.sum(
                    F.col("tf").cast("long") * F.col("doc_id").cast("long")
                ).alias("v2"),
            )
            .select(
                F.lit("forward").alias("kind"), "epoch", "k",
                F.lit("").alias("s"), "v1", "v2",
            )
        )
        led = read_table(spark, roots["bm25_stats"]).select(
            F.lit("bm25_ledger").alias("kind"),
            F.col("epoch").cast("int").alias("epoch"),
            F.col("n_docs").cast("bigint").alias("k"),
            F.lit("").alias("s"),
            F.col("len_sum").cast("bigint").alias("v1"),
            zl.alias("v2"),
        )
        ann = (
            read_table(spark, roots["ann"])
            .groupBy(
                F.col("epoch").cast("int").alias("epoch"),
                F.pmod(F.col("centroid_id").cast("long"), F.lit(16))
                .cast("bigint")
                .alias("k"),
            )
            .agg(
                F.count("*").alias("v1"),
                F.sum(
                    F.col("vec_id").cast("long") * F.col("centroid_id").cast("long")
                ).alias("v2"),
            )
            .select(
                F.lit("ann").alias("kind"), "epoch", "k",
                F.lit("").alias("s"), "v1", "v2",
            )
        )
        out = (
            verd.unionByName(post)
            .unionByName(fwd)
            .unionByName(led)
            .unionByName(ann)
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# Round 14 (VERDICT r13 #5): the END-TO-END LIFECYCLE DRILL — ingest →
# serve → takedown → ingest more → re-serve, under the CONTINUOUS
# regime.  L39 proves the searchable gate and L40 proves delete
# propagation, each alone; this composes them the way a production
# corpus actually lives: epochs 0 and 1 stream through the searchable
# curation gate, a takedown then deletes a deterministic slice of the
# accepted docs from EVERY standing table (docs, near-dup sigs/bands,
# postings, forward, ANN, ledger correction LAST), and epoch 2 resumes
# THE SAME stream (same checkpoint — the crash/restart story), probing
# the SHRUNK near-dup index, so its verdicts interleave with the
# delete.  Both serves then read the post-delete, post-epoch-2
# artifacts.  The oracle replays all of it in SQL: every verdict
# across the 3 epochs with the index evolving as
# (accepted₀ ∪ accepted₁) − deleted for epoch 2, the final BM25
# keyword serve over the reduced corpus, and the ANN cell-probe serve
# over the reduced index.
# --------------------------------------------------------------------------

_LC_DEL_MOD = 17     # takedown set: accepted e0/e1 docs with doc_id%17==5
_LC_DEL_REM = 5


def _lifecycle_oracle() -> str:
    from ..operators.similarity import (
        _SQL_NORM,
        _SQL_QVEC,
        _sql_cos,
        _sql_ivf_cents,
        _sql_ivf_params,
        _sql_probe_cells,
        _sql_served_nprobe,
        _sql_probe_topk,
        _sql_two_level,
    )
    from ..operators.textops import _sql_bm25_corpus, _sql_bm25_scores

    del_pred = f"doc_id % {_LC_DEL_MOD} = {_LC_DEL_REM}"
    qcos = _sql_cos("p.pqv", "a.qv", "p.pnrm", "a.nrm")

    sql = f"""{_curation_ctes(idx2_where=f"WHERE NOT ({del_pred})")},
corp AS (
  SELECT doc_id FROM idx2 UNION SELECT doc_id FROM a2
),
cd AS (
  SELECT t.doc_id, t.ws FROM tr t JOIN corp c ON c.doc_id = t.doc_id
),
{_sql_bm25_corpus("cd", "_c")},
qk AS (
  SELECT CAST(0 AS BIGINT) AS pid, tok FROM (
    SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE doc_id < 5
  ) ORDER BY tok LIMIT 3
),
bsc AS ({_sql_bm25_scores("qk", "e9", "_c")}),
bmtop AS (
  {_sql_probe_topk("bsc", 5, "pid", "e9", "id", cols="pid, id, rn, e9")}
),
n2 AS (
  SELECT vec_id, qv, {_SQL_NORM.format(a='qv')} AS nrm
  FROM (
    SELECT e.vec_id, {_SQL_QVEC.format(e='e.embedding')} AS qv
    FROM embeddings e JOIN tr t ON t.doc_id = e.vec_id
  )
),
nb AS (SELECT * FROM n2 WHERE vec_id % 10 = 0),
{_sql_ivf_params('nb')},
{_sql_ivf_cents('nb')},
av AS (SELECT n2.* FROM n2 JOIN corp c ON c.doc_id = n2.vec_id),
{_sql_two_level('cents', 'asg', 'av')},
probes AS (SELECT vec_id AS pid, qv AS pqv, nrm AS pnrm FROM n2 WHERE vec_id < 10),
{_sql_probe_cells('probes', 'pid', 'cents', _sql_served_nprobe('cents'))},
anntop AS (
  SELECT pid, vec_id, rn, CAST(FLOOR(qsim * 1e9) AS BIGINT) AS e9 FROM (
    SELECT pc.pid, a.vec_id, {qcos} AS qsim,
           ROW_NUMBER() OVER (
             PARTITION BY pc.pid ORDER BY {qcos} DESC, a.vec_id
           ) AS rn
    FROM pcell pc
    JOIN asg a ON a.centroid_id = pc.centroid_id AND a.vec_id <> pc.pid
    JOIN probes p ON p.pid = pc.pid
  ) WHERE rn <= 5
)
SELECT 'verdict' AS kind, CAST(epoch AS BIGINT) AS a,
       CAST(doc_id AS BIGINT) AS b, verdict AS s,
       CAST(0 AS BIGINT) AS v1, CAST(0 AS BIGINT) AS v2
FROM ({_VERDICT_UNION})
UNION ALL
SELECT 'bm25', pid, CAST(rn AS BIGINT), '', CAST(id AS BIGINT), e9 FROM bmtop
UNION ALL
SELECT 'ann', pid, CAST(rn AS BIGINT), '', CAST(vec_id AS BIGINT), e9 FROM anntop
"""
    return sql_materialize(sql, ("corp", "cd", "tok_c", "qk", "n2", "nb"))


@register(
    "retrieval_lifecycle_audit",
    oracle=_lifecycle_oracle(),
    tags=(
        "streaming", "pipeline", "dedup", "decontamination", "llm",
        "acid", "real-stream", "rag", "ann", "lakehouse",
    ),
    doc=(
        "Round 14 lifecycle drill (VERDICT r13 #5): epochs 0-1 of the "
        "train slice stream through the SEARCHABLE curation gate, a "
        "takedown then deletes the accepted docs with doc_id%17==5 "
        "from EVERY standing table under one maintenance txid (docs, "
        "near-dup sigs/bands, postings, forward, ANN; stats-ledger "
        "correction LAST), and epoch 2 RESUMES the same stream off the "
        "same checkpoint, probing the shrunk near-dup index.  Returns "
        "all per-doc verdicts plus the post-everything BM25 keyword "
        "serve and ANN cell-probe serve.  Oracle = full SQL replay of "
        "the 3-epoch verdict evolution with the mid-stream delete, "
        "both final serves included.  Harness asserts: deleted docs "
        "absent from both serves, untouched buckets dir-verbatim "
        "across the takedown, and both the delete txid AND a full "
        "stream replay are no-ops on every standing table."
    ),
)
def retrieval_lifecycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import time as _time

    from ..io.acid_table import (
        _part_values,
        current_manifest,
        delete_rows,
        read_table,
        replace_partitions,
    )
    from ..operators._helpers import md5_bucket16
    from ..operators.retrieval_delete import propagate_retrieval_delete
    from ..operators.retrieval_served import _cell_bucket, _probe_index, cell_layout
    from ..operators.similarity import (
        _dot,
        _ivf_cents,
        _probe_topk,
        _qvec,
        _two_level_assign,
        served_nprobe,
    )
    from .bm25_ingest import _keyword_probe, _served_scores
    from .core import write_stream_curation_gate
    from .windows import _eval_index_split, _run_gate

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", _qvec("embedding").alias("qv"))
        .select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    )
    tmp = tempfile.mkdtemp(prefix="lifecycle_")
    try:
        names = (
            "eval", "sigs", "docs", "quarantine", "verdicts", "stats",
            "postings", "forward", "bm25_stats", "cents", "ann",
        )
        roots = {n: os.path.join(tmp, n) for n in names}
        roots["bands"] = roots["sigs"] + "_bands"
        train = (
            _eval_index_split(docs, roots["eval"])
            .join(emb, docs["doc_id"] == emb["vec_id"], "left")
            .select("doc_id", "text", "qv", "nrm")
        )
        nvt = train.filter(F.col("qv").isNotNull()).select(
            F.col("doc_id").alias("vec_id"), "qv", "nrm"
        )
        cents = _ivf_cents(
            nvt.filter(F.pmod("vec_id", F.lit(10)) == 0)
        ).localCheckpoint()
        n_cells = cents.count()
        replace_partitions(
            cents.withColumn("b", F.pmod("centroid_id", F.lit(4))),
            roots["cents"], ["b"], "cents-build",
        )
        search_roots = {
            k: roots[k] for k in ("postings", "forward", "bm25_stats", "cents", "ann")
        }

        # ---- the ORDERED file-source stream, fed epoch by epoch so the
        # takedown can land between epochs; ONE checkpoint across runs
        # (the restart story — batch ids, hence epoch txids, continue)
        src_dir = os.path.join(tmp, "src")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(src_dir)
        part_files = []
        now = _time.time()
        for e in range(3):
            part_dir = os.path.join(tmp, f"part{e}")
            train.filter(F.pmod("doc_id", F.lit(3)) == e).coalesce(1).write.parquet(
                part_dir
            )
            part_files.append(
                next(
                    os.path.join(part_dir, f)
                    for f in os.listdir(part_dir)
                    if f.endswith(".parquet")
                )
            )

        def _feed(e: int) -> None:
            dst = os.path.join(src_dir, f"e{e}.parquet")
            shutil.copy(part_files[e], dst)
            os.utime(dst, (now + 30 * e, now + 30 * e))

        def _run_stream() -> None:
            sdf = (
                spark.readStream.schema(train.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src_dir)
            )
            _run_gate(spark, lambda ck: write_stream_curation_gate(
                sdf, roots["eval"], roots["sigs"], roots["docs"],
                roots["quarantine"], roots["verdicts"], roots["stats"],
                checkpoint=ck, bands_root=roots["bands"],
                search_roots=search_roots,
            ), checkpoint=ckpt)

        _feed(0)
        _feed(1)
        _run_stream()

        # ---- the TAKEDOWN, between epochs: deterministic slice of the
        # so-far-accepted corpus, deleted from EVERY standing table
        del_ids = sorted(
            int(r["doc_id"])
            for r in read_table(spark, roots["docs"])
            .filter(F.pmod(F.col("doc_id").cast("long"), F.lit(_LC_DEL_MOD))
                    == _LC_DEL_REM)
            .select("doc_id")
            .collect()
        )
        if not del_ids:
            raise RuntimeError("lifecycle takedown selected no docs — fixture drifted")
        txid = "maint-takedown-1"
        cellb = cell_layout(roots["ann"])
        cell_buckets = {
            str(r["b"])
            for r in _two_level_assign(
                nvt.filter(F.col("vec_id").isin(del_ids)), cents
            ).select(_cell_bucket(F.col("centroid_id"), cellb).alias("b"))
            .distinct()
            .collect()
        }
        man_pre = {
            nm: current_manifest(roots[nm])["partitions"]
            for nm in ("postings", "forward", "ann")
        }
        cond = F.col("doc_id").cast("long").isin(del_ids)
        # curation-side tables first (corpus + the near-dup index mirror
        # — epoch 2's screen must not judge against deleted docs) ...
        delete_rows(
            spark, roots["docs"], partition_cols=["epoch"],
            condition=cond, txid=txid,
            partition_filter=lambda kv: kv["epoch"] in {"0", "1"},
        )
        sig_buckets = {str(i % 8) for i in del_ids}
        delete_rows(
            spark, roots["sigs"], partition_cols=["sb"],
            condition=cond, txid=txid,
            partition_filter=lambda kv: kv["sb"] in sig_buckets,
        )
        delete_rows(
            spark, roots["bands"], partition_cols=["bj"],
            condition=cond, txid=txid,
        )
        # ... then the retrieval artifacts, ledger correction LAST
        propagate_retrieval_delete(
            spark,
            {
                "postings": roots["postings"],
                "forward": roots["forward"],
                "stats": roots["bm25_stats"],
            },
            del_ids, txid,
            ann_root=roots["ann"], del_cell_buckets=cell_buckets,
        )
        # untouched buckets stayed directory-verbatim across the takedown
        # (the touched token buckets are recomputable from the deleted
        # docs' texts — the fixture still has them)
        from ..io.layout import read_table_config

        tokb = int(read_table_config(roots["postings"])["tok_buckets"])
        touched_tok = {
            str(r["b"])
            for r in docs.filter(F.col("doc_id").isin(del_ids))
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .distinct()
            .select(F.pmod(md5_bucket16("tok"), F.lit(tokb)).alias("b"))
            .distinct()
            .collect()
        }
        fwdb = int(read_table_config(roots["forward"])["fwd_buckets"])
        touched_fwd = {str(i % fwdb) for i in del_ids}
        for nm, col, tset in (
            ("postings", "tok_bucket", touched_tok),
            ("forward", "doc_bucket", touched_fwd),
            ("ann", "cell_bucket", cell_buckets),
        ):
            post_man = current_manifest(roots[nm])["partitions"]
            for pkey, dirs in man_pre[nm].items():
                kv = _part_values(pkey)
                if kv[col] not in tset and post_man.get(pkey) != dirs:
                    raise RuntimeError(
                        f"untouched {nm} bucket {pkey} was rewritten by the takedown"
                    )

        # ---- epoch 2 resumes the SAME stream off the SAME checkpoint
        _feed(2)
        _run_stream()

        # ---- replays: the delete txid AND the full stream are no-ops
        all_roots = {n: roots[n] for n in names + ("bands",)}
        vers = {
            n: current_manifest(r)["version"]
            for n, r in all_roots.items()
            if current_manifest(r)["partitions"]
        }
        propagate_retrieval_delete(
            spark,
            {
                "postings": roots["postings"],
                "forward": roots["forward"],
                "stats": roots["bm25_stats"],
            },
            del_ids, txid,
            ann_root=roots["ann"], del_cell_buckets=cell_buckets,
        )
        shutil.rmtree(ckpt)  # fresh engine state; table txids carry exactly-once
        _run_stream()
        after = {n: current_manifest(all_roots[n])["version"] for n in vers}
        if after != vers:
            raise RuntimeError(
                f"lifecycle replay committed new versions: {vers} -> {after}"
            )

        # ---- final serves off the standing artifacts
        qk = _keyword_probe(docs)
        sroots = {"postings": roots["postings"], "stats": roots["bm25_stats"]}
        bsc = _served_scores(
            spark, sroots, qk.withColumn("w", F.lit(1.0)), "bm25_e9"
        ).localCheckpoint()
        if bsc.filter(F.col("id").isin(del_ids)).count():
            raise RuntimeError("a deleted doc is still serveable from BM25")
        bmtop = _probe_topk(bsc, 5, "pid", "bm25_e9", "id")
        probes = nvt.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("pid"),
            F.col("qv").alias("pqv"),
            F.col("nrm").alias("pnrm"),
        ).localCheckpoint()
        _, top = _probe_index(
            spark, roots["ann"], cents, probes, served_nprobe(n_cells), 5, "pid"
        )
        anntop = top.select(
            "pid", "rn", "vec_id",
            F.floor(F.col("qsim") * F.lit(1e9)).cast("bigint").alias("e9"),
        ).localCheckpoint()
        if anntop.filter(F.col("vec_id").isin(del_ids)).count():
            raise RuntimeError("a deleted vector is still serveable from ANN")

        zl = F.lit(0).cast("bigint")
        verd = read_table(spark, roots["verdicts"]).select(
            F.lit("verdict").alias("kind"),
            F.col("epoch").cast("bigint").alias("a"),
            F.col("doc_id").cast("bigint").alias("b"),
            F.col("verdict").cast("string").alias("s"),
            zl.alias("v1"),
            zl.alias("v2"),
        )
        out = (
            verd.unionByName(
                bmtop.select(
                    F.lit("bm25").alias("kind"),
                    F.col("pid").cast("bigint").alias("a"),
                    F.col("rn").cast("bigint").alias("b"),
                    F.lit("").alias("s"),
                    F.col("id").cast("bigint").alias("v1"),
                    F.col("bm25_e9").cast("bigint").alias("v2"),
                )
            )
            .unionByName(
                anntop.select(
                    F.lit("ann").alias("kind"),
                    F.col("pid").cast("bigint").alias("a"),
                    F.col("rn").cast("bigint").alias("b"),
                    F.lit("").alias("s"),
                    F.col("vec_id").cast("bigint").alias("v1"),
                    F.col("e9").cast("bigint").alias("v2"),
                )
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
