"""ANN-SERVED retrieval pools (round 12, VERDICT r11 #2): MMR and
hybrid-RRF candidate generation from the standing bucketed ANN index
instead of exact broadcast corpus scans.

The round-11 retrieval family's vector legs scan the whole corpus per
probe (``similarity.py::_rrf_fused``, ``mmr_diversified_topk``) —
corpus-linear per query.  The serving path a 100 TB corpus needs is the
one ``ann_index_bucket_probe`` proves: assign the corpus ONCE to a
hash-seeded IVF quantizer, lay the index out by cell bucket, and let a
probe read only its nprobe cells' buckets (manifest-pruned,
harness-audited).  Here that pool — exact cosine re-rank over the
probed cells' candidates, raw vectors stored per cell for the re-rank —
feeds the UNCHANGED downstream logic:

- ``mmr_diversified_topk_served`` — the shared greedy loop
  (``_mmr_greedy`` / ``_sql_mmr_steps``) over the ANN-served pool.
- ``hybrid_rrf_retrieval_served`` — RRF fusion of the ANN-served
  vector leg with the lexical leg read from the STANDING postings
  index (``streaming/bm25_ingest``), token-bucket-pruned.
- ``hybrid_served_recall_check`` — the quality gate: retention of the
  exact-scan hybrid top-5 by the served top-5, recall_e4 PINNED by the
  driver hash (either approximation drifting fails the gate).

Every query is FULLY oracle-replayed: the quantizer is hash-seeded and
trained on the deterministic ``vec_id % 10 = 0`` bootstrap slice, so a
probe's candidate pool is a pure function of the corpus — DuckDB
replays training, assignment, cell probing, pool ranking, the greedy /
fusion logic, and the final ranking exactly.

Scale shape: index build is the one-time corpus pass (its streamed
maintenance is ``stream_ann_index_ingest``); a served query reads
≤ nprobe cell buckets (vector leg) + its terms' token buckets (lexical
leg) — probe-local, independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.tables import table
from ..registry import register
from .similarity import (
    _MMR_K,
    _MMR_POOL,
    _MMR_PROBES,
    _RRF_POOL,
    _SQL_HYBRID_VIEW,
    _SQL_N,
    _cosine,
    _dot,
    _hybrid_view,
    _ivf_cents,
    _lexical_leg,
    _mmr_greedy,
    _probe_tokens,
    _probe_topk,
    _qvec,
    _retention,
    _rrf_fuse,
    _rrf_fused,
    _sql_cos,
    _sql_ivf_cents,
    _sql_ivf_params,
    _sql_lexical_leg,
    _sql_mmr_steps,
    _sql_probe_cells,
    _sql_probe_topk,
    _sql_retention,
    _sql_rrf_core,
    _sql_rrf_fuse,
    _sql_served_nprobe,
    _sql_two_level,
    _sql_vector_leg,
    _top_cells,
    _two_level_assign,
    _vector_leg,
    served_nprobe,
)
from .textops import _sql_chunks, chunk_array

# CREATION-TIME default for the served ANN index's physical partition
# key.  Round 13: hash-mixed and widened 16 → 64 after the quality-curve
# sweep showed `centroid_id % 16` inheriting the fixtures' embedding-id
# parity (only even buckets populated → the per-probe partition prune
# capped at half the granularity it should have).  md5-mixing kills
# id-structure skew.  Round 14 (VERDICT r13 #1): the count a table was
# WRITTEN with is persisted in its _config.json (io/layout.py) and every
# reader/delete derives it from the table; this constant only seeds a
# brand-new index.  Physical only — no oracle hashes the layout; the
# pruning audits assert against whatever the table records.
_CELL_BUCKETS = 64

# Corpus scaling for new indexes: ≈ this many IVF cells per bucket, so
# the per-probe prune fraction (nprobe / buckets) keeps shrinking as
# K ∝ corpus grows instead of saturating at 64 dirs.
_CELLS_PER_BUCKET = 16


def cell_layout(index_root: str, n_cells: int | None = None) -> int:
    """Resolve (and on first write persist) an ANN index's cell-bucket
    count.  A creator passes ``n_cells`` (the trained quantizer's K) to
    get the corpus-scaled count; readers/deletes omit it and the
    persisted record is REQUIRED (guessing prunes the wrong dirs)."""
    from ..io.layout import pow2_buckets, read_table_config, table_config

    if n_cells is None:
        return int(read_table_config(index_root)["cell_buckets"])
    want = pow2_buckets(int(n_cells), _CELLS_PER_BUCKET, lo=_CELL_BUCKETS)
    return int(table_config(index_root, {"cell_buckets": want})["cell_buckets"])


def _cell_bucket(col, n_buckets: int = _CELL_BUCKETS):
    """The one physical bucket function every served-ANN writer and
    reader shares (writer layout, reader partition_filter, audits) —
    split it and the manifest prune silently reads the wrong dirs.
    ``n_buckets`` must be the TABLE's persisted count (``cell_layout``)
    for any standing-table use."""
    from ._helpers import md5_bucket16

    return F.pmod(md5_bucket16(col), F.lit(int(n_buckets)))


def _sql_served_pool(
    src: str, probes: str, pid: str, pool: int, out: str = "cand"
) -> str:
    """CTE chain (nb → params/cents → asg → pcell → ``{out}``): the
    ANN-served candidate pool — bootstrap-trained quantizer, two-level
    assignment of the whole corpus, top-``served_nprobe(K)`` cells per
    probe, exact cosine re-rank of the probed cells' members.
    ``{src}`` must expose (vec_id, qv, nrm), ``{probes}``
    ({pid}, pqv, pnrm)."""
    qcos = _sql_cos("p.pqv", "a.qv", "p.pnrm", "a.nrm")
    return f"""nb AS MATERIALIZED (SELECT * FROM {src} WHERE vec_id % 10 = 0),
{_sql_ivf_params('nb')},
{_sql_ivf_cents('nb')},
{_sql_two_level('cents', 'asg', src)},
{_sql_probe_cells(probes, pid, 'cents', _sql_served_nprobe('cents'))},
{out} AS MATERIALIZED (
  SELECT {pid}, vec_id, qv, nrm, qsim FROM (
    SELECT pc.{pid}, a.vec_id, a.qv, a.nrm, {qcos} AS qsim,
           ROW_NUMBER() OVER (
             PARTITION BY pc.{pid} ORDER BY {qcos} DESC, a.vec_id
           ) AS rn
    FROM pcell pc
    JOIN asg a ON a.centroid_id = pc.centroid_id AND a.vec_id <> pc.{pid}
    JOIN {probes} p ON p.{pid} = pc.{pid}
  ) WHERE rn <= {pool}
)"""


def _build_ann_index(spark: SparkSession, nv: DataFrame, index_root: str):
    """Build the standing cell-bucketed ANN index once (raw vectors per
    cell for exact re-rank) and return the broadcastable centroid frame.
    Idempotent: an existing committed index at ``index_root`` is reused
    (the sweep/serve split — build is the one-time corpus pass)."""
    import os

    from ..io.acid_table import replace_partitions

    boot = nv.filter(F.pmod("vec_id", F.lit(10)) == 0)
    cents = _ivf_cents(boot).localCheckpoint(eager=False)
    if not os.path.isdir(os.path.join(index_root, "_manifests")):
        from ..io.layout import align_bucketed_write, write_parts

        cellb = cell_layout(index_root, n_cells=cents.count())
        idx_rows = _two_level_assign(nv, cents).select(
            "vec_id", "centroid_id", "qv", "nrm"
        ).withColumn("cell_bucket", _cell_bucket(F.col("centroid_id"), cellb))
        # one file per cell bucket (± size splits), not one per
        # (task × bucket) — vectors are wide rows, so cap files at
        # ~250k rows each.  n ≈ K · 125 by the quantizer's construction
        # (one centroid per ~125 vectors), so the estimate costs no
        # extra corpus pass.
        idx_rows = align_bucketed_write(
            idx_rows, ["cell_bucket"], ["centroid_id", "vec_id"],
            write_parts(cents.count() * 125, cellb, rows_per_file=250_000),
            n_buckets=cellb,
        )
        replace_partitions(idx_rows, index_root, ["cell_bucket"], "bulk-load")
    return cents


def _probe_index(
    spark: SparkSession,
    index_root: str,
    cents: DataFrame,
    probes: DataFrame,
    nprobe: int,
    k: int,
    pid: str = "probe_id",
) -> tuple[DataFrame, DataFrame]:
    """One served probe of the standing cell-bucketed index at
    ``index_root``: each probe of ``probes`` ({pid}, pqv, pnrm) ranks
    the quantizer ``cents``, keeps its top-``nprobe`` cells (``cells``,
    checkpointed), reads ONLY those cells' buckets through the manifest
    prune, and re-ranks their members by exact cosine.  Returns
    ``(cells, top)``: top is ({pid}, vec_id, qv, nrm, qsim, rn), ≤ ``k``
    rows per probe, not yet materialized."""
    from ..io.acid_table import read_table

    cells = _top_cells(
        cents.drop("stride", "cstride")
        .crossJoin(F.broadcast(probes))
        .select(
            pid,
            "centroid_id",
            _cosine(
                _dot(F.col("pqv"), F.col("cqv")), F.col("pnrm"), F.col("cnrm")
            ).alias("c_sim"),
        ),
        nprobe,
        pid,
    ).localCheckpoint()
    cellb = cell_layout(index_root)  # the persisted layout, never a guess
    allowed = {
        str(r["b"])
        for r in cells.select(_cell_bucket(F.col("centroid_id"), cellb).alias("b"))
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
        F.col("qv").cast("array<bigint>").alias("qv"),
        F.col("nrm").cast("long").alias("nrm"),
    )
    scored = (
        F.broadcast(probes)
        .join(cells, pid)
        .join(idx, "centroid_id")
        .filter(F.col("vec_id") != F.col(pid))
        .select(
            pid,
            "vec_id",
            "qv",
            "nrm",
            _cosine(
                _dot(F.col("pqv"), F.col("qv")), F.col("pnrm"), F.col("nrm")
            ).alias("qsim"),
        )
    )
    return cells, _probe_topk(scored, k, pid, score="qsim", nid="vec_id")


def _ann_candidate_pool(
    spark: SparkSession,
    nv: DataFrame,
    probes: DataFrame,
    pool: int,
    tmp: str,
    nprobe: int | None = None,
) -> DataFrame:
    """Spark twin of :func:`_sql_served_pool`: build the standing
    bucketed index once (raw vectors per cell for exact re-rank), probe
    each query's top-``nprobe`` cells through the MANIFEST-PRUNED
    read (single-probe pruning audited), return the exact-re-ranked
    pool (probe_id, vec_id, qv, nrm, qsim), ≤ ``pool`` per probe."""
    import os

    from ..io.acid_table import _part_values, current_manifest

    index_root = os.path.join(tmp, "ann_index")
    cents = _build_ann_index(spark, nv, index_root)
    if nprobe is None:
        # adaptive probe width (VERDICT r13 #2): a pinned CELL FRACTION
        # of the quantizer, floored at the small-K operating point —
        # the oracles replay the same rule from their cents CTE
        nprobe = served_nprobe(cents.count())

    probe_cells, pool_rows = _probe_index(
        spark, index_root, cents, probes, nprobe, pool
    )
    # single-probe pruning audit (the ann_index_bucket_probe convention)
    cellb = cell_layout(index_root)
    one = probe_cells.orderBy("probe_id").limit(nprobe)
    one_buckets = {
        str(r["b"])
        for r in one.select(
            _cell_bucket(F.col("centroid_id"), cellb).alias("b")
        ).collect()
    }
    all_parts = list(current_manifest(index_root)["partitions"])
    one_parts = [
        p for p in all_parts
        if _part_values(p)["cell_bucket"]
        in one_buckets
    ]
    # Reachable tripwires: the per-probe cell fan-out grew past nprobe
    # (a crn-filter regression), or the index degenerated to a single
    # partition so bucket pruning is vacuous (a bucket-count
    # regression) — either breaks the ≤ nprobe-buckets serving claim.
    if len(one_parts) > nprobe or len(all_parts) <= 1:
        raise RuntimeError(
            f"cell-bucket pruning ineffective: one probe touches "
            f"{len(one_parts)} of {len(all_parts)} partitions"
        )
    return pool_rows.drop("rn").localCheckpoint()


# --------------------------------------------------------------------------
# MMR over the ANN-served pool
# --------------------------------------------------------------------------


def _sql_mmr_served() -> str:
    unions = "\nUNION ALL ".join(
        f"SELECT probe_id, vec_id AS neighbor_id, {k} AS step, mmr AS mmr_score FROM s{k}"
        for k in range(1, _MMR_K + 1)
    )
    return f"""
WITH n AS MATERIALIZED (
  {_SQL_N}
),
probes AS (
  SELECT vec_id AS probe_id, qv AS pqv, nrm AS pnrm FROM n
  WHERE vec_id < {_MMR_PROBES}
),
{_sql_served_pool('n', 'probes', 'probe_id', _MMR_POOL)},
{_sql_mmr_steps()}
{unions}
"""


@register(
    "mmr_diversified_topk_served",
    oracle=_sql_mmr_served(),
    tags=("similarity", "llm", "topk", "iterative", "ann", "acid"),
    doc=(
        "L3 SERVED: MMR diversification whose relevance pool comes "
        "from the standing bucketed ANN index (nprobe cells read, "
        "pruning audited, exact re-rank inside the cells) instead of "
        "an exact corpus scan; the greedy loop is the SHARED "
        "``_mmr_greedy`` chain.  Fully oracle-replayed — training, "
        "assignment, probing, pool and all 5 greedy steps."
    ),
)
def mmr_diversified_topk_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    nv = emb.select(
        "vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm")
    )
    probes = nv.filter(F.col("vec_id") < _MMR_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qv").alias("pqv"),
        F.col("nrm").alias("pnrm"),
    )
    tmp = tempfile.mkdtemp(prefix="mmrserve_")
    try:
        cand = _ann_candidate_pool(spark, nv, probes, _MMR_POOL, tmp)
        out = _mmr_greedy(cand).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# hybrid RRF with both legs served from standing artifacts
# --------------------------------------------------------------------------


def _sql_rrf_served_chain() -> str:
    """Served-vector-leg CTE chain over the in-scope ``n``/``probes``
    of ``_sql_rrf_core`` (which also supplies the lexical ``lrank``):
    svnv → pool ``svcand`` → ``svvrank`` → ``svfused``.  Emitted
    alongside the exact core so the recall gate can rank both."""
    pool = _sql_served_pool("svnv", "probes", "pid", _RRF_POOL, out="svcand")
    vrank = _sql_probe_topk(
        "(SELECT pid, vec_id AS id, qsim FROM svcand)", _RRF_POOL,
        "pid", "qsim", "id", "vr", "pid, id, vr",
    )
    return f"""svnv AS MATERIALIZED (SELECT id AS vec_id, qv, nrm FROM n),
{pool},
svvrank AS (
  {vrank}
),
svfused AS (
  {_sql_rrf_fuse('svvrank', 'lrank')}
)"""


def _sql_rrf_served() -> str:
    top = _sql_probe_topk(
        "svfused", 5, "pid", "rrf", "id",
        cols="pid AS probe_id, id AS doc_id, rn, rrf AS rrf_score",
    )
    return f"""{_sql_rrf_core()},
{_sql_rrf_served_chain()}
{top}"""


def _rrf_served_fused(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    pool: int = _RRF_POOL,
    tmp: str | None = None,
    view=None,
) -> DataFrame:
    """The served fused hybrid ranking (pid, id, vr, rrf) over ``view``
    (as in ``_rrf_fused``): vector leg from the standing ANN index
    pool, lexical leg from the standing token-bucketed postings — both
    manifest-pruned reads.  ``nprobe``/``pool`` parametrize the vector
    leg for the quality-curve sweep (``scripts/served_quality_curve.py``);
    pass a caller-managed ``tmp`` to reuse the standing indexes across
    sweep points (both builds are idempotent bulk-load txns)."""
    import os
    import shutil
    import tempfile

    from ..streaming.bm25_ingest import _build_standing_index, read_pruned_postings

    n, probes = view or _hybrid_view(spark, sf_dir)
    probes = probes.localCheckpoint()  # read by both legs
    nv = n.select(F.col("id").alias("vec_id"), "qv", "nrm")
    own_tmp = tmp is None
    tmp = tmp or tempfile.mkdtemp(prefix="rrfserve_")
    try:
        # VECTOR LEG: the ANN-served pool, exact-re-ranked
        cand = _ann_candidate_pool(
            spark, nv, probes.withColumnRenamed("pid", "probe_id").drop("pws"),
            pool, tmp, nprobe=nprobe,
        )
        vrank = _probe_topk(
            cand.select(F.col("probe_id").alias("pid"), F.col("vec_id").alias("id"), "qsim"),
            pool, "pid", "qsim", "id", "vr",
        ).select("pid", "id", "vr")
        # LEXICAL LEG: the standing postings, token-bucket-pruned.
        # Only the postings table is served from here (the overlap leg
        # reads no forward index, tokstats, or ledger), so only it is
        # built (guide §1.2).
        post_roots = _build_standing_index(
            spark, sf_dir, os.path.join(tmp, "lex"), tables=("postings",)
        )
        ptok = _probe_tokens(probes).localCheckpoint()
        lex_toks = sorted(r["tok"] for r in ptok.select("tok").distinct().collect())
        post = read_pruned_postings(
            spark, post_roots["postings"], lex_toks
        ).select(
            F.col("doc_id").cast("long").alias("id"),
            F.col("tok").cast("string").alias("tok"),
        )
        # the vector corpus view: docs without embeddings never rank
        post = post.join(nv.select(F.col("vec_id").alias("id")), "id", "left_semi")
        fused = _rrf_fuse(vrank, _lexical_leg(ptok, post)).localCheckpoint()
    finally:
        if own_tmp:
            shutil.rmtree(tmp, ignore_errors=True)
    return fused


@register(
    "hybrid_rrf_retrieval_served",
    oracle=_sql_rrf_served(),
    tags=("similarity", "text", "llm", "topk", "ann", "acid"),
    doc=(
        "L32 SERVED: hybrid RRF whose vector leg probes the standing "
        "bucketed ANN index (nprobe cells, exact re-rank, pruning "
        "audited) and whose lexical leg reads the standing "
        "token-bucketed postings — per-query cost probe-local in both "
        "legs.  Fully oracle-replayed end to end."
    ),
)
def hybrid_rrf_retrieval_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _probe_topk(_rrf_served_fused(spark, sf_dir), 5, "pid", "rrf", "id").select(
        F.col("pid").alias("probe_id"),
        F.col("id").alias("doc_id"),
        "rn",
        F.col("rrf").alias("rrf_score"),
    )


def _sql_rrf_served_recall() -> str:
    return f"""{_sql_rrf_core()},
{_sql_rrf_served_chain()},
extop AS (
  {_sql_probe_topk('fused', 5, 'pid', 'rrf', 'id', cols='pid, id')}
),
svtop AS (
  {_sql_probe_topk('svfused', 5, 'pid', 'rrf', 'id', cols='pid, id')}
)
{_sql_retention('svtop', 'extop')}"""


@register(
    "hybrid_served_recall_check",
    oracle=_sql_rrf_served_recall(),
    tags=("similarity", "text", "llm", "quality-gate", "ann"),
    doc=(
        "L32 SERVED quality gate: retention of the exact-scan hybrid "
        "top-5 by the ANN-served hybrid top-5 (recall_e4).  The hash "
        "gate PINS the measured trade — the nprobe cell probing "
        "drifting (or the lexical leg diverging from the standing "
        "postings) fails the driver, the convention of "
        "hybrid_recall_check / pq_ann_recall_check."
    ),
)
def hybrid_served_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _hybrid_view(spark, sf_dir)
    return _retention(
        _probe_topk(_rrf_served_fused(spark, sf_dir, view=view), 5, "pid", "rrf", "id"),
        _probe_topk(_rrf_fused(spark, sf_dir, view), 5, "pid", "rrf", "id"),
    )


# --------------------------------------------------------------------------
# Round 12 (VERDICT r11 #5): the RAG flagship composed END-TO-END OVER
# CHUNKS in one lazy plan: chunk → standing chunk-postings index →
# hybrid retrieve (lexical leg from the index, vector leg over
# chunk-inherited embeddings) → MMR diversify (the shared greedy) →
# budgeted context pack.  rag_context_pack ranks whole docs; real RAG
# retrieves chunks — and because every chunk inherits its parent doc's
# embedding, MMR's redundancy penalty (same-doc chunk pairs have
# cosine 1.0) is precisely the "don't pack three windows of the same
# doc" rule a production packer needs.  Fully oracle-replayed:
# chunking, the inverted-index overlap leg, the cosine leg, RRF, all 5
# greedy steps, and the prefix pack.
# --------------------------------------------------------------------------

_RAGC_POOL = 10      # fused chunks entering the MMR pool per probe
_RAGC_BUDGET = 96    # context budget in tokens (3 full windows)
_RAGC_KEY = 1000     # chunk key = doc_id * _RAGC_KEY + chunk_idx


def _sql_rag_chunk_pipeline() -> str:
    owner = f"c.id // {_RAGC_KEY}"
    pool = _sql_probe_topk(
        "(SELECT f.pid, f.id, f.rrf, v.qv, v.nrm FROM fused f JOIN cvec v ON v.id = f.id)",
        _RAGC_POOL, "pid", "rrf", "id", cols="pid AS probe_id, id AS vec_id, qv, nrm, rn",
    )
    return f"""
WITH d AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
x AS (
  SELECT doc_id, generate_subscripts(cs, 1) - 1 AS k, unnest(cs) AS cws
  FROM (SELECT doc_id, {_sql_chunks("ws")} AS cs FROM d)
),
chunks AS MATERIALIZED (
  SELECT doc_id, CAST(k AS INT) AS chunk_idx, doc_id * {_RAGC_KEY} + k AS ck, cws
  FROM x
),
clen AS (SELECT ck, doc_id, chunk_idx, LEN(cws) AS len FROM chunks),
{_SQL_HYBRID_VIEW},
cvec AS MATERIALIZED (
  SELECT c.ck AS id, n.qv, n.nrm
  FROM clen c JOIN n ON n.id = c.doc_id
),
cktok AS (SELECT DISTINCT ck AS id, unnest(cws) AS tok FROM chunks),
lrank AS (
  {_sql_lexical_leg('cktok', owner)}
),
vrank AS (
  {_sql_vector_leg('probes', 'cvec', _RRF_POOL, owner)}
),
fused AS (
  {_sql_rrf_fuse('vrank', 'lrank')}
),
cand AS MATERIALIZED (
  SELECT probe_id, vec_id, qv, nrm,
         CAST(1.0 AS DOUBLE) - CAST(rn - 1 AS DOUBLE) / {_RAGC_POOL}.0 AS qsim
  FROM ({pool})
),
{_sql_mmr_steps()},
sel AS (
  {" UNION ALL ".join(f"SELECT probe_id, vec_id, {k} AS step FROM s{k}" for k in range(1, _MMR_K + 1))}
),
packed AS (
  SELECT s.probe_id, s.vec_id, s.step, c.len,
         SUM(c.len) OVER (
           PARTITION BY s.probe_id ORDER BY s.step
           ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM sel s JOIN clen c ON c.ck = s.vec_id
)
SELECT probe_id,
       CAST(vec_id // {_RAGC_KEY} AS BIGINT) AS doc_id,
       CAST(vec_id % {_RAGC_KEY} AS INT) AS chunk_idx,
       CAST(step AS INT) AS step,
       CAST(len AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM packed
WHERE cum_tokens <= {_RAGC_BUDGET}
"""


@register(
    "rag_chunk_pipeline",
    oracle=_sql_rag_chunk_pipeline(),
    tags=("similarity", "text", "llm", "rag", "topk", "iterative"),
    doc=(
        "L33/L32/L3 composed: documents chunked into 32-token windows "
        "(stride 24), a STANDING token-bucketed chunk-postings index "
        "serves the lexical overlap leg (pruned read), chunk-inherited "
        "embeddings serve the cosine leg, RRF fuses (rank-normalized "
        "to [1/pool, 1] so relevance and the cosine redundancy penalty "
        "are commensurate), the shared MMR greedy diversifies the "
        "top-10 pool (same-doc chunks repel at "
        "cosine 1.0), and the 96-token prefix pack assembles the "
        "context.  One lazy plan; fully oracle-replayed; funnel "
        "conservation harness-asserted."
    ),
)
def rag_chunk_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import replace_partitions
    from ..streaming.bm25_ingest import read_pruned_postings
    from ..streaming.core import bm25_index_batch_frames

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    chunks = docs.select(
        "doc_id", F.posexplode(chunk_array(F.col("ws"))).alias("k", "cws")
    ).select(
        "doc_id",
        F.col("k").cast("int").alias("chunk_idx"),
        (F.col("doc_id") * _RAGC_KEY + F.col("k")).alias("ck"),
        "cws",
    ).localCheckpoint(eager=False)
    clen = chunks.select("ck", "doc_id", "chunk_idx", F.size("cws").alias("len"))
    n, probes = _hybrid_view(spark, sf_dir)
    probes = probes.localCheckpoint()  # read by both legs
    cvec = clen.join(n, clen["doc_id"] == n["id"]).select(
        F.col("ck").alias("id"), "qv", "nrm"
    )
    owner = F.floor(F.col("id") / _RAGC_KEY)
    tmp = tempfile.mkdtemp(prefix="ragchunk_")
    try:
        # STANDING CHUNK-POSTINGS INDEX (token-bucketed, one bulk txn);
        # layout persisted at creation like every standing postings table
        post_root = os.path.join(tmp, "chunk_postings")
        from ..io.layout import table_config
        from ..streaming.core import _BM25_TOK_BUCKETS

        tokb = int(
            table_config(post_root, {"tok_buckets": _BM25_TOK_BUCKETS})[
                "tok_buckets"
            ]
        )
        fr = bm25_index_batch_frames(
            chunks.select(
                F.col("ck").alias("doc_id"), F.array_join("cws", " ").alias("text")
            ),
            tok_buckets=tokb,
        )
        # bucket-aligned, token-sorted files → per-file zone maps prune
        # the serve read (the _build_standing_index layout convention).
        # The previous range-partition on tok alone staged one file per
        # (task × bucket) — md5 buckets are uncorrelated with token
        # ranges, so every task wrote into every bucket — and evaluated
        # the chunk tokenize twice (range boundary sampling).
        from ..io.layout import align_bucketed_write, write_parts

        # Size the staged write by the CHUNK TOKEN MASS (ADVICE r14):
        # a fixed parts=tokb always takes the hash path, so files per
        # bucket would grow unbounded with the chunk corpus; write_parts
        # switches to intra-bucket range splits once files would exceed
        # the rows-per-file target — same rule as _build_standing_index.
        toks = chunks.agg(F.coalesce(F.sum(F.size("cws")), F.lit(0))).collect()[0][0]
        replace_partitions(
            align_bucketed_write(
                fr["postings"], ["tok_bucket"], ["tok"],
                write_parts(int(toks), tokb), n_buckets=tokb,
            ),
            post_root,
            ["tok_bucket"],
            "bulk-load",
        )
        # LEXICAL LEG from the standing index, pruned to probe-term buckets
        ptok = _probe_tokens(probes).localCheckpoint()
        lex_toks = sorted(r["tok"] for r in ptok.select("tok").distinct().collect())
        post = read_pruned_postings(spark, post_root, lex_toks).select(
            F.col("doc_id").cast("long").alias("id"),
            F.col("tok").cast("string").alias("tok"),
        )
        # fused with the VECTOR LEG over chunk-inherited embeddings
        fused = _rrf_fuse(
            _vector_leg(probes, cvec, _RRF_POOL, owner),
            _lexical_leg(ptok, post, owner),
        )
        # Rank-normalize the fused score into the MMR pool: raw RRF tops
        # out near 2/(k+1) ≈ 0.033 while the redundancy term is a cosine
        # on ~[-1,1], so feeding rrf straight into 0.7·qsim − 0.3·max_sim
        # would let dissimilarity dominate after step 1 (ADVICE r12).
        # qsim = 1 − (rn−1)/pool puts relevance on [1/pool, 1] — the two
        # objective terms are commensurate and the pool ORDER is exactly
        # the fused ranking.
        cand = (
            _probe_topk(fused.join(cvec, "id"), _RAGC_POOL, "pid", "rrf", "id")
            .select(
                F.col("pid").alias("probe_id"),
                F.col("id").alias("vec_id"),
                "qv",
                "nrm",
                (
                    F.lit(1.0)
                    - (F.col("rn") - F.lit(1)).cast("double")
                    / F.lit(float(_RAGC_POOL))
                ).alias("qsim"),
            )
            .localCheckpoint()
        )
        sel = _mmr_greedy(cand).select(
            "probe_id", F.col("neighbor_id").alias("vec_id"), "step"
        ).localCheckpoint()
        # FUNNEL CONSERVATION (the pretraining_corpus_build convention):
        # every stage's membership nests, counts are exact, and no
        # probe-doc chunk leaks through.
        n_probes = probes.count()
        if sel.count() != n_probes * _MMR_K:
            raise RuntimeError("MMR selected a wrong per-probe count")
        if sel.join(cand, ["probe_id", "vec_id"], "left_anti").count():
            raise RuntimeError("MMR selected a chunk outside its pool")
        if sel.filter(
            F.floor(F.col("vec_id") / _RAGC_KEY) == F.col("probe_id")
        ).count():
            raise RuntimeError("a probe's own chunk leaked into its context")
        wc = (
            Window.partitionBy("probe_id")
            .orderBy("step")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = (
            sel.join(clen.select("ck", "len"), sel["vec_id"] == clen["ck"])
            .withColumn("cum_tokens", F.sum("len").over(wc))
            .filter(F.col("cum_tokens") <= _RAGC_BUDGET)
            .select(
                "probe_id",
                F.floor(F.col("vec_id") / _RAGC_KEY).cast("bigint").alias("doc_id"),
                F.pmod("vec_id", F.lit(_RAGC_KEY)).cast("int").alias("chunk_idx"),
                F.col("step").cast("int").alias("step"),
                F.col("len").cast("bigint").alias("n_tokens"),
                F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
            )
            .localCheckpoint()
        )
        # every chunk (≤ 32 tokens) fits the 96-token budget, so step 1
        # always packs — EVERY probe must appear in the packed output
        if out.select("probe_id").distinct().count() != n_probes:
            raise RuntimeError("packing produced an empty context for a probe")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# Round 12: GRADED ranking-quality metrics — MRR and nDCG@10 of the
# hybrid fused ranking against the exact-cosine ground truth.  The
# recall gates (hybrid_recall_check & co.) count set overlap; offline
# retrieval evaluation needs POSITION-AWARE metrics, and a 100 TB
# curation loop runs them continuously to catch ranking regressions.
# Numeric design: each DCG position term rel·ln2/ln(r+1) is the same
# double op-sequence in both engines and is quantized FLOOR(·1e9)
# BEFORE the per-probe sum (the bigram_logprob_score convention), so
# every metric is an exact order-independent integer.
# --------------------------------------------------------------------------

_RANKM_K = 10


def _sql_rank_metrics_body(fused_cte: str) -> str:
    """The metric CTE chain (rk → truth → scored → idcg → select) over
    an in-scope ranking CTE ``{fused_cte}`` (pid, id, rrf) and the
    exact-cosine ``vrank`` — shared by the exact and served metric
    queries so the metric arithmetic cannot drift between them."""
    dcg_term = (
        "CAST(FLOOR(CAST(11 - t.vr AS DOUBLE) * LN(2.0)"
        " / LN(CAST(r.rn + 1 AS DOUBLE)) * 1e9) AS BIGINT)"
    )
    idcg_term = (
        "CAST(FLOOR(CAST(11 - vr AS DOUBLE) * LN(2.0)"
        " / LN(CAST(vr + 1 AS DOUBLE)) * 1e9) AS BIGINT)"
    )
    return f"""rk AS (
  {_sql_probe_topk(fused_cte, _RANKM_K, 'pid', 'rrf', 'id', cols='pid, id, rn')}
),
truth AS (SELECT pid, id, vr FROM vrank WHERE vr <= {_RANKM_K}),
scored AS (
  SELECT r.pid, r.rn,
         CASE WHEN t.id IS NULL THEN CAST(0 AS BIGINT) ELSE {dcg_term} END AS dcg_e9,
         t.id IS NOT NULL AS hit
  FROM rk r LEFT JOIN truth t ON t.pid = r.pid AND t.id = r.id
),
idcg AS (
  SELECT pid, CAST(SUM({idcg_term}) AS BIGINT) AS idcg_e9
  FROM truth GROUP BY pid
)
SELECT s.pid AS probe_id,
       CAST(COALESCE(MIN(CASE WHEN s.hit THEN s.rn END), 0) AS INT)
         AS first_hit_rank,
       CAST(COALESCE(CAST(FLOOR(1e9 / MIN(CASE WHEN s.hit THEN s.rn END))
                          AS BIGINT), 0) AS BIGINT) AS mrr_e9,
       CAST(SUM(s.dcg_e9) AS BIGINT) AS dcg_e9,
       i.idcg_e9,
       CAST((10000 * CAST(SUM(s.dcg_e9) AS BIGINT)) // i.idcg_e9 AS BIGINT)
         AS ndcg_e4
FROM scored s JOIN idcg i ON i.pid = s.pid
GROUP BY s.pid, i.idcg_e9
"""


def _sql_rank_metrics() -> str:
    return f"""{_sql_rrf_core()},
{_sql_rank_metrics_body('fused')}"""


def _sql_rank_metrics_served() -> str:
    return f"""{_sql_rrf_core()},
{_sql_rrf_served_chain()},
{_sql_rank_metrics_body('svfused')}"""


@register(
    "retrieval_rank_metrics",
    oracle=_sql_rank_metrics(),
    tags=("similarity", "text", "llm", "quality-gate", "rag"),
    doc=(
        "L32 ranking-quality metrics: MRR and nDCG@10 of the hybrid "
        "RRF ranking against the exact-cosine ground truth, per probe "
        "— graded relevance rel = 11 − truth_rank, each DCG position "
        "term quantized e9 before the order-independent sum, nDCG as "
        "an e4 integer ratio.  The position-aware complement of the "
        "set-overlap recall gates; fully oracle-replayed."
    ),
)
def retrieval_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _hybrid_view(spark, sf_dir)
    return _rank_metrics_over(spark, sf_dir, _rrf_fused(spark, sf_dir, view), view)


@register(
    "retrieval_rank_metrics_served",
    oracle=_sql_rank_metrics_served(),
    tags=("similarity", "text", "llm", "quality-gate", "rag", "ann"),
    doc=(
        "L32 SERVED ranking-quality metrics: the SAME MRR/nDCG@10 "
        "arithmetic over the ANN-served + standing-postings hybrid "
        "ranking, against the same exact-cosine truth — the "
        "position-aware twin of hybrid_served_recall_check, pinning "
        "exactly how much ranking quality the probe-local serving "
        "path trades (shared metric chains, exact and served can "
        "never drift).  Fully oracle-replayed."
    ),
)
def retrieval_rank_metrics_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _hybrid_view(spark, sf_dir)
    return _rank_metrics_over(
        spark, sf_dir, _rrf_served_fused(spark, sf_dir, view=view), view
    )


def _rank_metrics_over(
    spark: SparkSession, sf_dir: str, fused: DataFrame, view=None
) -> DataFrame:
    """MRR + nDCG@10 of the ranking ``fused`` (pid, id, rrf) against
    the exact-cosine ground truth, the vector leg over ``view`` (as in
    ``_rrf_fused``) — the Spark twin of :func:`_sql_rank_metrics_body`,
    shared by the exact and served metric queries."""
    rk = _probe_topk(fused, _RANKM_K, "pid", "rrf", "id").select("pid", "id", "rn")
    n, probes = view or _hybrid_view(spark, sf_dir)
    truth = _vector_leg(probes, n, _RANKM_K).select("pid", F.col("id").alias("tid"), "vr")
    ln2 = F.log(F.lit(2.0))
    dcg_term = F.floor(
        (F.lit(11) - F.col("vr")).cast("double")
        * ln2
        / F.log((F.col("rn") + 1).cast("double"))
        * F.lit(1e9)
    ).cast("bigint")
    scored = (
        rk.join(
            truth,
            (truth["pid"] == rk["pid"]) & (truth["tid"] == rk["id"]),
            "left",
        )
        .select(
            rk["pid"].alias("pid"),
            "rn",
            F.when(F.col("tid").isNull(), F.lit(0).cast("bigint"))
            .otherwise(dcg_term)
            .alias("dcg_e9"),
            F.col("tid").isNotNull().alias("hit"),
        )
    )
    idcg_term = F.floor(
        (F.lit(11) - F.col("vr")).cast("double")
        * ln2
        / F.log((F.col("vr") + 1).cast("double"))
        * F.lit(1e9)
    ).cast("bigint")
    idcg = truth.groupBy("pid").agg(F.sum(idcg_term).alias("idcg_e9"))
    first_hit = F.min(F.when(F.col("hit"), F.col("rn")))
    return (
        scored.groupBy("pid")
        .agg(
            F.coalesce(first_hit, F.lit(0)).cast("int").alias("first_hit_rank"),
            F.coalesce(
                F.floor(F.lit(1e9) / first_hit).cast("bigint"), F.lit(0)
            ).alias("mrr_e9"),
            F.sum("dcg_e9").cast("bigint").alias("dcg_e9"),
        )
        .join(idcg, "pid")
        .select(
            F.col("pid").alias("probe_id"),
            "first_hit_rank",
            "mrr_e9",
            "dcg_e9",
            "idcg_e9",
            F.expr("CAST(10000 * dcg_e9 AS BIGINT) div idcg_e9").alias(
                "ndcg_e4"
            ),
        )
    )
