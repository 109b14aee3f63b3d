"""Similarity search over embeddings, L3 (SURVEY.md §2.11, north-star).

Numeric design: cross-engine float dot products are not reproducible
(accumulation order), so all oracle-checked cosine math runs on
*quantized integers*: each float is scaled by 1e7 and rounded to BIGINT
(deterministic given identical input floats), dots and norms are exact
int64 sums (64 dims × (3e6)² ≈ 6e14 « 2^63), and the final
``dot / (sqrt(na)·sqrt(nb))`` is the same double op-sequence in both
engines → bit-identical cosines, exact ranking parity.  Quantization
error ~1e-7 is far below any ranking gap in this data.

Scale posture:
- brute-force top-k: probe×corpus is a broadcast of the (small) probe
  set over the corpus — linear in corpus, no corpus self-shuffle; this
  is the exact baseline.
- near-dup pairs: self-join restricted to an equi bucket (label) —
  the blocking pattern; unrestricted all-pairs is O(n²) and banned.
- LSH variant: random-hyperplane signatures (seeded, literal planes),
  bucket equi-join, exact re-rank — candidates ∝ collisions, not n².
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.tables import table
from ..registry import register
from ._helpers import shuffle_parts

_SCALE = 10_000_000  # 1e7: float32 has ~7 significant digits

# Seeded random hyperplanes (64-dim), embedded as literals so both the
# plan and any re-run are deterministic.  Public technique: Charikar '02.
# L tables × B bits: B controls bucket size (n/2^B expected), L controls
# recall (1-(1-p^B)^L) — tune per corpus size.
_rng = random.Random(42)
_LSH_TABLES = 4
_LSH_BITS = 8
_PLANES = [
    [_rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(_LSH_TABLES * _LSH_BITS)
]
# Quantized planes (1e7 grid, same as _qvec): plane·vector dots become
# exact int64 sums (64 × 4.3e7 × 1e7 ≈ 3e16 « 2^63), so the sign bits —
# and therefore every LSH bucket — are bit-identical across engines and
# the DuckDB oracle can replay the whole bucketed search.
_QPLANES = [[round(x * _SCALE) for x in p] for p in _PLANES]


def _qvec(col) -> Column:
    """array<float> → array<bigint> quantized at 1e7."""
    return F.transform(
        F.col(col).cast("array<double>"),
        lambda x: F.round(x * _SCALE).cast("bigint"),
    )


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _cosine(dot, na, nb) -> Column:
    return dot.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


_SQL_QVEC = (
    "list_transform(CAST({e} AS DOUBLE[]), x -> CAST(ROUND(x * 10000000) AS BIGINT))"
)
_SQL_DOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), s -> s[1] * s[2])) AS BIGINT)"
)
_SQL_NORM = "CAST(list_sum(list_transform({a}, x -> x * x)) AS BIGINT)"


def _sql_cos(a: str, b: str, na: str, nb: str) -> str:
    """The oracle twin of :func:`_cosine`: the same double op-sequence
    over the quantized vectors ``a``, ``b`` and their norms ``na``, ``nb``."""
    return (
        f"CAST({_SQL_DOT.format(a=a, b=b)} AS DOUBLE)"
        f" / (SQRT(CAST({na} AS DOUBLE)) * SQRT(CAST({nb} AS DOUBLE)))"
    )


# The batch searches' 20 probes over ``n``.
_SQL_PROBES = (
    "probes AS (SELECT vec_id AS probe_id, qv AS pqv, nrm AS pnrm FROM n WHERE vec_id < 20)"
)

# The cosine of a self-join's two sides ``a`` and ``b``.
_SQL_COS_AB = _sql_cos("a.qv", "b.qv", "a.nrm", "b.nrm")

# Body of the oracles' quantized-corpus CTE: (vec_id, qv, nrm) per embedding.
_SQL_N = f"""SELECT vec_id, qv, {_SQL_NORM.format(a='qv')} AS nrm
  FROM (SELECT vec_id, {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings)"""


def _probe_topk(
    scored: DataFrame,
    k: int,
    pid: str = "probe_id",
    score: str = "cos_sim",
    nid: str = "neighbor_id",
    rank: str = "rn",
) -> DataFrame:
    """Each probe's top ``k`` rows of ``scored`` by ``score`` DESC, then
    ``nid``, numbered in ``rank`` — the exact re-rank that ends every
    probe search, and every per-probe ranking of the hybrid family."""
    w = Window.partitionBy(pid).orderBy(F.desc(score), F.asc(nid))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _sql_probe_topk(
    src: str,
    k: int,
    pid: str = "probe_id",
    score: str = "cos_sim",
    nid: str = "neighbor_id",
    rank: str = "rn",
    cols: str | None = None,
) -> str:
    """The oracle twin of :func:`_probe_topk`: a SELECT of ``cols``
    (default: pid, nid, rank, score) over the rows of ``{src}`` (a CTE
    name or a parenthesized subquery) ranked the same way."""
    return f"""SELECT {cols or f"{pid}, {nid}, {rank}, {score}"}
FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY {pid} ORDER BY {score} DESC, {nid}) AS {rank}
  FROM {src}
)
WHERE {rank} <= {k}
"""


# --------------------------------------------------------------------------
# Hybrid retrieval steps (reciprocal rank fusion, Cormack, Clarke &
# Buettcher, SIGIR '09), each written once per engine: the vector leg,
# the lexical leg, the fuse and the retention aggregate.  Every probe is
# a (pid, pqv, pnrm, pws) row, every leg ranks (pid, id) rows.
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_POOL = 20
_RRF_PROBES = 10


def _hybrid_view(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The hybrid corpus ``n`` (id, qv, nrm, ws) — every embedding that
    has a document, lazily checkpointed — and its first
    ``_RRF_PROBES`` rows as probes (pid, pqv, pnrm, pws)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), _qvec("embedding").alias("qv")
    )
    n = (
        emb.join(docs, emb["id"] == docs["doc_id"])
        .select(
            "id",
            "qv",
            _dot(F.col("qv"), F.col("qv")).alias("nrm"),
            F.split("text", " ").alias("ws"),
        )
        .localCheckpoint(eager=False)
    )
    probes = n.filter(F.col("id") < _RRF_PROBES).select(
        F.col("id").alias("pid"),
        F.col("qv").alias("pqv"),
        F.col("nrm").alias("pnrm"),
        F.col("ws").alias("pws"),
    )
    return n, probes


# The oracle twin of :func:`_hybrid_view` (``n``, ``probes``) plus the
# probes' distinct tokens ``ptok`` (pid, tok).
_SQL_HYBRID_VIEW = f"""n AS MATERIALIZED (
  SELECT e.vec_id AS id, e.qv, e.nrm, string_split(d.text, ' ') AS ws
  FROM ({_SQL_N}) e JOIN documents d ON d.doc_id = e.vec_id
),
probes AS MATERIALIZED (
  SELECT id AS pid, qv AS pqv, nrm AS pnrm, ws AS pws FROM n
  WHERE id < {_RRF_PROBES}
),
ptok AS (SELECT DISTINCT pid, unnest(pws) AS tok FROM probes)"""


def _probe_tokens(probes: DataFrame) -> DataFrame:
    """The probes' distinct tokens (pid, tok)."""
    return probes.select("pid", F.explode("pws").alias("tok")).distinct()


def _vector_leg(probes: DataFrame, corpus: DataFrame, k: int, owner=None) -> DataFrame:
    """(pid, id, vr): each probe's top ``k`` rows of ``corpus`` (id, qv,
    nrm) by exact cosine over a broadcast-probe scan, skipping rows
    whose ``owner`` (default: the id) is the probe."""
    owner = F.col("id") if owner is None else owner
    scored = (
        F.broadcast(probes.select("pid", "pqv", "pnrm"))
        .join(corpus, owner != F.col("pid"))
        .select(
            "pid",
            "id",
            _cosine(
                _dot(F.col("pqv"), F.col("qv")), F.col("pnrm"), F.col("nrm")
            ).alias("cos"),
        )
    )
    return _probe_topk(scored, k, "pid", "cos", "id", "vr").select("pid", "id", "vr")


def _sql_vector_leg(probes: str, corpus: str, k: int, owner: str = "c.id") -> str:
    """The oracle twin of :func:`_vector_leg`: a SELECT of (pid, id, vr)
    over ``{probes}`` and ``{corpus}`` (aliased ``c`` in ``owner``)."""
    cos = _sql_cos("p.pqv", "c.qv", "p.pnrm", "c.nrm")
    scored = f"""(SELECT p.pid, c.id, {cos} AS cos
        FROM {probes} p JOIN {corpus} c ON {owner} <> p.pid)"""
    return _sql_probe_topk(scored, k, "pid", "cos", "id", "vr", "pid, id, vr")


def _lexical_leg(ptok: DataFrame, cands: DataFrame, owner=None) -> DataFrame:
    """(pid, id, lr): each probe's top ``_RRF_POOL`` candidates by the
    number of distinct probe tokens they hold — an inverted-index join
    of the probe tokens ``ptok`` (pid, tok) with the candidates' (id,
    tok) rows, skipping candidates whose ``owner`` (default: the id) is
    the probe."""
    owner = F.col("id") if owner is None else owner
    ov = (
        F.broadcast(ptok)
        .join(cands, "tok")
        .filter(owner != F.col("pid"))
        .groupBy("pid", "id")
        .agg(F.count("*").alias("novl"))
    )
    return _probe_topk(ov, _RRF_POOL, "pid", "novl", "id", "lr").select("pid", "id", "lr")


def _sql_lexical_leg(cands: str, owner: str = "c.id") -> str:
    """The oracle twin of :func:`_lexical_leg`: a SELECT of (pid, id,
    lr) over the in-scope ``ptok`` and ``{cands}`` (id, tok), aliased
    ``c`` in ``owner``."""
    ov = f"""(SELECT p.pid, c.id, COUNT(*) AS novl
        FROM ptok p JOIN {cands} c ON c.tok = p.tok AND {owner} <> p.pid
        GROUP BY p.pid, c.id)"""
    return _sql_probe_topk(ov, _RRF_POOL, "pid", "novl", "id", "lr", "pid, id, lr")


def _rrf_fuse(vrank: DataFrame, lrank: DataFrame) -> DataFrame:
    """(pid, id, vr, rrf): the two legs fused, rrf = Σ_legs 1/(60 + rank)
    over each leg's shortlist; ``vr`` is null for lexical-only rows."""
    def term(r):
        return F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col(r)), F.lit(0.0))

    return vrank.join(lrank, ["pid", "id"], "full").select(
        "pid", "id", "vr", (term("vr") + term("lr")).alias("rrf")
    )


def _sql_rrf_fuse(vrank: str, lrank: str) -> str:
    """The oracle twin of :func:`_rrf_fuse`: a SELECT of (pid, id, rrf)."""
    def term(r):
        return f"COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + {r}), CAST(0.0 AS DOUBLE))"

    return f"""SELECT COALESCE(v.pid, l.pid) AS pid,
         COALESCE(v.id, l.id) AS id,
         {term("v.vr")} + {term("l.lr")} AS rrf
  FROM {vrank} v
  FULL OUTER JOIN {lrank} l ON l.pid = v.pid AND l.id = v.id"""


def _retention(top: DataFrame, truth: DataFrame) -> DataFrame:
    """(n_hits, n_slots, recall_e4): how many of the (pid, id) slots of
    ``top`` the (pid, id) set ``truth`` holds."""
    hits = top.select("pid", "id").join(
        truth.select("pid", "id", F.lit(1).alias("hit")), ["pid", "id"], "left"
    ).select(F.coalesce(F.col("hit"), F.lit(0)).alias("hit"))
    return hits.agg(
        F.sum("hit").cast("bigint").alias("n_hits"),
        F.count("*").alias("n_slots"),
        F.expr("CAST((10000 * CAST(SUM(hit) AS BIGINT)) div COUNT(*) AS BIGINT)").alias(
            "recall_e4"
        ),
    )


def _sql_retention(top: str, truth: str) -> str:
    """The oracle twin of :func:`_retention`."""
    return f"""SELECT CAST(SUM(hit) AS BIGINT) AS n_hits,
       COUNT(*) AS n_slots,
       CAST((10000 * CAST(SUM(hit) AS BIGINT)) // COUNT(*) AS BIGINT) AS recall_e4
FROM (
  SELECT CASE WHEN t.id IS NULL THEN 0 ELSE 1 END AS hit
  FROM {top} r LEFT JOIN {truth} t ON t.pid = r.pid AND t.id = r.id
)
"""


# --------------------------------------------------------------------------
# L3a: exact brute-force cosine top-k.
# --------------------------------------------------------------------------


@register(
    "cosine_topk",
    oracle=f"""
WITH n AS (
  {_SQL_N}
),
{_SQL_PROBES},
scored AS (
  SELECT probe_id,
         n.vec_id AS neighbor_id,
         {_sql_cos('pqv', 'qv', 'pnrm', 'nrm')} AS cos_sim
  FROM probes JOIN n ON n.vec_id <> probe_id
)
{_sql_probe_topk('scored', 5)}""",
    tags=("similarity", "llm", "topk"),
    doc="L3: exact cosine top-5 neighbors for 20 probes (quantized-int math).",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    n = emb.select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    probes = (
        n.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("qv").alias("pqv"),
            F.col("nrm").alias("pnrm"),
        )
    )
    scored = (
        F.broadcast(probes)
        .join(n, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(_dot(F.col("pqv"), F.col("qv")), F.col("pnrm"), F.col("nrm")).alias(
                "cos_sim"
            ),
        )
    )
    return _probe_topk(scored, 5).select("probe_id", "neighbor_id", "rn", "cos_sim")


# --------------------------------------------------------------------------
# L3b/L2: embedding near-dup pairs within a blocking key (label).
# --------------------------------------------------------------------------


@register(
    "embedding_neardup",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label, {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings
),
n AS (
  SELECT vec_id, label, qv, {_SQL_NORM.format(a='qv')} AS nrm FROM q
)
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       a.label AS label,
       {_SQL_COS_AB} AS cos_sim
FROM n a
JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_SQL_COS_AB} >= 0.35
""",
    tags=("similarity", "llm", "dedup"),
    doc="L3/L2: cosine ≥ 0.35 pairs within label blocks (equi-join blocking, no O(n²)).",
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _qvec("embedding").alias("qv")
    )
    n = emb.select(
        "vec_id", "label", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm")
    )
    a = n.alias("a")
    b = n.alias("b")
    cos = _cosine(
        _dot(F.col("a.qv"), F.col("b.qv")), F.col("a.nrm"), F.col("b.nrm")
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.35)
    )


# --------------------------------------------------------------------------
# L3c: LSH-bucketed approximate top-k.  Approximate (recall < 1 by
# design) yet fully DETERMINISTIC: quantized planes make every bucket
# bit reproducible, so the oracle replays the exact bucketed search and
# the driver value-hashes the result — approximate ≠ unverifiable.
# --------------------------------------------------------------------------

_SQL_PLANES = "[" + ", ".join("[" + ", ".join(str(v) for v in p) + "]" for p in _QPLANES) + "]"


def _lsh_sig(t: int) -> Column:
    """Table ``t``'s signature of ``qv`` against the broadcast ``planes``
    column: bit j is set iff the integer dot with plane t·_LSH_BITS + j
    is positive."""
    weights = F.array(*[F.lit(1 << j) for j in range(_LSH_BITS)])

    def bit(j: Column) -> Column:
        plane = F.get(F.col("planes"), F.lit(t * _LSH_BITS) + j)
        return F.when(_dot(F.col("qv"), plane) > 0, F.get(weights, j)).otherwise(F.lit(0))

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(_LSH_BITS - 1)),
        F.lit(0),
        lambda acc, j: acc + bit(j),
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
WITH n AS (
  {_SQL_N}
),
planes AS (SELECT {_SQL_PLANES} AS p),
sigb AS (
  SELECT vec_id, g.k // {_LSH_BITS} AS t,
         CASE WHEN {_SQL_DOT.format(a='p[g.k + 1]', b='qv')} > 0
              THEN (1 << (g.k % {_LSH_BITS})) ELSE 0 END AS w
  FROM n, planes, generate_series(0, {_LSH_TABLES * _LSH_BITS - 1}) AS g(k)
),
buckets AS (
  SELECT vec_id, CAST(t AS VARCHAR) || ':' || CAST(SUM(w) AS VARCHAR) AS bucket
  FROM sigb GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
  FROM buckets p
  JOIN buckets c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
  WHERE p.vec_id < 20
),
scored AS (
  SELECT cand.probe_id, cand.neighbor_id,
         {_SQL_COS_AB} AS cos_sim
  FROM cand
  JOIN n a ON a.vec_id = cand.probe_id
  JOIN n b ON b.vec_id = cand.neighbor_id
)
{_sql_probe_topk('scored', 3)}""",
    tags=("similarity", "llm", "approx"),
    doc=(
        "L3 at scale: multi-table random-hyperplane LSH (4 tables × 8 bits, "
        "quantized-int plane dots) → bucket equi-join → exact cosine "
        "re-rank over candidate union, top-3 per probe.  Deterministic "
        "buckets → value-hash oracle-checked despite being approximate."
    ),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 32 QUANTIZED hyperplanes ride along as a ONE-ROW broadcast
    # column (array<array<bigint>>), folded per row — not as 32×64
    # literal nodes, which made plan analysis alone cost more than
    # execution (the same fix as the k-means centroid state above).
    # Integer plane·qv dots are exact, so the sign bits (and buckets)
    # are engine-portable — that's what the oracle relies on.
    planes_row = spark.createDataFrame(
        [([list(p) for p in _QPLANES],)], "planes array<array<bigint>>"
    )
    emb = (
        table(spark, sf_dir, "embeddings")
        # spread the 32-plane signature folds across tasks — the fixture
        # is one parquet file (one task otherwise)
        .repartition(shuffle_parts(spark), F.col("vec_id"))
        .select("vec_id", _qvec("embedding").alias("qv"))
        .crossJoin(F.broadcast(planes_row))
    )

    keys = [
        F.concat_ws(":", F.lit(str(t)), _lsh_sig(t).cast("string"))
        for t in range(_LSH_TABLES)
    ]
    sigs = emb.select(
        "vec_id",
        "qv",
        _dot(F.col("qv"), F.col("qv")).alias("nrm"),
        F.explode(F.array(*keys)).alias("bucket"),
    )
    probes = sigs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qv").alias("pqv"),
        F.col("nrm").alias("pnrm"),
        F.col("bucket").alias("pbucket"),
    )
    candidates = (
        F.broadcast(probes)
        .join(sigs, (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("probe_id")))
        .select("probe_id", "pqv", "pnrm", F.col("vec_id").alias("neighbor_id"), "qv", "nrm")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = candidates.select(
        "probe_id",
        "neighbor_id",
        _cosine(_dot(F.col("pqv"), F.col("qv")), F.col("pnrm"), F.col("nrm")).alias("cos_sim"),
    )
    return _probe_topk(scored, 3).select("probe_id", "neighbor_id", "rn", "cos_sim")


# --------------------------------------------------------------------------
# L3d: IVF-style ANN — coarse quantizer (nearest of K centroids) partitions
# the corpus into inverted lists; each probe searches only its nprobe
# closest lists.  Per-probe work drops from |corpus| to ~|corpus|·nprobe/K.
# Centroids here are corpus vectors picked by a fixed id rule (a real
# deployment k-means-refines them offline; the *query shape* — assign,
# invert, probe, re-rank — is identical and is what must scale).
# Fully deterministic (quantized-int cosine, id tie-breaks) → the DuckDB
# oracle replays the exact same search.
# --------------------------------------------------------------------------

_IVF_NPROBE = 4

# Round 13 (VERDICT r12 #2): the SERVED retrieval pools' operating
# point, picked from the measured nprobe×pool quality-latency curve
# (scripts/served_quality_curve.py; BASELINE.md tenth campaign).  At
# nprobe=4 the served hybrid lost ~35% of nDCG@10 (0.34–0.37 vs exact
# 0.57) for no latency win — the r12 "pinned cliff".  nprobe=12 buys
# nDCG 0.53–0.59 and top-5 retention 0.93–0.96 at fixture/ov-sf1 scale
# with ~flat serve latency (the cell reads are a small share of the
# serve); nprobe=16 is exhaustive at the fixture's K=16 and adds little
# at ov scale.  Pool 50 never beat pool 20 on any metric.  The batch
# IVF demos keep _IVF_NPROBE=4 (their oracles pin the classic
# low-nprobe search shape); every SERVED gate reads this constant, so
# Spark and oracle move together.
_SERVED_NPROBE = 12

# Round 14 (VERDICT r13 #2): fixed nprobe over K ∝ corpus covers a
# vanishing cell fraction — the tenth campaign measured served nDCG@10
# falling 0.53 → 0.27 from sf0.1 to ov-sf10 at the nprobe=12 pin.  The
# served pools therefore probe ADAPTIVELY: nprobe(K) = max(12, ceil(K ·
# frac)), i.e. a floor of 12 cells for small quantizers (where 12 is
# already most or all of K: K = 4 at sf0.01, 16 at sf0.1) and a pinned
# CELL FRACTION at corpus scale.  frac = 1/16 re-pinned from the r14
# curve (scripts/served_quality_curve.py, BASELINE.md eleventh campaign):
# at ov-sf10 (K = 1600) nprobe = 100 restores nDCG@10 ≥ 0.4 at a serve
# latency within the flat band the r13 curve measured.  The oracles
# replay the same rule from their centroid CTE's row count
# (_sql_served_nprobe), so Spark and oracle agree at every K.


def served_nprobe(n_cells: int) -> int:
    """The served pools' adaptive probe width: max(12, ceil(K/16))."""
    return max(_SERVED_NPROBE, -(-int(n_cells) // 16))


def _sql_served_nprobe(cents: str) -> str:
    """:func:`served_nprobe` over the row count K of the CTE ``{cents}``."""
    return f"(SELECT GREATEST({_SERVED_NPROBE}, (COUNT(*) + 15) // 16) FROM {cents})"


# --- the probe-cell step: each probe keeps its nprobe nearest cells -------
# Written once per engine; every IVF search, served pool and serving audit
# ranks its cells through these two, so a data-dependent stopping rule
# replaces the fixed nprobe in one place.


def _top_cells(scored: DataFrame, nprobe: int, pid: str = "probe_id") -> DataFrame:
    """Each probe's ``nprobe`` best cells of ``scored`` ({pid},
    centroid_id, c_sim, …) by c_sim DESC, then centroid_id; c_sim is
    dropped."""
    w = Window.partitionBy(pid).orderBy(F.desc("c_sim"), F.asc("centroid_id"))
    return (
        scored.withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= nprobe)
        .drop("c_sim", "crn")
    )


def _sql_probe_cells(probes: str, pid: str, cents: str, nprobe: int | str) -> str:
    """The oracle twin of :func:`_top_cells`: the CTE ``pcell`` ({pid},
    pqv, pnrm, centroid_id) keeps, for each probe of ``{probes}`` ({pid},
    pqv, pnrm), its ``nprobe`` cells of ``{cents}`` (centroid_id, cqv,
    cnrm) nearest by quantized cosine, ties to the smaller centroid_id."""
    pcos = _sql_cos("p.pqv", "c.cqv", "p.pnrm", "c.cnrm")
    return f"""pcell AS (
  SELECT {pid}, pqv, pnrm, centroid_id FROM (
    SELECT p.{pid}, p.pqv, p.pnrm, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.{pid} ORDER BY {pcos} DESC, c.centroid_id
           ) AS crn
    FROM {probes} p CROSS JOIN {cents} c
  ) WHERE crn <= {nprobe}
)"""


# --- corpus-scaled, data-driven centroid seeding (round 9) -----------------
# The r1–r8 quantizer pinned K = 16 centroids to vec_id ∈ [100, 116) —
# per-cell population grew ∝ n/16, so every within-cell self-join was
# quadratic at scale, and the seeding only worked because the fixtures
# carry contiguous ids.  Replaced family-wide by:
#   * K ∝ n: a vector SEEDS a centroid iff h(vec_id)·stride < 2³²,
#     stride = clamp(⌊n/16⌋, 1, 125) — expected K = n/stride, i.e. one
#     centroid per ~125 vectors (SemDeDup's target cell size) with a
#     ~16-centroid floor for tiny corpora.  Pure map-side predicate, no
#     id-contiguity assumption, no global rank.
#   * coarse level for two-level assignment: the ~√K seed subset with
#     h·stride·cstride < 2³², cstride = ⌈√(n/stride)⌉ — nested
#     thresholds, so coarse ⊆ fine by construction.
#   * h is a 32-bit multiplicative mix both engines replay exactly in
#     BIGINT arithmetic: h(v) = ((v mod 1000003)·2654435761) mod 2³².
#     The id pre-fold keeps the product < 2⁶³ for ANY bigint id; ids
#     ≥ 1000003 reuse the pattern (selection stays a 1/stride fraction).
#     All quantities non-negative, so Spark pmod == DuckDB %.
_IVF_MINK = 16       # centroid-count floor (= the old fixed K)
_IVF_CSIZE = 125     # target inverted-list size; K ≈ n / 125
_SEED_A = 2654435761  # Knuth multiplicative constant
_SEED_M = 4294967296  # 2^32
_SEED_R = 1000003     # id pre-fold modulus (int64-overflow guard)


def _seed_h(col: Column) -> Column:
    return ((col % _SEED_R) * F.lit(_SEED_A)) % F.lit(_SEED_M)


def _sql_seed_h(v: str) -> str:
    return f"(((({v}) % {_SEED_R}) * {_SEED_A}) % {_SEED_M})"


def _ivf_params(n: DataFrame) -> DataFrame:
    """One-row (stride, cstride) broadcast frame — the corpus is never
    collected; the two scalars ride along as a broadcast join."""
    cnt = F.count("*")
    stride = F.greatest(
        F.lit(1).cast("long"),
        F.least(F.lit(_IVF_CSIZE).cast("long"), F.floor(cnt / _IVF_MINK)),
    )
    return n.agg(
        stride.alias("stride"),
        F.ceil(F.sqrt(cnt / stride)).cast("long").alias("cstride"),
    )


def _sql_ivf_params(src: str = "n") -> str:
    return f"""params AS (
  SELECT CAST(stride AS BIGINT) AS stride,
         CAST(CEIL(SQRT(cnt / stride)) AS BIGINT) AS cstride
  FROM (SELECT GREATEST(1, LEAST({_IVF_CSIZE}, cnt // {_IVF_MINK})) AS stride, cnt
        FROM (SELECT COUNT(*) AS cnt FROM {src}))
)"""


def _ivf_cents(n: DataFrame) -> DataFrame:
    """Hash-seeded centroid set: (centroid_id, cqv, cnrm, stride, cstride)."""
    return (
        n.crossJoin(F.broadcast(_ivf_params(n)))
        .filter(_seed_h(F.col("vec_id")) * F.col("stride") < _SEED_M)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("qv").alias("cqv"),
            F.col("nrm").alias("cnrm"),
            "stride",
            "cstride",
        )
    )


def _sql_ivf_cents(src: str = "n") -> str:
    return f"""cents AS (
  SELECT vec_id AS centroid_id, qv AS cqv, nrm AS cnrm, stride, cstride
  FROM {src}, params
  WHERE {_sql_seed_h('vec_id')} * stride < {_SEED_M}
)"""


def _two_level_assign(
    n: DataFrame, cents: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Two-level nearest-centroid assignment of ``n`` (vec_id[, extras],
    qv, nrm) against ``cents`` (centroid_id, cqv, cnrm, stride, cstride)
    → (vec_id, *extras, centroid_id, c_sim, qv, nrm).

    The IVF/SemDeDup pattern that keeps per-row work sublinear in K:
    the ~√K coarse subset (hash-nested threshold on centroid_id — works
    for REFINED centroids too, since recentering preserves seed ids) is
    broadcast for a map-side argmax (n·√K flops), then a coarse_id join
    fans each vector out to only its coarse cell's ~√K fine centroids.
    Nothing here grows linearly with n — not the broadcast (√K rows),
    not the per-row flops (~2√K) — and the within-cell population
    downstream consumers join on stays ~CSIZE because K grows with the
    corpus."""
    # The n·√K cosine folds run in the SCAN stage of ``n``: on a
    # single-file fixture (or any narrow source) that pins the whole
    # fold to 1–2 tasks, which measured as a fake superlinear decade
    # (ivf_ann_topk exponent 1.56 at ov-sf1→ov-sf10; the per-row √K
    # factor is real but the starvation multiplied it).  Repartition
    # before the folds — the n-row exchange is cheap next to the flops.
    n = n.repartition(shuffle_parts(n), F.col("vec_id"))
    coarse = cents.filter(
        _seed_h(F.col("centroid_id")) * F.col("stride") * F.col("cstride") < _SEED_M
    ).select(
        F.col("centroid_id").alias("coarse_id"),
        F.col("cqv").alias("gqv"),
        F.col("cnrm").alias("gnrm"),
    )
    c2c_sim = _cosine(_dot(F.col("cqv"), F.col("gqv")), F.col("cnrm"), F.col("gnrm"))
    cent2coarse = (
        cents.crossJoin(F.broadcast(coarse))
        .select("centroid_id", "cqv", "cnrm", "coarse_id", c2c_sim.alias("g_sim"))
        .groupBy("centroid_id")
        .agg(
            F.max_by(
                F.struct("coarse_id", "cqv", "cnrm"),
                F.struct(F.col("g_sim"), -F.col("coarse_id")),
            ).alias("best")
        )
        .select("centroid_id", "best.coarse_id", "best.cqv", "best.cnrm")
    )
    v2c_sim = _cosine(_dot(F.col("qv"), F.col("gqv")), F.col("nrm"), F.col("gnrm"))
    vec2coarse = (
        n.crossJoin(F.broadcast(coarse))
        .select("vec_id", *extra_cols, "qv", "nrm", "coarse_id", v2c_sim.alias("g_sim"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("coarse_id", *extra_cols, "qv", "nrm"),
                F.struct(F.col("g_sim"), -F.col("coarse_id")),
            ).alias("best")
        )
        .select("vec_id", "best.coarse_id", *[f"best.{c}" for c in extra_cols],
                "best.qv", "best.nrm")
    )
    fine_sim = _cosine(_dot(F.col("qv"), F.col("cqv")), F.col("nrm"), F.col("cnrm"))
    return (
        vec2coarse.join(cent2coarse, "coarse_id")
        .select("vec_id", *extra_cols, "qv", "nrm", "centroid_id",
                fine_sim.alias("c_sim"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("centroid_id", "c_sim", *extra_cols, "qv", "nrm"),
                F.struct(F.col("c_sim"), -F.col("centroid_id")),
            ).alias("best")
        )
        .select("vec_id", "best.centroid_id", "best.c_sim",
                *[f"best.{c}" for c in extra_cols], "best.qv", "best.nrm")
    )


def _ivf_assign(n: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Hash-seeded corpus-scaled two-level assignment over ``n`` —
    returns (vec_id, centroid_id, c_sim, *extras, qv, nrm).

    The centroid frame is checkpointed: _two_level_assign references it
    twice (coarse + cent2coarse), and each un-materialized reference
    would re-run the corpus-wide params aggregate and seed filter."""
    return _two_level_assign(
        n, _ivf_cents(n).localCheckpoint(eager=False), extra_cols
    )


def _sql_two_level(
    cents: str, out: str, src: str = "n", extra_cols: tuple[str, ...] = ()
) -> str:
    """The oracle twin of :func:`_two_level_assign`: a CTE chain ending
    in ``{out}`` (vec_id[, extras], qv, nrm, centroid_id, c_sim) that
    assigns each row of ``{src}`` (vec_id[, extras], qv, nrm) to its
    nearest centroid of ``{cents}`` (centroid_id, cqv, cnrm, stride,
    cstride).  Intermediate CTE names are prefixed with ``{out}`` so
    multiple assignments can coexist in one query."""
    ex = "".join(f", {c}" for c in extra_cols)
    nex = "".join(f", n.{c}" for c in extra_cols)
    vex = "".join(f", v.{c}" for c in extra_cols)
    c2c = _sql_cos("c.cqv", "g.gqv", "c.cnrm", "g.gnrm")
    v2c = _sql_cos("n.qv", "g.gqv", "n.nrm", "g.gnrm")
    fine = _sql_cos("v.qv", "cc.cqv", "v.nrm", "cc.cnrm")
    return f"""{out}_coarse AS (
  SELECT centroid_id AS coarse_id, cqv AS gqv, cnrm AS gnrm
  FROM {cents}
  WHERE {_sql_seed_h('centroid_id')} * stride * cstride < {_SEED_M}
),
{out}_cent2coarse AS (
  SELECT centroid_id, cqv, cnrm, coarse_id FROM (
    SELECT c.centroid_id, c.cqv, c.cnrm, g.coarse_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.centroid_id
             ORDER BY {c2c} DESC, g.coarse_id
           ) AS rn
    FROM {cents} c CROSS JOIN {out}_coarse g
  ) WHERE rn = 1
),
{out}_vec2coarse AS (
  SELECT vec_id{ex}, qv, nrm, coarse_id FROM (
    SELECT n.vec_id{nex}, n.qv, n.nrm, g.coarse_id,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY {v2c} DESC, g.coarse_id
           ) AS rn
    FROM {src} n CROSS JOIN {out}_coarse g
  ) WHERE rn = 1
),
{out} AS (
  SELECT vec_id{ex}, qv, nrm, centroid_id, c_sim FROM (
    SELECT v.vec_id{vex}, v.qv, v.nrm, cc.centroid_id, {fine} AS c_sim,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {fine} DESC, cc.centroid_id
           ) AS rn
    FROM {out}_vec2coarse v
    JOIN {out}_cent2coarse cc ON v.coarse_id = cc.coarse_id
  ) WHERE rn = 1
)"""


def _sql_ivf_assign(extra_cols: tuple[str, ...] = ()) -> str:
    """params + hash-seeded cents + two-level ``assigned`` over an
    existing CTE ``n`` with columns (vec_id[, extras], qv, nrm)."""
    return (
        f"{_sql_ivf_params()},\n{_sql_ivf_cents()},\n"
        + _sql_two_level("cents", "assigned", "n", extra_cols)
    )


def _ivf_search(n: DataFrame, cents: DataFrame, assigned: DataFrame) -> DataFrame:
    """The batch IVF probe: the 20 probes of ``n`` rank ALL K cells of
    ``cents`` exactly (a broadcast-probe join, 20×K scores, trivially
    parallel at any K), keep their ``_IVF_NPROBE`` nearest, and re-rank
    those cells' members in ``assigned`` by exact cosine to the top 3."""
    cos_to_cent = _cosine(_dot(F.col("qv"), F.col("cqv")), F.col("nrm"), F.col("cnrm"))
    probe_lists = _top_cells(
        cents.crossJoin(F.broadcast(n.filter(F.col("vec_id") < 20))).select(
            F.col("vec_id").alias("probe_id"),
            F.col("qv").alias("pqv"),
            F.col("nrm").alias("pnrm"),
            "centroid_id",
            cos_to_cent.alias("c_sim"),
        ),
        _IVF_NPROBE,
    )
    scored = (
        F.broadcast(probe_lists)
        .join(assigned, "centroid_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(_dot(F.col("pqv"), F.col("qv")), F.col("pnrm"), F.col("nrm")).alias(
                "cos_sim"
            ),
        )
    )
    return _probe_topk(scored, 3).select("probe_id", "neighbor_id", "rn", "cos_sim")


@register(
    "ivf_ann_topk",
    oracle=f"""
WITH n AS (
  {_SQL_N}
),
{_sql_ivf_assign()},
{_SQL_PROBES},
{_sql_probe_cells('probes', 'probe_id', 'cents', _IVF_NPROBE)},
scored AS (
  SELECT p.probe_id, a.vec_id AS neighbor_id,
         {_sql_cos('p.pqv', 'a.qv', 'p.pnrm', 'a.nrm')} AS cos_sim
  FROM pcell p
  JOIN assigned a ON a.centroid_id = p.centroid_id AND a.vec_id <> p.probe_id
)
{_sql_probe_topk('scored', 3)}""",
    tags=("similarity", "llm", "approx", "ann"),
    doc=(
        "L3 at scale: IVF ANN — hash-seeded K ≈ n/125 centroids "
        "(corpus-scaled: inverted-list population stays ~125 at any n), "
        "two-level map-side assignment, probe the 4 nearest lists per "
        "query, exact re-rank.  Deterministic → fully oracle-checked."
    ),
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", _qvec("embedding").alias("qv"))
    n = emb.select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    # Two-level assignment: per-row work is O(√K), never O(K) — with
    # K ∝ n the flat broadcast argmax this replaces was O(n²/125).
    # Checkpointed: the scored join must not re-run the assignment
    # subtree (the r8 materialization rule, ARCHITECTURE.md).
    assigned = _ivf_assign(n).localCheckpoint(eager=False)
    return _ivf_search(n, _ivf_cents(n).drop("stride", "cstride"), assigned)


# --------------------------------------------------------------------------
# L2/L3: SemDeDup — semantic dedup via cluster-then-prune (Abbas et al.
# 2023, arXiv:2303.09540).  Clustering first is the whole point: the
# within-cluster pairwise pass costs Σ (n/K)² instead of n², and K GROWS
# WITH THE CORPUS — K = max(16, ⌈n/125⌉), the paper uses 50k clusters
# for LAION — so cluster size, and thus the pair pass, stays linear in n.
#
# Assignment is TWO-LEVEL (the IVF pattern, bounding work at n·O(√K)):
# C = ⌈√K⌉ coarse centroids (every stride-th fine centroid) broadcast to
# the corpus for a map-side nearest-coarse argmax (n·C flops, tiny
# broadcast), then a join on coarse_id fans each vector out to ONLY its
# coarse cell's ~√K fine centroids for the fine argmax.  Neither the
# broadcast (C = √K rows) nor the per-row flops (C + K/C ≈ 2√K) grows
# linearly with n — the flat K-broadcast argmax it replaces did both
# (at 1 B docs, K = 8 M centroids: an undeliverable broadcast and an
# n²/125 multiply-add pass).  The coarse_id join has C distinct keys;
# uneven cell populations are AQE-skew-split territory, not a plan flaw.
#
# Prune policy (exact semantics, see ADVICE r6): within a cluster, drop
# any vector that has ANY smaller-id neighbor at cos ≥ τ — INCLUDING
# neighbors that are themselves dropped (transitive suppression).  A
# chain a–b–c with cos(a,b) ≥ τ, cos(b,c) ≥ τ, cos(a,c) < τ drops BOTH
# b and c; true keep-first greedy would keep c.  This over-prunes
# relative to the paper's sequential greedy but is order-free — a pure
# self-join, no iteration — and both engines encode the identical rule.
# Deterministic quantized-int cosine → the DuckDB oracle replays the
# exact two-level assignment and prune, value-hash checked.
# --------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.35
_SEMDEDUP_CSIZE = 125  # legacy alias of _IVF_CSIZE (kept for the docstrings)


@register(
    "semdedup_prune",
    oracle=f"""
WITH n AS (
  {_SQL_N}
),
{_sql_ivf_assign()},
dups AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a
  JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {_SQL_COS_AB} >= {_SEMDEDUP_TAU}
)
SELECT a.vec_id, a.centroid_id AS cluster_id,
       a.vec_id NOT IN (SELECT vec_id FROM dups) AS kept
FROM assigned a
""",
    tags=("similarity", "dedup", "llm"),
    doc=(
        "L2/L3: SemDeDup — two-level IVF-style assignment to the nearest "
        "of K = max(16, ceil(n/125)) centroids (⌈√K⌉-row coarse broadcast "
        "+ coarse_id join, n·O(√K) flops — nothing grows linearly with "
        "n), then within each cluster drop every vector with ANY "
        f"smaller-id neighbor at cos ≥ {_SEMDEDUP_TAU} (transitive "
        "suppression — dropped neighbors still suppress; order-free, "
        "no iteration).  K ∝ n keeps the Σ(n/K)² pair pass linear."
    ),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The assignment subtree is referenced three times (pair pass a/b +
    # final labels); checkpoint it so the five-join two-level assignment
    # runs ONCE (the neardup_triangles pattern).  The materialized state
    # is n rows × (id, label, qv, nrm) — linear, spillable.
    assigned = _semdedup_assign(spark, sf_dir).localCheckpoint(eager=False)
    a = assigned.alias("a")
    b = assigned.alias("b")
    pair_cos = _cosine(_dot(F.col("a.qv"), F.col("b.qv")), F.col("a.nrm"), F.col("b.nrm"))
    dups = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= _SEMDEDUP_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("centroid_id").alias("cluster_id"),
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
        )
    )


def _semdedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level nearest-centroid assignment (vec_id, centroid_id, qv, nrm).

    Since round 9 a thin wrapper over the family-wide :func:`_ivf_assign`
    (hash-seeded, corpus-scaled K — no fixture-id pinning).  Exposed
    separately so the scale tests can assert the single-instance plan
    shape (semdedup_prune references it three times, which triplicates
    the subtree in the executed plan)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", _qvec("embedding").alias("qv"))
    n = emb.select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    return _ivf_assign(n)


# --------------------------------------------------------------------------
# L3e: k-means-refined IVF — Lloyd iterations expressed as DataFrame
# rounds.  Each iteration: assign (broadcast centroids, map-side argmax)
# → recompute centroids as 64 per-dimension integer-sum aggregates
# (partial→final; the shuffle carries K×64 cells, NOT corpus×64 rows —
# the explode-based mean would).  Exact bigint sums make every iteration
# deterministic, so repeated runs converge identically; rows-only check
# (a 2-iteration SQL replay is impractical) + recall test vs the exact
# baseline in tests/test_operators.py.
# --------------------------------------------------------------------------

_KMEANS_ITERS = 2
_DIMS = 64


def _recenter(assigned: DataFrame) -> DataFrame:
    """New centroid per list: elementwise mean of member vectors, computed
    as 64 exact bigint-sum aggregates + one count, re-quantized."""
    sums = assigned.groupBy("centroid_id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.element_at("qv", d + 1)).alias(f"_s{d}")
            for d in range(_DIMS)
        ],
    )
    mean_arr = F.array(
        *[
            F.round(F.col(f"_s{d}").cast("double") / F.col("_n")).cast("bigint")
            for d in range(_DIMS)
        ]
    )
    out = sums.select("centroid_id", mean_arr.alias("cqv"))
    return out.select(
        "centroid_id", "cqv", _dot(F.col("cqv"), F.col("cqv")).alias("cnrm")
    )


def _sql_recenter(assigned_cte: str, out: str) -> str:
    """Recenter CTE: elementwise integer mean (exact bigint sums, one
    double divide, ROUND half-away-from-zero) — the same op-sequence as
    :func:`_recenter`, so the re-quantized centroids are bit-identical.
    Carries stride/cstride forward (CROSS JOIN params) so the next
    two-level assignment round can derive its coarse subset."""
    return f"""
{out} AS (
  SELECT centroid_id, cqv,
         CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cnrm,
         stride, cstride
  FROM (
    SELECT centroid_id, list(m ORDER BY d) AS cqv
    FROM (
      SELECT centroid_id, g.d AS d,
             CAST(ROUND(CAST(SUM(qv[g.d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
      FROM {assigned_cte}, generate_series(1, {_DIMS}) AS g(d)
      GROUP BY centroid_id, g.d
    ) GROUP BY centroid_id
  ), params
)"""


_KMEANS_ORACLE = (
    f"""
WITH n AS (
  {_SQL_N}
),
{_sql_ivf_params('n')},
c0 AS (
  SELECT vec_id AS centroid_id, qv AS cqv, nrm AS cnrm, stride, cstride
  FROM n, params
  WHERE {_sql_seed_h('vec_id')} * stride < {_SEED_M}
),"""
    + _sql_two_level("c0", "a1")
    + ","
    + _sql_recenter("a1", "c1")
    + ","
    + _sql_two_level("c1", "a2")
    + ","
    + _sql_recenter("a2", "c2")
    + ","
    + _sql_two_level("c2", "af")
    + f""",
{_SQL_PROBES},
{_sql_probe_cells('probes', 'probe_id', 'c2', _IVF_NPROBE)},
scored AS (
  SELECT p.probe_id, a.vec_id AS neighbor_id,
         {_sql_cos('p.pqv', 'a.qv', 'p.pnrm', 'a.nrm')} AS cos_sim
  FROM pcell p
  JOIN af a ON a.centroid_id = p.centroid_id AND a.vec_id <> p.probe_id
)
{_sql_probe_topk('scored', 3)}"""
)


@register(
    "ivf_kmeans_topk",
    # Full SQL replay of both Lloyd iterations: assignment is a window
    # argmax over quantized-int cosines, recentering is exact bigint sums
    # + one double divide + ROUND (half-away in both engines) — every
    # step bit-identical, so the refined centroids, inverted lists, and
    # final top-k all value-hash match.
    oracle=_KMEANS_ORACLE,
    tags=("similarity", "llm", "approx", "ann", "iterative"),
    doc=(
        "L3 at scale: hash-seeded corpus-scaled IVF (K ≈ n/125) with 2 "
        "Lloyd refinement iterations (two-level assign → 64-dim "
        "exact-sum recenter per round), then nprobe=4 probe + exact "
        "re-rank.  The iterative-algorithm pattern: one shuffle round "
        "per iteration, K×64 cells on the wire.  Deterministic integer "
        "recentering → the DuckDB oracle replays both unrolled "
        "iterations and hash-checks the search."
    ),
)
def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", _qvec("embedding").alias("qv"))
    # (_two_level_assign repartitions before its cosine folds, so no
    # explicit repartition is needed here anymore.)
    n = emb.select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    # The two selection scalars are the ONLY driver-side algorithm
    # state; centroids stay on the executors (checkpointed per round to
    # keep the Lloyd lineage flat — with K ∝ n the r8 collect-to-driver
    # state would be n/125 × 520 B, gigabytes at corpus scale, and the
    # flat broadcast-fold assignment it fed would be undeliverable).
    pr = _ivf_params(n).collect()[0]
    stride, cstride = int(pr["stride"]), int(pr["cstride"])

    def with_params(df: DataFrame) -> DataFrame:
        return df.withColumn("stride", F.lit(stride).cast("long")).withColumn(
            "cstride", F.lit(cstride).cast("long")
        )

    cents = _ivf_cents(n).localCheckpoint(eager=False)
    for _ in range(_KMEANS_ITERS):
        assigned = _two_level_assign(n, cents)
        cents = with_params(_recenter(assigned)).localCheckpoint(eager=False)
    assigned = _two_level_assign(n, cents)

    return _ivf_search(n, cents, assigned)


# --------------------------------------------------------------------------
# Quality-gate twins for the approximate ANN ops (VERDICT r4 item 4).
# Since round 6 the approx results themselves are ALSO value-hash
# oracle-checked (quantized planes / integer Lloyd replay); these gates
# remain because hash equality proves determinism, not usefulness — the
# QUALITY against the exact brute-force ground truth is the separate
# deterministic fact this job asserts:
# Spark computes BOTH sides, emits exact-derived scalars plus tolerance
# booleans, and the DuckDB oracle independently derives the exact scalars
# and asserts the booleans TRUE — the approx_distinct_check pattern.
#
# Thresholds (measured r5 at sf0.001/sf0.01, gate ≈ half the observed):
# - ann_lsh: recall@3 is honestly low (~0.07 — the fixture embeddings are
#   near-random, exact top-3 cosines ~0.34, and 8-bit hyperplane buckets
#   only surface high-cosine pairs), so the meaningful gate is the
#   COMPETITIVE RATIO mean(found cos)/mean(optimal cos): observed
#   0.53–0.61 vs ~0 for random neighbors; gate ≥ 0.35.
# - ivf_kmeans: recall@3 observed 0.58–0.63, gate ≥ 0.40; ratio observed
#   ~0.94, gate ≥ 0.80.
# --------------------------------------------------------------------------


def _ann_quality_row(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """One-row quality summary: exact-side scalars + approx-vs-exact stats.

    All inputs are ≤ 20·k rows (the probe fan-out), so the single-row
    aggregates are driver-trivial at any corpus scale — the heavy lifting
    happened inside the two top-k plans.
    """
    ex = exact.select("probe_id", "neighbor_id", "cos_sim")
    ap = approx.select("probe_id", "neighbor_id", "cos_sim")
    hits = ap.join(ex.select("probe_id", "neighbor_id"), ["probe_id", "neighbor_id"])
    ex_agg = ex.agg(
        F.count_distinct("probe_id").alias("n_probes"),
        F.count("*").alias("n_exact"),
        F.avg("cos_sim").alias("_mean_exact"),
    )
    ap_agg = ap.agg(
        F.count("*").alias("_n_found"),
        F.avg("cos_sim").alias("_mean_found"),
        F.count_distinct("probe_id").alias("_probes_covered"),
    )
    hit_agg = hits.agg(F.count("*").alias("_n_hits"))
    return (
        ex_agg.crossJoin(ap_agg)
        .crossJoin(hit_agg)
        .withColumn("k", F.lit(k).cast("int"))
        .withColumn("recall", F.col("_n_hits") / F.col("n_exact"))
        .withColumn("ratio", F.col("_mean_found") / F.col("_mean_exact"))
    )


@register(
    "ann_lsh_recall_check",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(3 * COUNT(*) AS BIGINT) AS n_exact,
       CAST(3 AS INT) AS k,
       TRUE AS all_probes_covered,
       TRUE AS competitive_ge_35pct
FROM embeddings WHERE vec_id < 20
""",
    tags=("similarity", "llm", "approx", "quality"),
    doc=(
        "L3 quality gate: ann_lsh_topk vs exact cosine_topk ground truth — "
        "every probe must yield k candidates and the mean found cosine must "
        "reach ≥35% of the optimal mean (random neighbors score ~0)."
    ),
)
def ann_lsh_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(spark, sf_dir).filter(F.col("rn") <= 3)
    q = _ann_quality_row(exact, ann_lsh_topk(spark, sf_dir), k=3)
    return q.select(
        "n_probes",
        "n_exact",
        "k",
        (
            (F.col("_probes_covered") == F.col("n_probes"))
            & (F.col("_n_found") == F.col("n_probes") * F.col("k"))
        ).alias("all_probes_covered"),
        (F.col("ratio") >= 0.35).alias("competitive_ge_35pct"),
    )


@register(
    "ivf_kmeans_recall_check",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(3 * COUNT(*) AS BIGINT) AS n_exact,
       CAST(3 AS INT) AS k,
       TRUE AS recall_ge_40pct,
       TRUE AS competitive_ge_80pct
FROM embeddings WHERE vec_id < 20
""",
    tags=("similarity", "llm", "approx", "ann", "quality"),
    doc=(
        "L3 quality gate: ivf_kmeans_topk (2 Lloyd rounds, nprobe=4) vs the "
        "exact ground truth — recall@3 ≥ 0.40 and mean-cosine competitive "
        "ratio ≥ 0.80 (observed ~0.6 / ~0.94)."
    ),
)
def ivf_kmeans_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(spark, sf_dir).filter(F.col("rn") <= 3)
    q = _ann_quality_row(exact, ivf_kmeans_topk(spark, sf_dir), k=3)
    return q.select(
        "n_probes",
        "n_exact",
        "k",
        (F.col("recall") >= 0.40).alias("recall_ge_40pct"),
        (F.col("ratio") >= 0.80).alias("competitive_ge_80pct"),
    )


# --------------------------------------------------------------------------
# L3e: per-label embedding centroids — the reduce side of k-means and the
# build side of IVF lists, as a standalone checked op.  Same quantized-
# int determinism as cosine_topk: component sums are exact int64, the
# final double division is the same op sequence in both engines.
# --------------------------------------------------------------------------


@register(
    "embedding_centroids",
    oracle=f"""
WITH q AS (
  SELECT label, {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings
),
e AS (
  SELECT label, i AS dim, qv[i] AS qc
  FROM q CROSS JOIN (SELECT unnest(range(1, 9)) AS i)
)
SELECT label, dim, COUNT(*) AS n_vecs,
       CAST(SUM(qc) AS DOUBLE) / COUNT(*) / {_SCALE} AS centroid
FROM e GROUP BY label, dim
""",
    tags=("similarity", "llm", "agg"),
    doc=(
        "L3: per-label centroid of the first 8 embedding dims (quantized-"
        "int component sums -> exact; one hash aggregate on (label, dim), "
        "map-side combinable — the k-means reduce step at any scale)."
    ),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("label", _qvec("embedding").alias("qv"))
    ex = emb.select(
        "label", F.posexplode(F.slice("qv", 1, 8)).alias("pos", "qc")
    ).select("label", (F.col("pos") + 1).alias("dim"), "qc")
    return ex.groupBy("label", "dim").agg(
        F.count("*").alias("n_vecs"),
        (F.sum("qc").cast("double") / F.count("*") / _SCALE).alias("centroid"),
    )


# --------------------------------------------------------------------------
# L3f: contrastive hard-pair mining — for each anchor, the hardest
# positive (same label, most similar) and hardest negative (different
# label, most similar).  This is the triplet-mining step of embedding-
# model training data prep; "hard" pairs carry the gradient signal.
#
# Scale posture: identical to cosine_topk — broadcast the bounded anchor
# set, one linear scored pass over the corpus, then two per-anchor
# argmaxes via a window partitioned by (anchor, side).  Never an
# all-pairs corpus join; at 100 TB the anchor set is the batch being
# mined, the corpus pass is one scan.
# --------------------------------------------------------------------------


@register(
    "contrastive_pair_mining",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label, {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings
),
n AS (
  SELECT vec_id, label, qv, {_SQL_NORM.format(a='qv')} AS nrm FROM q
),
anchors AS (
  SELECT vec_id AS anchor_id, label AS alabel, qv AS aqv, nrm AS anrm
  FROM n WHERE vec_id < 20
),
scored AS (
  SELECT anchor_id,
         n.vec_id AS cand_id,
         n.label = alabel AS is_pos,
         {_sql_cos('aqv', 'qv', 'anrm', 'nrm')} AS cos_sim
  FROM anchors JOIN n ON n.vec_id <> anchor_id
),
best AS (
  SELECT anchor_id, cand_id, is_pos, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY anchor_id, is_pos
                            ORDER BY cos_sim DESC, cand_id) AS rn
  FROM scored
)
SELECT p.anchor_id,
       p.cand_id AS pos_id, p.cos_sim AS pos_sim,
       ng.cand_id AS neg_id, ng.cos_sim AS neg_sim,
       p.cos_sim - ng.cos_sim AS margin
FROM (SELECT * FROM best WHERE is_pos AND rn = 1) p
JOIN (SELECT * FROM best WHERE NOT is_pos AND rn = 1) ng USING (anchor_id)
""",
    tags=("similarity", "llm", "training"),
    doc="L3: hardest positive + hardest negative per anchor (triplet mining).",
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _qvec("embedding").alias("qv")
    )
    n = emb.select(
        "vec_id", "label", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm")
    )
    anchors = n.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("alabel"),
        F.col("qv").alias("aqv"),
        F.col("nrm").alias("anrm"),
    )
    scored = (
        F.broadcast(anchors)
        .join(n, F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("cand_id"),
            (F.col("label") == F.col("alabel")).alias("is_pos"),
            _cosine(
                _dot(F.col("aqv"), F.col("qv")), F.col("anrm"), F.col("nrm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id", "is_pos").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    pos = best.filter(F.col("is_pos")).select(
        "anchor_id", F.col("cand_id").alias("pos_id"), F.col("cos_sim").alias("pos_sim")
    )
    neg = best.filter(~F.col("is_pos")).select(
        "anchor_id", F.col("cand_id").alias("neg_id"), F.col("cos_sim").alias("neg_sim")
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        (F.col("pos_sim") - F.col("neg_sim")).alias("margin"),
    )


# --------------------------------------------------------------------------
# L3g: int8 quantization quality check — the compression step before
# shipping embeddings to an ANN index (per-vector symmetric scale =
# max|x|/127).  Reconstruction error is aggregated as nano-unit
# integers (round(err·1e9) → BIGINT) so the sums are exact in both
# engines; only the final divisions run in (identical-op) double.
# One linear pass, one hash agg on label — any-scale safe.
# --------------------------------------------------------------------------


@register(
    "embedding_quantize_check",
    oracle="""
WITH e AS (
  SELECT label,
         CAST(embedding AS DOUBLE[]) AS x,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), v -> ABS(v))) AS vmax
  FROM embeddings
),
q AS (
  SELECT label,
         len(x) AS n_dims,
         CAST(list_sum(list_transform(
           x, v -> CAST(ROUND(ABS(v - ROUND(v / (vmax / 127.0)) * (vmax / 127.0)) * 1e9) AS BIGINT)
         )) AS BIGINT) AS err_n,
         CAST(list_max(list_transform(
           x, v -> CAST(ROUND(ABS(v - ROUND(v / (vmax / 127.0)) * (vmax / 127.0)) * 1e9) AS BIGINT)
         )) AS BIGINT) AS max_err_n
  FROM e
  WHERE vmax > 0
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(err_n) AS BIGINT) AS total_err_nano,
       CAST(MAX(max_err_n) AS BIGINT) AS max_err_nano
FROM q GROUP BY label
""",
    tags=("similarity", "llm", "quantization"),
    doc=(
        "L3: per-label int8 reconstruction error of symmetric per-vector "
        "quantization (scale = max|x|/127), exact via nano-int sums."
    ),
)
def embedding_quantize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("x")
    )
    vmax = F.array_max(F.transform(F.col("x"), lambda v: F.abs(v)))
    e = emb.withColumn("vmax", vmax).filter(F.col("vmax") > 0)
    scale = F.col("vmax") / 127.0
    err_nano = lambda v: F.round(  # noqa: E731
        F.abs(v - F.round(v / scale) * scale) * 1e9
    ).cast("bigint")
    q = e.select(
        "label",
        F.aggregate(
            F.transform(F.col("x"), err_nano),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("err_n"),
        F.array_max(F.transform(F.col("x"), err_nano)).alias("max_err_n"),
    )
    return q.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("err_n").cast("bigint").alias("total_err_nano"),
        F.max("max_err_n").cast("bigint").alias("max_err_nano"),
    )


# --------------------------------------------------------------------------
# L3h: L2-norm distribution per label — the pre-normalization sanity
# check every embedding pipeline runs (catches unnormalized or collapsed
# batches).  Norms come from the exact int64 self-dot, so bucketing is
# engine-exact; output is one row per (label, bucket).
# --------------------------------------------------------------------------


@register(
    "embedding_norm_buckets",
    oracle=f"""
WITH q AS (
  SELECT label, {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings
),
n AS (
  SELECT label,
         SQRT(CAST({_SQL_NORM.format(a='qv')} AS DOUBLE)) / {_SCALE} AS nrm
  FROM q
)
SELECT label,
       CAST(FLOOR(nrm * 4) AS BIGINT) AS bucket,
       COUNT(*) AS n_vecs,
       ROUND(MIN(nrm), 6) AS min_norm,
       ROUND(MAX(nrm), 6) AS max_norm
FROM n GROUP BY label, CAST(FLOOR(nrm * 4) AS BIGINT)
""",
    tags=("similarity", "llm", "agg", "quality"),
    doc="L3: per-label L2-norm histogram (0.25-wide buckets) from exact int self-dots.",
)
def embedding_norm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "label", _qvec("embedding").alias("qv")
    )
    n = emb.select(
        "label",
        (F.sqrt(_dot(F.col("qv"), F.col("qv")).cast("double")) / _SCALE).alias("nrm"),
    )
    return (
        n.groupBy("label", F.floor(F.col("nrm") * 4).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


# --------------------------------------------------------------------------
# L3i: per-dimension variance audit — the collapsed-dimension check run
# before trusting an embedding space (a dim whose variance ~0 carries no
# signal; a batch of them means a broken encoder or truncated export).
# All moments are exact int64 sums over the 1e7-quantized components
# (n·q² ≤ 6e14·n « 2^63 at fixture scale; a 100 TB run would widen to
# DECIMAL(38,0) cells, same plan), so mean/variance are one identical
# double op-sequence in both engines.  Shape: posexplode → (dim) hash
# agg, map-side combinable — one linear pass.
# --------------------------------------------------------------------------


@register(
    "embedding_dim_variance",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings
),
e AS (
  SELECT i AS dim, qv[i] AS qc
  FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
)
SELECT dim,
       COUNT(*) AS n_vecs,
       CAST(SUM(qc) AS BIGINT) AS sum_q,
       CAST(SUM(qc * qc) AS BIGINT) AS sumsq_q,
       ROUND((CAST(SUM(qc * qc) AS DOUBLE) / COUNT(*)
              - (CAST(SUM(qc) AS DOUBLE) / COUNT(*)) * (CAST(SUM(qc) AS DOUBLE) / COUNT(*)))
             / ({_SCALE}.0 * {_SCALE}.0), 9) AS variance,
       ((CAST(SUM(qc * qc) AS DOUBLE) / COUNT(*)
         - (CAST(SUM(qc) AS DOUBLE) / COUNT(*)) * (CAST(SUM(qc) AS DOUBLE) / COUNT(*)))
        / ({_SCALE}.0 * {_SCALE}.0)) < 0.0001 AS is_collapsed
FROM e GROUP BY dim
""",
    tags=("similarity", "llm", "audit", "quality"),
    doc=(
        "L3: per-dimension embedding variance from exact quantized-int "
        "moments; flags near-zero-variance (collapsed) dimensions."
    ),
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(_qvec("embedding").alias("qv"))
    ex = emb.select(F.posexplode("qv").alias("pos", "qc")).select(
        (F.col("pos") + 1).alias("dim"), "qc"
    )
    mean = F.sum("qc").cast("double") / F.count("*")
    meansq = F.sum(F.col("qc") * F.col("qc")).cast("double") / F.count("*")
    var = (meansq - mean * mean) / (float(_SCALE) * float(_SCALE))
    return ex.groupBy("dim").agg(
        F.count("*").alias("n_vecs"),
        F.sum("qc").cast("bigint").alias("sum_q"),
        F.sum(F.col("qc") * F.col("qc")).cast("bigint").alias("sumsq_q"),
        F.round(var, 9).alias("variance"),
        (var < 0.0001).alias("is_collapsed"),
    )


# --------------------------------------------------------------------------
# L3j: off-diagonal covariance top-k — the redundant-dimension audit
# that complements embedding_dim_variance: a pair of dimensions with
# large |covariance| carries duplicated signal (the PCA-lite health
# check run before trusting a space for dedup/ANN).  Same exact-int
# moment machinery: all sums are int64 over 1e7-quantized components
# (|x·y| ≤ 1e14 per row — a petabyte-scale run widens the cells to
# DECIMAL(38,0), same plan), the covariance doubles are one identical
# op-sequence per engine, and the top-k boundary is tie-broken by
# (dim_i, dim_j) so the LIMIT cut is engine-independent.  Shape:
# chained posexplode → 2016 pair-groups, map-side combinable; the sort
# ranks 2016 rows, not data.
# --------------------------------------------------------------------------


@register(
    "embedding_covariance_topk",
    oracle=f"""
WITH q AS (
  SELECT {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings
),
e AS (
  SELECT i AS dim_i, j AS dim_j, qv[i] AS x, qv[j] AS y
  FROM q
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS j)
  WHERE i < j
),
s AS (
  SELECT dim_i, dim_j, COUNT(*) AS n_vecs,
         CAST(SUM(x * y) AS DOUBLE) / COUNT(*)
           - (CAST(SUM(x) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(y) AS DOUBLE) / COUNT(*)) AS cov_q
  FROM e GROUP BY dim_i, dim_j
)
SELECT dim_i, dim_j, n_vecs,
       ROUND(cov_q / ({_SCALE}.0 * {_SCALE}.0), 9) AS covariance
FROM s
ORDER BY ABS(cov_q) DESC, dim_i, dim_j
LIMIT 20
""",
    tags=("similarity", "llm", "audit", "quality"),
    doc=(
        "L3: top-20 |covariance| dimension pairs from exact quantized-int "
        "moments — the redundant-dimension health check of the embedding "
        "space."
    ),
)
def embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair moments via per-task Gram partials (round 15, VERDICT r14 #4
    # — the #6-r14 design applied to the i<j pair sums): the chained
    # posexplode shipped Θ(n·d²/2) struct rows into the hash aggregate
    # (~4M at sf0.1, linear in the corpus); each task now folds its rows
    # into ONE d×d int64 Gram partial + per-dim sums + a row count with
    # a vectorized matmul (mapInArrow, guide §4.2) and emits the 2016
    # i<j pairs, so the aggregate input is Θ(tasks·d²) at any corpus
    # size.  Integer sums are associative/commutative → Σxy, Σx, Σy, n
    # are bit-identical to the exploded plan, and the covariance DOUBLE
    # is computed in the IDENTICAL op-sequence below (cast-to-double
    # divisions of the same exact ints), so the oracle hash is
    # untouched.
    emb = table(spark, sf_dir, "embeddings").select(_qvec("embedding").alias("qv"))
    q = emb.filter(F.col("qv").isNotNull())

    def _pair_moments(batches):
        import numpy as np
        import pyarrow as pa

        dims = _DIMS
        acc = np.zeros((dims, dims), dtype=np.int64)
        sums = np.zeros(dims, dtype=np.int64)
        cnt = 0
        for b in batches:
            col = b.column(0)
            flat_arr = col.flatten()
            # ADVICE r14: the kernel assumes dense, non-null, fixed-length
            # vectors — a null element would become garbage via NaN and a
            # wrong-length array would shift every later row; fail loud.
            if col.null_count or flat_arr.null_count:
                raise ValueError(
                    "covariance Gram kernel requires non-null embedding "
                    "vectors with non-null elements"
                )
            flat = flat_arr.to_numpy(zero_copy_only=False)
            if flat.size % dims:
                raise ValueError(
                    f"embedding length not a multiple of {dims}: "
                    f"{flat.size} flattened elements"
                )
            m = flat.astype(np.int64, copy=False).reshape(-1, dims)
            acc += m.T @ m
            sums += m.sum(axis=0)
            cnt += m.shape[0]
        if cnt:
            iu, ju = np.triu_indices(dims, k=1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array((iu + 1).astype(np.int32), pa.int32()),
                    pa.array((ju + 1).astype(np.int32), pa.int32()),
                    pa.array(acc[iu, ju], pa.int64()),
                    pa.array(sums[iu], pa.int64()),
                    pa.array(sums[ju], pa.int64()),
                    pa.array(np.full(iu.shape, cnt, dtype=np.int64), pa.int64()),
                ],
                names=["dim_i", "dim_j", "sxy", "sx", "sy", "n"],
            )

    partials = q.mapInArrow(
        _pair_moments, "dim_i int, dim_j int, sxy long, sx long, sy long, n long"
    )
    cov_q = (
        F.sum("sxy").cast("double") / F.sum("n")
        - (F.sum("sx").cast("double") / F.sum("n"))
        * (F.sum("sy").cast("double") / F.sum("n"))
    )
    s = partials.groupBy("dim_i", "dim_j").agg(
        F.sum("n").alias("n_vecs"), cov_q.alias("cov_q")
    )
    return (
        s.orderBy(F.abs(F.col("cov_q")).desc(), "dim_i", "dim_j")
        .limit(20)
        .select(
            "dim_i",
            "dim_j",
            "n_vecs",
            F.round(F.col("cov_q") / (float(_SCALE) * float(_SCALE)), 9).alias(
                "covariance"
            ),
        )
    )


# --------------------------------------------------------------------------
# L11e: embedding principal direction (round 7) — the dominant
# eigenvector of the corpus second-moment matrix via two power
# iterations, every step exact-integer or IEEE-primitive so both
# engines emit bit-identical loadings.
#
# Pipeline: quantize at 1e4 (coarser than _qvec's 1e7 ON PURPOSE —
# moment cells are Σ q_i·q_j over the corpus, and 1e4 keeps the exact
# int64 sum safe to ~10⁹ vectors where 1e7 would overflow at ~10⁴);
# per-vector 64×64 outer-product structs explode into a (i, j) hash
# aggregate whose exchange carries 4096 cells per task, not the corpus
# (the countmin/moment-matrix pattern); the matrix normalizes to a
# 1e6 integer grid (FLOOR(x/max·1e6 + 0.5) — IEEE-deterministic, no
# engine ROUND); each matvec is a 64-row broadcast join over the
# 4096-cell matrix with exact bigint products; vectors re-quantize to
# the same grid between iterations so products stay ≪ 2^63.
# Sign/start: v0 = all-ones, so the converged sign is deterministic.
# --------------------------------------------------------------------------

_PCA_SCALE = 10_000
_PCA_GRID = 1_000_000


def _pca_quant(x):
    """FLOOR(x/max·grid + 0.5) — deterministic re-quantization."""
    return F.floor(
        F.col(x).cast("double") / F.col("_m") * _PCA_GRID + F.lit(0.5)
    ).cast("bigint")


@register(
    "embedding_principal_direction",
    oracle=f"""
WITH q AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * {_PCA_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
cells AS (
  SELECT g.i, h.j, SUM(qv[g.i] * qv[h.j]) AS c
  FROM q, unnest(range(1, 65)) AS g(i), unnest(range(1, 65)) AS h(j)
  GROUP BY g.i, h.j
),
mc AS (SELECT MAX(ABS(c)) AS m FROM cells),
covq AS (
  SELECT i, j, CAST(FLOOR(CAST(c AS DOUBLE) / m * {_PCA_GRID} + 0.5) AS BIGINT) AS cq
  FROM cells, mc
),
v1 AS (SELECT i, SUM(cq) AS v FROM covq GROUP BY i),
m1 AS (SELECT MAX(ABS(v)) AS m FROM v1),
v1q AS (
  SELECT i AS j, CAST(FLOOR(CAST(v AS DOUBLE) / m * {_PCA_GRID} + 0.5) AS BIGINT) AS x
  FROM v1, m1
),
v2 AS (SELECT covq.i, SUM(cq * x) AS v FROM covq JOIN v1q USING (j) GROUP BY covq.i),
m2 AS (SELECT MAX(ABS(v)) AS m FROM v2)
SELECT i AS dim, CAST(FLOOR(CAST(v AS DOUBLE) / m * {_PCA_GRID} + 0.5) AS BIGINT) AS loading
FROM v2, m2
""",
    tags=("similarity", "llm", "embedding", "health"),
    doc=(
        "L11: dominant principal direction of the embedding second-moment "
        "matrix — two exact-integer power iterations on a 1e6 grid "
        "(collapsed/anisotropic-space detector; the direction every "
        "whitening step removes first)."
    ),
)
def embedding_principal_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    covq, v2 = _pca_matrix_and_v2(spark, sf_dir)
    m2 = v2.agg(F.max(F.abs(F.col("v"))).alias("_m"))
    return (
        v2.crossJoin(F.broadcast(m2))
        .select(F.col("i").alias("dim"), _pca_quant("v").alias("loading"))
    )


def _pca_matrix_and_v2(spark: SparkSession, sf_dir: str):
    """(quantized 4096-cell moment matrix, un-normalized second power
    iterate) — shared by the principal-direction op and the round-7
    anisotropy score.

    The moment matrix is a Gram matrix: Σ_rows qv·qvᵀ.  Exploding the
    per-row 64×64 outer product shipped Θ(n·d²) struct rows into the
    hash aggregate (8.2M rows at sf0.1, ~5 s — the dominant cost of
    both PCA queries); instead each task folds its rows into ONE d×d
    int64 partial with a vectorized matmul (``mapInArrow``, guide §4.2)
    and emits d² rows, so the aggregate sees Θ(tasks·d²) rows no matter
    the corpus size.  Integer addition is associative/commutative, so
    the summed cells are bit-identical to the exploded plan and the
    DuckDB oracle.  |qv| ≤ ~1e4·|x| and the int64 partials wrap exactly
    like Spark bigint, far from overflow at any corpus the moment grid
    supports (the _PCA_SCALE comment below)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _PCA_SCALE + F.lit(0.5)).cast("bigint"),
        ).alias("qv")
    )

    def _gram(batches):
        import numpy as np
        import pyarrow as pa

        dims = _DIMS
        acc = np.zeros((dims, dims), dtype=np.int64)
        seen = False
        for b in batches:
            col = b.column(0)
            flat_arr = col.flatten()
            # ADVICE r14: the kernel assumes dense, non-null,
            # fixed-length vectors — a null element would turn into NaN
            # garbage through astype and a wrong-length array would
            # shift every later row; fail loud instead of computing a
            # silently wrong moment matrix.
            if col.null_count or flat_arr.null_count:
                raise ValueError(
                    "PCA Gram kernel requires non-null embedding vectors "
                    "with non-null elements"
                )
            flat = flat_arr.to_numpy(zero_copy_only=False)
            if flat.size % dims:
                raise ValueError(
                    f"embedding length not a multiple of {dims}: "
                    f"{flat.size} flattened elements"
                )
            m = flat.astype(np.int64, copy=False).reshape(-1, dims)
            acc += m.T @ m
            seen = True
        if seen:
            i = np.repeat(np.arange(1, dims + 1, dtype=np.int32), dims)
            j = np.tile(np.arange(1, dims + 1, dtype=np.int32), dims)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(i, pa.int32()),
                    pa.array(j, pa.int32()),
                    pa.array(acc.reshape(-1), pa.int64()),
                ],
                names=["i", "j", "p"],
            )

    cells = (
        q.mapInArrow(_gram, "i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("c"))
    )
    mc = cells.agg(F.max(F.abs(F.col("c"))).alias("_m"))
    # covq is referenced by both matvecs (and transitively by the output)
    # — checkpoint the 4096-row matrix so the n×4096 moment pass runs
    # ONCE instead of once per reference.
    covq = (
        cells.crossJoin(F.broadcast(mc))
        .select("i", "j", _pca_quant("c").alias("cq"))
        .localCheckpoint(eager=False)
    )
    v1 = covq.groupBy("i").agg(F.sum("cq").alias("v"))
    m1 = v1.agg(F.max(F.abs(F.col("v"))).alias("_m"))
    v1q = (
        v1.crossJoin(F.broadcast(m1))
        .select(F.col("i").alias("j"), _pca_quant("v").alias("x"))
    )
    v2 = (
        covq.join(F.broadcast(v1q), "j")
        .groupBy("i")
        .agg(F.sum(F.col("cq") * F.col("x")).alias("v"))
    )
    return covq, v2


# --------------------------------------------------------------------------
# L2/L3b: SemDeDup, TRUE keep-first greedy (round 7, closing ADVICE r6
# item 1) — semdedup_prune's order-free rule drops any vector with ANY
# smaller-id neighbor at cos ≥ τ, including neighbors that were
# themselves dropped (transitive suppression; a–b–c chains drop both b
# and c).  This variant implements the paper's sequential greedy
# exactly: scan each cluster's members in id order and drop a vector
# only if it has a KEPT smaller-id neighbor — c survives the a–b–c
# chain.  Greedy keeps ⊇ prune keeps, always (tests assert it).
#
# Per-cluster sequential state is the textbook cogroup-applyInPandas
# case: clusters are bounded (~125 members by K ∝ n), so the pandas
# greedy is O(members + pairs) per group and the shuffle carries only
# (cluster → members, cluster → pairs).  The DuckDB oracle replays the
# scan as a recursive CTE whose per-cluster state row carries the
# kept-list (one row per cluster per rank — Σ cluster-size iterations).
# --------------------------------------------------------------------------


def _semdedup_greedy_pdf(members, pairs):
    """cogroup(fn): one cluster's members + its cos≥τ pairs → kept flags."""
    import pandas as pd

    ids = sorted(members["vec_id"].tolist())
    nbrs: dict[int, set[int]] = {}
    for u, v in zip(pairs["u"], pairs["v"]):
        nbrs.setdefault(int(v), set()).add(int(u))
    kept: set[int] = set()
    for v in ids:
        if not (nbrs.get(v, set()) & kept):
            kept.add(v)
    cid = int(members["centroid_id"].iloc[0])
    return pd.DataFrame(
        {
            "vec_id": ids,
            "cluster_id": [cid] * len(ids),
            "kept": [v in kept for v in ids],
        }
    )


@register(
    "semdedup_greedy_keep_first",
    oracle=f"""
WITH RECURSIVE n AS (
  {_SQL_N}
),
{_sql_ivf_assign()},
mem AS (
  SELECT centroid_id AS c, vec_id,
         ROW_NUMBER() OVER (PARTITION BY centroid_id ORDER BY vec_id) AS r
  FROM assigned
),
prs AS (
  SELECT a.centroid_id AS c, a.vec_id AS u, b.vec_id AS v
  FROM assigned a
  JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {_SQL_COS_AB} >= {_SEMDEDUP_TAU}
),
walk AS (
  SELECT c, r, [vec_id] AS kept_list FROM mem WHERE r = 1
  UNION ALL
  SELECT w.c, w.r + 1,
         CASE WHEN EXISTS (
                SELECT 1 FROM prs p
                WHERE p.c = w.c AND p.v = m2.vec_id
                  AND list_contains(w.kept_list, p.u))
              THEN w.kept_list
              ELSE list_append(w.kept_list, m2.vec_id) END
  FROM walk w JOIN mem m2 ON m2.c = w.c AND m2.r = w.r + 1
),
fin AS (
  SELECT c, kept_list FROM (
    SELECT c, kept_list, ROW_NUMBER() OVER (PARTITION BY c ORDER BY r DESC) AS z
    FROM walk
  ) WHERE z = 1
)
SELECT mem.vec_id, mem.c AS cluster_id,
       list_contains(fin.kept_list, mem.vec_id) AS kept
FROM mem JOIN fin ON mem.c = fin.c
""",
    tags=("similarity", "dedup", "llm"),
    doc=(
        "L2/L3: SemDeDup with the paper's TRUE sequential keep-first "
        "greedy (drop only on a KEPT smaller-id neighbor — an a–b–c "
        "chain keeps c) — per-cluster scan in cogrouped applyInPandas, "
        "bounded by the ~125-member clusters; recursive-CTE oracle "
        "replays the scan with a kept-list state row per cluster."
    ),
)
def semdedup_greedy_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = _semdedup_assign(spark, sf_dir).localCheckpoint(eager=False)
    a = assigned.alias("a")
    b = assigned.alias("b")
    pair_cos = _cosine(_dot(F.col("a.qv"), F.col("b.qv")), F.col("a.nrm"), F.col("b.nrm"))
    pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= _SEMDEDUP_TAU)
        .select(
            F.col("a.centroid_id").alias("centroid_id"),
            F.col("a.vec_id").alias("u"),
            F.col("b.vec_id").alias("v"),
        )
    )
    members = assigned.select("centroid_id", "vec_id")
    return (
        members.groupBy("centroid_id")
        .cogroup(pairs.groupBy("centroid_id"))
        .applyInPandas(_semdedup_greedy_pdf, "vec_id long, cluster_id long, kept boolean")
    )


# --------------------------------------------------------------------------
# L11f: embedding anisotropy score (round 7) — Rayleigh quotient of the
# power-iteration direction over the trace of the (quantized) moment
# matrix: ≈ λ₁ / Σλ, the fraction of second-moment mass on the dominant
# direction.  ~1/64 for isotropic embeddings; → 1 when the space has
# collapsed onto one axis (the common failure of un-normalized or
# over-trained embedding stacks; what whitening removes).  Exact-int
# numerator/denominator (milli-grid direction × 1e6-grid matrix), both
# < 2⁵³ so the final double ratio is engine-identical.
# --------------------------------------------------------------------------

_PCA_SQL_CTES = f"""
WITH q AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * {_PCA_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
cells AS (
  SELECT g.i, h.j, SUM(qv[g.i] * qv[h.j]) AS c
  FROM q, unnest(range(1, 65)) AS g(i), unnest(range(1, 65)) AS h(j)
  GROUP BY g.i, h.j
),
mc AS (SELECT MAX(ABS(c)) AS m FROM cells),
covq AS (
  SELECT i, j, CAST(FLOOR(CAST(c AS DOUBLE) / m * {_PCA_GRID} + 0.5) AS BIGINT) AS cq
  FROM cells, mc
),
v1 AS (SELECT i, SUM(cq) AS v FROM covq GROUP BY i),
m1 AS (SELECT MAX(ABS(v)) AS m FROM v1),
v1q AS (
  SELECT i AS j, CAST(FLOOR(CAST(v AS DOUBLE) / m * {_PCA_GRID} + 0.5) AS BIGINT) AS x
  FROM v1, m1
),
v2 AS (SELECT covq.i, SUM(cq * x) AS v FROM covq JOIN v1q USING (j) GROUP BY covq.i)
"""


@register(
    "embedding_anisotropy_score",
    oracle=_PCA_SQL_CTES
    + """,
m2 AS (SELECT MAX(ABS(v)) AS m FROM v2),
v3 AS (
  SELECT i, CAST(FLOOR(CAST(v AS DOUBLE) / m * 1000 + 0.5) AS BIGINT) AS x
  FROM v2, m2
),
num AS (
  SELECT CAST(SUM(cq * vi.x * vj.x) AS BIGINT) AS num
  FROM covq JOIN v3 vi ON covq.i = vi.i JOIN v3 vj ON covq.j = vj.i
),
den AS (
  SELECT CAST((SELECT SUM(x * x) FROM v3) AS BIGINT) AS vv,
         CAST((SELECT SUM(cq) FROM covq WHERE i = j) AS BIGINT) AS trace
)
SELECT CAST(FLOOR(CAST(num AS DOUBLE) / (vv * trace) * 1e6 + 0.5) AS BIGINT)
         AS anisotropy_e6,
       trace AS trace_q
FROM num, den
""",
    tags=("similarity", "llm", "embedding", "health"),
    doc=(
        "L11: anisotropy ≈ λ₁/Σλ — Rayleigh quotient of the power-"
        "iteration direction over the moment-matrix trace (1/64 ≈ "
        "isotropic, →1 collapsed), exact-int numerator/denominator."
    ),
)
def embedding_anisotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    covq, v2 = _pca_matrix_and_v2(spark, sf_dir)
    m2 = v2.agg(F.max(F.abs(F.col("v"))).alias("_m"))
    v3 = (
        v2.crossJoin(F.broadcast(m2))
        .select(
            "i",
            F.floor(F.col("v").cast("double") / F.col("_m") * 1000 + F.lit(0.5))
            .cast("bigint")
            .alias("x"),
        )
    )
    vi = v3.alias("vi")
    vj = v3.select(F.col("i").alias("j"), F.col("x").alias("xj"))
    num = (
        covq.join(F.broadcast(vi), "i")
        .join(F.broadcast(vj), "j")
        .agg(F.sum(F.col("cq") * F.col("x") * F.col("xj")).cast("bigint").alias("num"))
    )
    vv = v3.agg(F.sum(F.col("x") * F.col("x")).cast("bigint").alias("vv"))
    trace = (
        covq.filter(F.col("i") == F.col("j"))
        .agg(F.sum("cq").cast("bigint").alias("trace"))
    )
    return (
        num.crossJoin(F.broadcast(vv))
        .crossJoin(F.broadcast(trace))
        .select(
            F.floor(
                F.col("num").cast("double") / (F.col("vv") * F.col("trace")) * 1e6
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("anisotropy_e6"),
            F.col("trace").alias("trace_q"),
        )
    )


# --------------------------------------------------------------------------
# L3e (round 8): MULTI-PROBE hyperplane LSH (Lv et al., VLDB 2007).
# The storage-vs-work trade the 4-table variant above can't make: at
# 100 TB every extra hash table is another full copy of the signature
# index, so production ANN probes NEIGHBORING buckets of FEWER tables
# instead.  Here: 2 tables × (1 exact + 8 Hamming-1) probes per query
# vs ann_lsh_topk's 4 tables × 1 probe.  The corpus side is identical
# to the single-probe index (signatures once, bucket equi-join); only
# the PROBE side fans out ×9 — 20 probes × 2 tables × 9 rows, a
# broadcast-sized frame regardless of corpus size.  Integer plane dots
# make buckets engine-portable; the oracle replays the full probe
# expansion, so this approximate search is value-hash-checked.
# --------------------------------------------------------------------------

_MP_TABLES = 2  # multi-probe uses HALF the index of ann_lsh_topk


@register(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
WITH n AS (
  {_SQL_N}
),
planes AS (SELECT {_SQL_PLANES} AS p),
sigb AS (
  SELECT vec_id, g.k // {_LSH_BITS} AS t,
         CASE WHEN {_SQL_DOT.format(a='p[g.k + 1]', b='qv')} > 0
              THEN (1 << (g.k % {_LSH_BITS})) ELSE 0 END AS w
  FROM n, planes, generate_series(0, {_MP_TABLES * _LSH_BITS - 1}) AS g(k)
),
sigs AS (SELECT vec_id, t, SUM(w) AS sig FROM sigb GROUP BY 1, 2),
cbuckets AS (
  SELECT vec_id, CAST(t AS VARCHAR) || ':' || CAST(sig AS VARCHAR) AS bucket
  FROM sigs
),
pbuckets AS (
  SELECT vec_id,
         CAST(t AS VARCHAR) || ':' ||
           CAST(CASE WHEN g.j = {_LSH_BITS} THEN sig
                     ELSE xor(sig, 1 << g.j) END AS VARCHAR) AS bucket
  FROM sigs, generate_series(0, {_LSH_BITS}) AS g(j)
  WHERE vec_id < 20
),
cand AS (
  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
  FROM pbuckets p
  JOIN cbuckets c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
),
scored AS (
  SELECT cand.probe_id, cand.neighbor_id,
         {_SQL_COS_AB} AS cos_sim
  FROM cand
  JOIN n a ON a.vec_id = cand.probe_id
  JOIN n b ON b.vec_id = cand.neighbor_id
)
{_sql_probe_topk('scored', 3)}""",
    tags=("similarity", "llm", "approx", "ann"),
    doc=(
        "L3: multi-probe LSH — 2 tables, each probed at the exact "
        "bucket plus all 8 Hamming-1 neighbors; half the index of the "
        "4-table variant at comparable recall.  Deterministic buckets "
        "→ fully oracle-checked."
    ),
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    planes_row = spark.createDataFrame(
        [([list(p) for p in _QPLANES],)], "planes array<array<bigint>>"
    )
    emb = (
        table(spark, sf_dir, "embeddings")
        .repartition(shuffle_parts(spark), F.col("vec_id"))
        .select("vec_id", _qvec("embedding").alias("qv"))
        .crossJoin(F.broadcast(planes_row))
    )

    sigs = emb.select(
        "vec_id",
        "qv",
        _dot(F.col("qv"), F.col("qv")).alias("nrm"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), _lsh_sig(t).alias("sig"))
                    for t in range(_MP_TABLES)
                ]
            )
        ).alias("ts"),
    ).select("vec_id", "qv", "nrm", F.col("ts.t").alias("t"), F.col("ts.sig").alias("sig"))

    cbuckets = sigs.select(
        "vec_id", "qv", "nrm",
        F.concat_ws(":", F.col("t").cast("string"), F.col("sig").cast("string")).alias("bucket"),
    )
    # probe fan-out: exact bucket (j = bits) + each single-bit flip
    pbuckets = (
        sigs.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("qv").alias("pqv"),
            F.col("nrm").alias("pnrm"),
            "t",
            "sig",
            F.explode(F.sequence(F.lit(0), F.lit(_LSH_BITS))).alias("j"),
        )
        .select(
            "probe_id", "pqv", "pnrm",
            F.concat_ws(
                ":",
                F.col("t").cast("string"),
                F.when(F.col("j") == _LSH_BITS, F.col("sig"))
                .otherwise(F.expr("sig ^ shiftleft(1, j)"))
                .cast("string"),
            ).alias("pbucket"),
        )
    )
    candidates = (
        F.broadcast(pbuckets)
        .join(
            cbuckets,
            (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("probe_id")),
        )
        .select("probe_id", "pqv", "pnrm", F.col("vec_id").alias("neighbor_id"), "qv", "nrm")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = candidates.select(
        "probe_id",
        "neighbor_id",
        _cosine(_dot(F.col("pqv"), F.col("qv")), F.col("pnrm"), F.col("nrm")).alias("cos_sim"),
    )
    return _probe_topk(scored, 3).select("probe_id", "neighbor_id", "rn", "cos_sim")


@register(
    "ann_lsh_multiprobe_recall_check",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(3 * COUNT(*) AS BIGINT) AS n_exact,
       CAST(3 AS INT) AS k,
       TRUE AS all_probes_covered,
       TRUE AS competitive_ge_60pct
FROM embeddings WHERE vec_id < 20
""",
    tags=("similarity", "llm", "approx", "quality"),
    doc=(
        "L3 quality gate for multi-probe LSH: with HALF the index of "
        "ann_lsh_topk (2 tables vs 4), Hamming-1 probing must reach a "
        "≥60% competitive ratio vs exact top-3 — measured 0.79 at "
        "sf0.01 vs the 4-table single-probe's 0.53, the Lv et al. "
        "storage-for-probes trade paying off."
    ),
)
def ann_lsh_multiprobe_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(spark, sf_dir).filter(F.col("rn") <= 3)
    q = _ann_quality_row(exact, ann_lsh_multiprobe_topk(spark, sf_dir), k=3)
    return q.select(
        "n_probes",
        "n_exact",
        "k",
        (
            (F.col("_probes_covered") == F.col("n_probes"))
            & (F.col("_n_found") == F.col("n_probes") * F.col("k"))
        ).alias("all_probes_covered"),
        (F.col("ratio") >= 0.60).alias("competitive_ge_60pct"),
    )


# --------------------------------------------------------------------------
# L3f (round 8, codebooks TRAINED round 10): PRODUCT-QUANTIZATION ANN
# (Jégou et al., PAMI 2011) — the remaining member of the production
# ANN family (exact / LSH / multi-probe / IVF / IVF+k-means / PQ).
# The 64-dim space splits into 8 subspaces × 8 dims; each subspace
# gets a 16-entry codebook — hash-ranked seed vectors refined by one
# per-subspace k-means (Lloyd) round over the corpus on the integer
# grid (``_pq_train``) — so a corpus vector compresses to 8 bytes of
# codes.  Queries never decompress:
# ADC (asymmetric distance computation) precomputes each probe's
# 8×16-entry table of exact squared distances to every centroid slice
# and scores a candidate by 8 table lookups.
# Scale shape: encoding is MAP-SIDE ONLY — the codebook rides along as
# a one-row broadcast array and the per-subspace argmin is an
# expression-level fold (no explode, no shuffle); scoring is corpus ×
# 20 probes against a broadcast 128-entry table each, then top-3 per
# probe.  At 100 TB the index is n×8 bytes and the scan is additions.
# Quantized-int squared distances (≤ ~6e16 « 2^63) make every code and
# every ADC score an exact BIGINT — the whole search, compression
# included, is value-hash replayed by the oracle.
# --------------------------------------------------------------------------

_PQ_SUBS = 8       # subspaces
_PQ_SUBDIM = 8     # dims per subspace
_PQ_K = 16         # codewords per subspace (hash-ranked seeds; resolution, not a partitioning knob)

_SQL_PQ_L2 = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}),"
    " s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)"
)


def _sql_pq_train_cb(train: str = "n", pfx: str = "") -> str:
    """PQ codebook-training CTE chain over CTE ``{train}`` (vec_id,
    qv): hash-ranked seeds (cb0) -> round-0 assignment (codes0) -> one
    Lloyd round per subspace (tr: exact bigint slice sums, one double
    divide, ROUND — the _recenter convention, bit-identical to the
    Spark fold) -> trained codebook ``{pfx}cb`` (a codeword with no
    members keeps its seed slice).  Parameterized (round 11) so the
    streaming ANN-index gate can train on its bootstrap slice while the
    batch PQ queries keep training on the full corpus; ``pfx`` prefixes
    every CTE name so two codebooks (e.g. the retrain-swap audit's old
    and new) can coexist in one query."""
    p = pfx
    sl = f"n.qv[({p}cb0.s * {_PQ_SUBDIM} + 1):(({p}cb0.s + 1) * {_PQ_SUBDIM})]"
    return f"""{p}picked AS (  -- hash-ranked codeword seeds (top-{_PQ_K} by mix hash)
  SELECT vec_id, qv, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c
  FROM (
    SELECT vec_id, qv,
           ROW_NUMBER() OVER (ORDER BY {_sql_seed_h('vec_id')}, vec_id) AS hr
    FROM {train}
  ) WHERE hr <= {_PQ_K}
),
{p}cb0 AS (  -- seed codebook: (subspace s, code c, 8-dim centroid slice)
  SELECT g.s, c,
         qv[(g.s * {_PQ_SUBDIM} + 1):((g.s + 1) * {_PQ_SUBDIM})] AS cs
  FROM {p}picked, generate_series(0, {_PQ_SUBS - 1}) AS g(s)
),
{p}codes0 AS (  -- round-0 assignment: per (vec, subspace) the nearest seed
  SELECT vec_id, s, c FROM (
    SELECT n.vec_id, {p}cb0.s, {p}cb0.c,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id, {p}cb0.s
             ORDER BY {_SQL_PQ_L2.format(a=sl, b=f'{p}cb0.cs')}, {p}cb0.c
           ) AS rn
    FROM {train} AS n CROSS JOIN {p}cb0
  ) WHERE rn = 1
),
{p}tr AS (  -- Lloyd round: per-(s, c) integer mean of member slices
  SELECT s, c, list(m ORDER BY d) AS cs FROM (
    SELECT c0.s, c0.c, g.d AS d,
           CAST(ROUND(CAST(SUM(n.qv[c0.s * {_PQ_SUBDIM} + g.d]) AS DOUBLE)
                      / COUNT(*)) AS BIGINT) AS m
    FROM {p}codes0 c0
    JOIN {train} AS n ON n.vec_id = c0.vec_id,
         generate_series(1, {_PQ_SUBDIM}) AS g(d)
    GROUP BY c0.s, c0.c, g.d
  ) GROUP BY s, c
),
{p}cb AS (  -- trained codebook; empty codewords keep their seed slice
  SELECT {p}cb0.s, {p}cb0.c, COALESCE({p}tr.cs, {p}cb0.cs) AS cs
  FROM {p}cb0 LEFT JOIN {p}tr ON {p}tr.s = {p}cb0.s AND {p}tr.c = {p}cb0.c
)"""


def _sql_pq_encode(src: str = "n", out: str = "codes", cb: str = "cb") -> str:
    """``{out}`` CTE: encode every row of CTE ``{src}`` (vec_id, qv)
    against the trained codebook CTE ``{cb}`` — per (vec, subspace) the
    L2-nearest codeword, ties to the lower code."""
    slc = f"n.qv[({cb}.s * {_PQ_SUBDIM} + 1):(({cb}.s + 1) * {_PQ_SUBDIM})]"
    return f"""{out} AS (  -- encoding vs the TRAINED codebook
  SELECT vec_id, s, c FROM (
    SELECT n.vec_id, {cb}.s, {cb}.c,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id, {cb}.s
             ORDER BY {_SQL_PQ_L2.format(a=slc, b=f'{cb}.cs')}, {cb}.c
           ) AS rn
    FROM {src} AS n CROSS JOIN {cb}
  ) WHERE rn = 1
)"""


def _sql_pq_ctes() -> str:
    """Shared PQ oracle core for the batch queries: codebook trained on
    the full corpus (``_sql_pq_train_cb``), corpus codes
    (``_sql_pq_encode``) + per-probe ADC distance tables."""
    slc = f"n.qv[(cb.s * {_PQ_SUBDIM} + 1):((cb.s + 1) * {_PQ_SUBDIM})]"
    return f"""
WITH n AS (
  SELECT vec_id, {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings
),
{_sql_pq_train_cb('n')},
{_sql_pq_encode('n', 'codes')},
dtab AS (  -- per probe the exact distance to every (s, c) centroid slice
  SELECT n.vec_id AS probe_id, cb.s, cb.c,
         {_SQL_PQ_L2.format(a=slc, b='cb.cs')} AS d
  FROM n CROSS JOIN cb
  WHERE n.vec_id < 20
)"""


@register(
    "pq_ann_topk",
    oracle=_sql_pq_ctes() + """,
scored AS (  -- ADC: sum of 8 table lookups per (probe, candidate)
  SELECT t.probe_id, codes.vec_id AS neighbor_id, SUM(t.d) AS adc_dist
  FROM codes
  JOIN dtab t ON t.s = codes.s AND t.c = codes.c
  WHERE codes.vec_id <> t.probe_id
  GROUP BY 1, 2
)
SELECT probe_id, neighbor_id, rn, adc_dist
FROM (
  SELECT probe_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc_dist, neighbor_id) AS rn
  FROM scored
)
WHERE rn <= 3
""",
    tags=("similarity", "llm", "approx", "ann"),
    doc=(
        "L3: product-quantization ANN — 8×8-dim subspaces, 16-entry "
        "codebooks, 8-byte codes, ADC table-lookup scoring; integer "
        "squared distances end-to-end, fully oracle-replayed."
    ),
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = _pq_scored(spark, sf_dir)
    w = Window.partitionBy("probe_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("probe_id", "neighbor_id", "rn", "adc_dist")
    )


def _pq_l2(a, b) -> Column:
    """Exact integer squared L2 between two 8-dim slices (array fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _pq_sub(s) -> Column:
    """8-dim slice of the row's ``qv`` for subspace s (Column or int)."""
    return F.slice(F.col("qv"), s * _PQ_SUBDIM + 1, _PQ_SUBDIM)


def _pq_code_for(s) -> Column:
    """Expression-level argmin over the 16 entries of ``cb[s]``: fold a
    (best_dist, best_c) struct — zero shuffle, zero explode.  Row needs
    ``qv`` and the broadcast ``cb`` column."""
    big = F.lit(1 << 62).cast("bigint")

    def step(acc, c):
        d = _pq_l2(_pq_sub(s), F.get(F.get(F.col("cb"), s), c))
        better = d < acc["bd"]
        return F.struct(
            F.when(better, d).otherwise(acc["bd"]).alias("bd"),
            F.when(better, c).otherwise(acc["bc"]).alias("bc"),
        )

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_K - 1)),
        F.struct(big.alias("bd"), F.lit(-1).alias("bc")),
        step,
    )["bc"]


def _cb_row_from_entries(entries: DataFrame) -> DataFrame:
    """Reshape (s, c, cs) codebook entries into the ONE broadcastable
    row ``cb[s][c] = 8-dim centroid slice`` the encoder folds over."""
    return (
        entries.groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "c", "cs"))).alias("e")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1)),
                lambda s: F.transform(
                    F.filter(F.col("e"), lambda x: x["s"] == s),
                    lambda x: x["cs"],
                ),
            ).alias("cb")
        )
    )


def _pq_train(emb: DataFrame, cb0_row: DataFrame) -> DataFrame:
    """Trained codebook as the one-row broadcastable ``cb[s][c]`` (see
    ``_pq_train_entries`` for the actual Lloyd round)."""
    return _cb_row_from_entries(_pq_train_entries(emb, cb0_row))


def _pq_train_entries(emb: DataFrame, cb0_row: DataFrame) -> DataFrame:
    """One k-means (Lloyd) round per subspace over the corpus: assign
    every vector's 8-dim slice to its nearest seed codeword (the same
    expression-level argmin fold the encoder uses — map-side, zero
    shuffle), then recenter each (subspace, code) as the elementwise
    integer mean of its member slices (the ``_recenter`` convention:
    exact bigint sums, one double divide, ROUND).  A codeword that
    attracted no members keeps its seed slice, so the codebook stays a
    dense {_PQ_SUBS}×{_PQ_K} grid and the flat ADC indexing holds.

    Scale shape: assignment is map-side against the broadcast seed row;
    the recenter is one groupBy over n×{_PQ_SUBS} rows into
    {_PQ_SUBS}×{_PQ_K} groups — map-side partial aggregation does
    almost all of it, like any mean.  Returns the trained (s, c, cs)
    entry frame — the shape the standing-artifact table stores."""
    enc0 = emb.crossJoin(F.broadcast(cb0_row)).select(
        "qv",
        F.array(*[_pq_code_for(F.lit(s)) for s in range(_PQ_SUBS)]).alias(
            "codes"
        ),
    )
    ex = enc0.select("qv", F.posexplode("codes").alias("s", "c")).select(
        "s",
        "c",
        F.expr(f"slice(qv, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias("sl"),
    )
    sums = ex.groupBy("s", "c").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.get("sl", d)).alias(f"_s{d}")
            for d in range(_PQ_SUBDIM)
        ],
    )
    mean_arr = F.array(
        *[
            F.round(F.col(f"_s{d}").cast("double") / F.col("_n")).cast(
                "bigint"
            )
            for d in range(_PQ_SUBDIM)
        ]
    )
    trained = sums.select("s", "c", mean_arr.alias("tcs"))
    seed_entries = (
        cb0_row.select(F.posexplode("cb").alias("s", "arr"))
        .select("s", F.posexplode("arr").alias("c", "scs"))
    )
    return seed_entries.join(
        F.broadcast(trained), ["s", "c"], "left"
    ).select("s", "c", F.coalesce("tcs", "scs").alias("cs"))


def _pq_seed_row(emb: DataFrame) -> DataFrame:
    """Seed codebook as ONE broadcast row: cb[s][c] = 8-dim centroid
    slice of the top-``_PQ_K`` hash-ranked corpus vectors — a
    TakeOrderedAndProject (distributed top-K), no id pinning."""
    return (
        emb.withColumn("_h", _seed_h(F.col("vec_id")))
        .orderBy("_h", "vec_id")
        .limit(_PQ_K)
        .drop("_h")
        .orderBy("vec_id")
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "qv"))).alias("cents"))
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1)),
                lambda s: F.transform(
                    F.col("cents"),
                    lambda ct: F.slice(ct["qv"], s * _PQ_SUBDIM + 1, _PQ_SUBDIM),
                ),
            ).alias("cb")
        )
    )


def _corpus_fingerprint(path: str) -> str:
    """Cheap content-version key for a fixture table: file name/size/
    mtime_ns tuples (recursing one level for directory layouts).  The
    standing-codebook cache below is invalidated whenever the corpus
    file changes — the 'codebook is versioned against a corpus
    snapshot' contract, without hashing terabytes."""
    import os

    st = os.stat(path)
    if not os.path.isdir(path):
        return f"{st.st_size}|{st.st_mtime_ns}"
    parts = sorted(
        (f, os.stat(os.path.join(path, f)).st_size,
         os.stat(os.path.join(path, f)).st_mtime_ns)
        for f in os.listdir(path)
    )
    return repr(parts)


def _pq_codebook_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained PQ codebook as a STANDING ARTIFACT (r11, VERDICT r10).

    A codebook is trained once per corpus snapshot and versioned, not
    re-derived inside every query plan (the same standing-index pattern
    as ``ivf_index_upsert_audit``'s centroids): the first call for a
    given corpus fingerprint runs the seed + one-Lloyd-round training
    (``_pq_seed_row``/``_pq_train``) and commits the 8×16 (s, c,
    centroid-slice) entries to an ACID table keyed by
    (PQ-params, corpus fingerprint); every later call — the other PQ
    queries, the drift audit, repeated benchmark runs — reads the 128
    rows back instead of re-scanning the corpus.  Training is exactly
    the in-plan computation (integer centroid slices), so the artifact
    is bit-identical to what the DuckDB oracle re-derives.
    """
    import hashlib
    import os
    import tempfile

    from ..io.acid_table import current_manifest, read_table, replace_partitions

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    src = os.path.join(sf_dir, "embeddings.parquet")
    key = hashlib.md5(
        f"pq-v1|{_PQ_SUBS}|{_PQ_SUBDIM}|{_PQ_K}|{os.path.realpath(src)}|"
        f"{_corpus_fingerprint(src)}".encode()
    ).hexdigest()
    root = os.path.join(
        tempfile.gettempdir(), "decs_artifacts", "pq_codebook", key
    )
    if not current_manifest(root)["partitions"]:
        entries = _pq_train_entries(emb, _pq_seed_row(emb))
        replace_partitions(entries, root, ["s"], "train-v1")
    stored = read_table(spark, root).select(
        F.col("s").cast("int").alias("s"),
        F.col("c").cast("int").alias("c"),
        F.col("cs").cast("array<bigint>").alias("cs"),
    )
    return _cb_row_from_entries(stored)


def _pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, neighbor_id, adc_dist) for all 20 probes × corpus —
    the shared PQ encode + ADC scan behind both the pure-ADC top-k and
    the shortlist-re-rank variant.  The codebook is TRAINED (hash-ranked
    seeds + one per-subspace Lloyd round) and comes from the standing
    artifact table (``_pq_codebook_row``) — 128 rows read back, not a
    per-query corpus training pass."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    cb_row = _pq_codebook_row(spark, sf_dir).localCheckpoint(eager=False)

    corpus = emb.crossJoin(F.broadcast(cb_row)).select(
        "vec_id",
        F.array(*[_pq_code_for(F.lit(s)) for s in range(_PQ_SUBS)]).alias("codes"),
    )
    # probe distance tables: flat 128-entry array indexed [s*16 + c]
    dtab = (
        emb.filter(F.col("vec_id") < 20)
        .crossJoin(F.broadcast(cb_row))
        .select(
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
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc
        + F.get(F.col("dtab"), s * _PQ_K + F.get(F.col("codes"), s)),
    )
    return (
        corpus.crossJoin(F.broadcast(dtab))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adc_dist"),
        )
    )


# --------------------------------------------------------------------------
# L3f': PQ + exact re-rank — the shape production PQ actually ships
# (Jégou et al. §V): the 8-byte-code ADC scan builds a SHORTLIST
# (top-32 by integer ADC distance), and only those 32 candidates per
# probe are re-scored with the exact cosine.  Measured at sf0.01:
# recall@3 goes 0.12 (pure ADC, metric-mismatched L2-on-codes) → 0.53
# (seed codebooks, r8) → 0.63 (trained codebooks, r10 Lloyd round),
# at the cost of fetching 32 full vectors per probe — at 100 TB the
# full-precision reads drop from |corpus| to probes × 32.  The
# shortlist is deterministic (integer ADC + id tie-break), so the
# two-stage search replays exactly in SQL.
# --------------------------------------------------------------------------

_PQ_SHORTLIST = 32


@register(
    "pq_ann_rerank_topk",
    oracle=_sql_pq_ctes() + f""",
adc AS (
  SELECT t.probe_id, codes.vec_id AS neighbor_id, SUM(t.d) AS adc_dist
  FROM codes
  JOIN dtab t ON t.s = codes.s AND t.c = codes.c
  WHERE codes.vec_id <> t.probe_id
  GROUP BY 1, 2
),
short AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT probe_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc_dist, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {_PQ_SHORTLIST}
),
nn AS (SELECT vec_id, qv, {_SQL_NORM.format(a='qv')} AS nrm FROM n),
rer AS (
  SELECT s.probe_id, s.neighbor_id,
         {_SQL_COS_AB} AS cos_sim
  FROM short s
  JOIN nn a ON a.vec_id = s.probe_id
  JOIN nn b ON b.vec_id = s.neighbor_id
)
{_sql_probe_topk('rer', 3)}""",
    tags=("similarity", "llm", "approx", "ann"),
    doc=(
        "L3: PQ + exact re-rank — integer-ADC top-32 shortlist, exact "
        "cosine re-score, top-3; full-precision reads drop to 32/probe."
    ),
)
def pq_ann_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = _pq_scored(spark, sf_dir)
    ws = Window.partitionBy("probe_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    short = (
        scored.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("probe_id", "neighbor_id")
    )
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    nn = emb.select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    rer = (
        short.join(
            nn.select(
                F.col("vec_id").alias("probe_id"),
                F.col("qv").alias("pqv"),
                F.col("nrm").alias("pnrm"),
            ),
            "probe_id",
        )
        .join(
            nn.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("qv").alias("nqv"),
                F.col("nrm").alias("nnrm"),
            ),
            "neighbor_id",
        )
        .select(
            "probe_id",
            "neighbor_id",
            _cosine(
                _dot(F.col("pqv"), F.col("nqv")), F.col("pnrm"), F.col("nnrm")
            ).alias("cos_sim"),
        )
    )
    return _probe_topk(rer, 3).select("probe_id", "neighbor_id", "rn", "cos_sim")


@register(
    "pq_ann_recall_check",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(3 * COUNT(*) AS BIGINT) AS n_exact,
       CAST(3 AS INT) AS k,
       TRUE AS all_probes_covered,
       TRUE AS competitive_ge_80pct
FROM embeddings WHERE vec_id < 20
""",
    tags=("similarity", "llm", "approx", "quality"),
    doc=(
        "L3 quality gate for PQ+re-rank: every probe covered and the "
        "mean found cosine ≥80% of the exact-top-3 optimum (measured "
        "0.63 recall@3 at sf0.01 with the r10 trained codebooks, up "
        "from 0.53 on seeds — re-ranked neighbors are near-optimal "
        "even when ids differ)."
    ),
)
def pq_ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(spark, sf_dir).filter(F.col("rn") <= 3)
    q = _ann_quality_row(exact, pq_ann_rerank_topk(spark, sf_dir), k=3)
    return q.select(
        "n_probes",
        "n_exact",
        "k",
        (
            (F.col("_probes_covered") == F.col("n_probes"))
            & (F.col("_n_found") == F.col("n_probes") * F.col("k"))
        ).alias("all_probes_covered"),
        (F.col("ratio") >= 0.80).alias("competitive_ge_80pct"),
    )


# --------------------------------------------------------------------------
# L3g (round 11): PQ codebook DRIFT AUDIT — the retrain trigger for the
# standing codebook artifact (_pq_codebook_row).  A versioned codebook
# serves queries for months; the maintenance question is "does arriving
# data still quantize well under it?".  Standing corpus = vec_id % 10
# != 0, arriving batch = the rest (the ivf_index_upsert_audit split);
# per subspace the audit reports the exact integer mean quantization
# error of each side under the SHIPPED codebook plus the assignment-
# share shift (L1/2 distance of the per-codeword usage histograms, in
# e4 fixed point via per-cell integer division — overflow-safe at any
# corpus size), and flags retrain when the batch quantizes >20% worse
# or usage shifts >0.15.  Everything is BIGINT arithmetic on the exact
# quantized grid, so the oracle replays training, encoding, and both
# metrics bit-for-bit.
# --------------------------------------------------------------------------

_PQ_DRIFT_QERR_PCT = 120   # batch mean qerr > 1.2x standing mean → retrain
_PQ_DRIFT_SHIFT_E4 = 1500  # assignment-share L1/2 distance > 0.15 → retrain


@register(
    "pq_codebook_drift_audit",
    oracle=_sql_pq_ctes() + f""",
qe AS (
  SELECT c.vec_id, c.s, c.c, n.vec_id % 10 = 0 AS is_batch,
         {_SQL_PQ_L2.format(
             a=f"n.qv[(c.s * {_PQ_SUBDIM} + 1):((c.s + 1) * {_PQ_SUBDIM})]",
             b='cb.cs')} AS d
  FROM codes c
  JOIN cb ON cb.s = c.s AND cb.c = c.c
  JOIN n ON n.vec_id = c.vec_id
),
g AS (
  SELECT s, c,
         COUNT(*) FILTER (WHERE NOT is_batch) AS n_s,
         COUNT(*) FILTER (WHERE is_batch) AS n_b,
         COALESCE(SUM(d) FILTER (WHERE NOT is_batch), 0) AS e_s,
         COALESCE(SUM(d) FILTER (WHERE is_batch), 0) AS e_b
  FROM qe GROUP BY s, c
),
tot AS (
  SELECT s, SUM(n_s) AS ns, SUM(n_b) AS nb, SUM(e_s) AS qes, SUM(e_b) AS qeb
  FROM g GROUP BY s
),
sh AS (
  SELECT g.s,
         SUM(ABS((g.n_s * 10000) // t.ns - (g.n_b * 10000) // t.nb)) AS s2
  FROM g JOIN tot t USING (s) GROUP BY g.s
)
SELECT CAST(t.s AS INT) AS s,
       CAST(t.ns AS BIGINT) AS n_standing,
       CAST(t.nb AS BIGINT) AS n_batch,
       CAST(t.qes // t.ns AS BIGINT) AS standing_qerr_mean,
       CAST(t.qeb // t.nb AS BIGINT) AS batch_qerr_mean,
       CAST(s2 // 2 AS BIGINT) AS assign_shift_e4,
       ((t.qeb // t.nb) * 100 > (t.qes // t.ns) * {_PQ_DRIFT_QERR_PCT}
        OR s2 // 2 > {_PQ_DRIFT_SHIFT_E4}) AS retrain_flag
FROM tot t JOIN sh ON sh.s = t.s
""",
    tags=("similarity", "llm", "ann", "incremental", "quality"),
    doc=(
        "L3g: PQ codebook drift audit — per subspace, exact integer "
        "mean quantization error of the standing corpus vs an arriving "
        "batch (vec_id %% 10 == 0) under the standing codebook "
        "artifact, plus the e4 assignment-share shift; retrain_flag "
        "fires at >20%% worse batch error or >0.15 usage shift."
    ),
)
def pq_codebook_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    cb_row = _pq_codebook_row(spark, sf_dir).localCheckpoint(eager=False)
    enc = emb.crossJoin(F.broadcast(cb_row)).select(
        "vec_id",
        "qv",
        "cb",
        F.array(*[_pq_code_for(F.lit(s)) for s in range(_PQ_SUBS)]).alias(
            "codes"
        ),
    )
    ex = enc.select(
        (F.col("vec_id") % 10 == 0).alias("is_batch"),
        "qv",
        "cb",
        F.posexplode("codes").alias("s", "c"),
    ).select(
        "is_batch",
        "s",
        "c",
        _pq_l2(
            F.expr(f"slice(qv, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})"),
            F.get(F.get(F.col("cb"), F.col("s")), F.col("c")),
        ).alias("d"),
    )
    g = ex.groupBy("s", "c").agg(
        F.count(F.when(~F.col("is_batch"), 1)).alias("n_s"),
        F.count(F.when(F.col("is_batch"), 1)).alias("n_b"),
        F.coalesce(F.sum(F.when(~F.col("is_batch"), F.col("d"))), F.lit(0)).alias("e_s"),
        F.coalesce(F.sum(F.when(F.col("is_batch"), F.col("d"))), F.lit(0)).alias("e_b"),
    )
    tot = g.groupBy("s").agg(
        F.sum("n_s").alias("ns"),
        F.sum("n_b").alias("nb"),
        F.sum("e_s").alias("qes"),
        F.sum("e_b").alias("qeb"),
    )
    # per-cell fixed-point shares BEFORE summing (each term <= 10000):
    # exact in both engines and overflow-safe at any corpus size
    sh = (
        g.join(F.broadcast(tot.select("s", "ns", "nb")), "s")
        .select(
            "s",
            F.abs(
                F.expr("(n_s * 10000) div ns") - F.expr("(n_b * 10000) div nb")
            ).alias("t"),
        )
        .groupBy("s")
        .agg(F.sum("t").alias("s2"))
    )
    sqm = F.expr("qes div ns")
    bqm = F.expr("qeb div nb")
    return tot.join(sh, "s").select(
        F.col("s").cast("int").alias("s"),
        F.col("ns").cast("bigint").alias("n_standing"),
        F.col("nb").cast("bigint").alias("n_batch"),
        sqm.cast("bigint").alias("standing_qerr_mean"),
        bqm.cast("bigint").alias("batch_qerr_mean"),
        F.expr("s2 div 2").cast("bigint").alias("assign_shift_e4"),
        (
            (bqm * 100 > sqm * _PQ_DRIFT_QERR_PCT)
            | (F.expr("s2 div 2") > _PQ_DRIFT_SHIFT_E4)
        ).alias("retrain_flag"),
    )


# --------------------------------------------------------------------------
# L11b: mutual-kNN graph clustering — the standard robust topic/duplicate
# clustering primitive over an embedding corpus (mutual edges kill the
# hub-node chaining that plain kNN graphs suffer).  Scale shape: the kNN
# search runs INSIDE the IVF coarse cells (same deterministic quantizer
# as ivf_ann_topk), so candidate generation costs Σ (n/K)² with K growing
# with the corpus — never all-pairs; the component step is the existing
# O(log n) large/small-star contraction.  Fully deterministic (quantized
# integer cosine, id tie-breaks) → the DuckDB oracle replays the cell
# assignment, the per-vector top-k ranking, the mutuality filter, AND the
# transitive closure.
# --------------------------------------------------------------------------

_MKNN_K = 2
_MKNN_TAU = 0.30


@register(
    "mutual_knn_clusters",
    oracle=f"""
WITH RECURSIVE n AS (
  {_SQL_N}
),
{_sql_ivf_assign()},
knn AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           {_SQL_COS_AB} AS cos_sim,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_SQL_COS_AB} DESC, b.vec_id
           ) AS rn
    FROM assigned a
    JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
  ) WHERE rn <= {_MKNN_K} AND cos_sim >= {_MKNN_TAU}
),
sel AS (
  SELECT k1.vec_id AS s, k1.neighbor_id AS d
  FROM knn k1
  JOIN knn k2 ON k1.vec_id = k2.neighbor_id AND k1.neighbor_id = k2.vec_id
  WHERE k1.vec_id < k1.neighbor_id
),
edges AS (SELECT s, d FROM sel UNION SELECT d, s FROM sel),
walk(node, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.node
),
members AS (SELECT node AS vec_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
allm AS (
  SELECT vec_id, cluster_id FROM members
  UNION ALL
  SELECT vec_id, vec_id AS cluster_id
  FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM members)
)
SELECT vec_id, cluster_id, vec_id = cluster_id AS is_canonical FROM allm
""",
    tags=("similarity", "llm", "graph", "iterative"),
    doc=(
        "L11b: mutual-kNN graph clustering — IVF-cell-bounded top-2 "
        "neighbors per vector (cos >= 0.30), keep only RECIPROCAL edges, "
        "then large/small-star contraction to per-vector cluster labels.  "
        "Candidate cost Σ(n/K)², never all-pairs; oracle replays search, "
        "mutuality, and reachability (recursive CTE)."
    ),
)
def mutual_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _star_contract

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    n = emb.select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    # Corpus-scaled hash-seeded cells (K ≈ n/125): the within-cell
    # self-join below stays Σ(~125)² per cell — linear in n.  The r8
    # fixed-K=16 variant made it Θ((n/16)²).
    assigned = _ivf_assign(n).select("vec_id", "centroid_id", "qv", "nrm")
    # both self-join sides would otherwise re-run the two-level
    # assignment (the r8 materialization rule, ARCHITECTURE.md)
    assigned = assigned.localCheckpoint(eager=False)
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = _cosine(_dot(F.col("a.qv"), F.col("b.qv")), F.col("a.nrm"), F.col("b.nrm"))
    scored = a.join(
        b,
        (F.col("a.centroid_id") == F.col("b.centroid_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        cos.alias("cos_sim"),
    )
    knn = (
        _probe_topk(scored, _MKNN_K, pid="vec_id")
        .filter(F.col("cos_sim") >= _MKNN_TAU)
        .select("vec_id", "neighbor_id")
        # the mutuality self-join references knn twice, and
        # _star_contract's eager checkpoint of pairs evaluates it
        # again — without this the Σ(cell²) cosine join (the dominant
        # cost) runs 4×, measured as +170% wall at 200k vectors
        .localCheckpoint(eager=False)
    )
    k1, k2 = knn.alias("k1"), knn.alias("k2")
    pairs = (
        k1.join(
            k2,
            (F.col("k1.vec_id") == F.col("k2.neighbor_id"))
            & (F.col("k1.neighbor_id") == F.col("k2.vec_id")),
        )
        .filter(F.col("k1.vec_id") < F.col("k1.neighbor_id"))
        .select(F.col("k1.vec_id").alias("src"), F.col("k1.neighbor_id").alias("dst"))
    )
    labels = _star_contract(
        spark, sf_dir, pairs, nodes=emb.select(F.col("vec_id").alias("doc_id"))
    )
    return labels.select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "is_canonical"
    )


# --------------------------------------------------------------------------
# L3e (round 8): CSLS bitext mining — cross-lingual parallel-pair
# harvesting with hubness correction (Conneau et al. '18 MUSE;
# Artetxe & Schwenk '19 margin mining).  Plain nearest-neighbor
# retrieval across languages is polluted by hub vectors; CSLS rescales:
#   csls(x, y) = 2·cos(x, y) − r(x) − r(y)
# where r(v) is the mean cosine of v's top-4 cross-lingual candidates.
# A pair is emitted only when x and y are each other's csls-argmax
# (mutual best) — the forward-backward intersection that makes mined
# bitext precision-viable.  Scale shape: candidates come from the IVF
# coarse cells (Σ(n/K)², never all-pairs — the FAISS-backed layout the
# MUSE reference uses); r(v) folds the top-4 cosines in SORTED order so
# the double sum is bit-identical cross-engine.
# --------------------------------------------------------------------------

_CSLS_K = 4
_CSLS_CAND = 10  # retrieve-then-rescore: csls scores only each query's
#                  top-10 cosine candidates (the MUSE/FAISS k-NN-list shape) —
#                  the downstream r/scored/best passes run on 10n rows, not
#                  the full ~125n within-cell candidate mass


@register(
    "csls_bitext_mining",
    oracle=f"""
WITH n AS (
  SELECT e.vec_id, d.lang, qv, {_SQL_NORM.format(a='qv')} AS nrm
  FROM (SELECT vec_id, {_SQL_QVEC.format(e='embedding')} AS qv FROM embeddings) e
  JOIN documents d ON d.doc_id = e.vec_id
),
{_sql_ivf_assign(('lang',))},
ranked AS (
  SELECT qid, qlang, cid, clang, cos_sim, rn FROM (
    SELECT a.vec_id AS qid, a.lang AS qlang, b.vec_id AS cid, b.lang AS clang,
           {_SQL_COS_AB} AS cos_sim,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_SQL_COS_AB} DESC, b.vec_id
           ) AS rn
    FROM assigned a
    JOIN assigned b
      ON a.centroid_id = b.centroid_id AND a.lang <> b.lang
  ) WHERE rn <= {_CSLS_CAND}
),
r AS (
  SELECT qid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list_sort(list(cos_sim ORDER BY cos_sim DESC, cid))),
                     (acc, x) -> acc + x)
           / LEAST(COUNT(*), {_CSLS_K}) AS r_mean
  FROM ranked WHERE rn <= {_CSLS_K}
  GROUP BY qid
),
scored AS (
  SELECT p.qid, p.qlang, p.cid, p.clang,
         p.cos_sim,
         2 * p.cos_sim - rq.r_mean - rc.r_mean AS csls
  FROM ranked p
  JOIN r rq ON rq.qid = p.qid
  JOIN r rc ON rc.qid = p.cid
),
best AS (
  SELECT qid, qlang, cid, clang, cos_sim, csls FROM (
    SELECT qid, qlang, cid, clang, cos_sim, csls,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY csls DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT f.qid AS vec_a, f.qlang AS lang_a, f.cid AS vec_b, f.clang AS lang_b,
       f.cos_sim, f.csls
FROM best f
JOIN best g ON g.qid = f.cid AND g.cid = f.qid
WHERE f.qid < f.cid
""",
    tags=("similarity", "llm", "multilingual"),
    doc=(
        "L3e: CSLS bitext mining — within IVF cells, each query's "
        "top-10 cross-language cosine candidates rescored "
        "2·cos − r(x) − r(y) (r = mean of top-4 cosines, folded in "
        "sorted order), mutual-best pairs only.  The MUSE/LASER "
        "retrieve-then-rescore harvesting shape."
    ),
)
def csls_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    n = emb.join(docs, "vec_id").select(
        "vec_id", "lang", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm")
    )
    # Corpus-scaled hash-seeded cells (K ≈ n/125) — the cross-language
    # candidate join below is bounded per cell at any n (the r8 fixed
    # K=16 made it quadratic).
    assigned = _ivf_assign(n, ("lang",)).select(
        "vec_id", "lang", "centroid_id", "qv", "nrm"
    )
    # both self-join sides would otherwise re-run the two-level
    # assignment (the r8 materialization rule, ARCHITECTURE.md)
    assigned = assigned.localCheckpoint(eager=False)
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = _cosine(_dot(F.col("a.qv"), F.col("b.qv")), F.col("a.nrm"), F.col("b.nrm"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    # Retrieve-then-rescore (r9): the within-cell candidate mass is
    # ~125 rows per query; ONE ranking pass keeps each query's top-10
    # by cosine and every later pass (r, scored, best) runs on 10n
    # rows — the MUSE/FAISS shape, where csls rescoring applies to the
    # retrieved k-NN list, not the full candidate set.  Checkpointed:
    # r, scored and best all reference it.
    ranked = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.lang") != F.col("b.lang")),
        )
        .select(
            F.col("a.vec_id").alias("qid"),
            F.col("a.lang").alias("qlang"),
            F.col("b.vec_id").alias("cid"),
            F.col("b.lang").alias("clang"),
            cos.alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CSLS_CAND)
        .localCheckpoint(eager=False)
    )
    pairs = ranked.drop("rn")
    # mean of the top-4 cosines, folded in SORTED order (sort_array) so
    # the IEEE sum is identical to the oracle's list_sort fold
    r = (
        ranked.filter(F.col("rn") <= _CSLS_K)
        .groupBy("qid")
        .agg(
            (
                F.aggregate(
                    F.sort_array(F.collect_list("cos_sim")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.least(F.count("*"), F.lit(_CSLS_K))
            ).alias("r_mean")
        )
    )
    rq = r.select(F.col("qid"), F.col("r_mean").alias("rq_mean"))
    rc = r.select(F.col("qid").alias("cid"), F.col("r_mean").alias("rc_mean"))
    scored = (
        pairs.join(rq, "qid")
        .join(rc, "cid")
        .select(
            "qid",
            "qlang",
            "cid",
            "clang",
            "cos_sim",
            (2 * F.col("cos_sim") - F.col("rq_mean") - F.col("rc_mean")).alias("csls"),
        )
    )
    wb = Window.partitionBy("qid").orderBy(F.desc("csls"), F.asc("cid"))
    best = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    f, g = best.alias("f"), best.alias("g")
    return (
        f.join(
            g,
            (F.col("g.qid") == F.col("f.cid")) & (F.col("g.cid") == F.col("f.qid")),
        )
        .filter(F.col("f.qid") < F.col("f.cid"))
        .select(
            F.col("f.qid").alias("vec_a"),
            F.col("f.qlang").alias("lang_a"),
            F.col("f.cid").alias("vec_b"),
            F.col("f.clang").alias("lang_b"),
            F.col("f.cos_sim").alias("cos_sim"),
            F.col("f.csls").alias("csls"),
        )
    )


# --------------------------------------------------------------------------
# L3f (round 8): IVF index upsert audit — the maintenance loop a
# production ANN index actually runs: a new ingest batch is assigned to
# the STANDING index's centroids (no rebuild), and the audit reports
# per-inverted-list growth and similarity drift — the reindex trigger.
# Standing corpus = vec_id % 10 != 0, ingest batch = the rest; the
# centroids are the standing subset of the deterministic [100,116) rule.
# Mean similarities are exact: per-member floor((1+cos)·1e6)
# (non-negative, so DuckDB's // and Spark's div agree) summed as
# BIGINT, integer-divided by the count, then shifted back.  Scale: two broadcast-centroid argmax passes + one hash agg.
# --------------------------------------------------------------------------


@register(
    "ivf_index_upsert_audit",
    oracle=f"""
WITH n AS (
  {_SQL_N}
),
sn AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
bn AS (SELECT * FROM n WHERE vec_id % 10 = 0),
{_sql_ivf_params('sn')},
{_sql_ivf_cents('sn')},
{_sql_two_level('cents', 'a_standing', 'sn')},
{_sql_two_level('cents', 'a_batch', 'bn')},
standing AS (
  SELECT centroid_id,
         CAST(COUNT(*) AS BIGINT) AS n_standing,
         CAST(SUM(CAST(FLOOR((c_sim + 1) * 1e6) AS BIGINT)) AS BIGINT)
           // COUNT(*) - 1000000 AS standing_mean_sim_e6
  FROM a_standing
  GROUP BY centroid_id
),
batch AS (
  SELECT centroid_id,
         CAST(COUNT(*) AS BIGINT) AS n_new,
         CAST(SUM(CAST(FLOOR((c_sim + 1) * 1e6) AS BIGINT)) AS BIGINT)
           // COUNT(*) - 1000000 AS new_mean_sim_e6
  FROM a_batch
  GROUP BY centroid_id
)
SELECT s.centroid_id, s.n_standing, s.standing_mean_sim_e6,
       CAST(COALESCE(b.n_new, 0) AS BIGINT) AS n_new,
       b.new_mean_sim_e6,
       CAST(FLOOR(10000.0 * COALESCE(b.n_new, 0) / s.n_standing) AS BIGINT)
         AS growth_e4,
       COALESCE(b.new_mean_sim_e6 < s.standing_mean_sim_e6 - 50000, FALSE)
         AS drift_flag
FROM standing s LEFT JOIN batch b USING (centroid_id)
""",
    tags=("similarity", "llm", "ann", "incremental"),
    doc=(
        "L3f: ANN index maintenance — assign the ingest batch "
        "(vec_id %% 10 == 0) to the STANDING index's corpus-scaled "
        "hash-seeded centroids (K ≈ n/125, no rebuild), report per-list "
        "growth and exact integer-grid similarity drift (the reindex "
        "trigger).  Two two-level assignment passes + one hash agg."
    ),
)
def ivf_index_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    )
    n = emb.select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    sn = n.filter(F.col("vec_id") % 10 != 0)
    bn = n.filter(F.col("vec_id") % 10 == 0)
    # The STANDING index's quantizer: seeded and sized from the standing
    # corpus alone — the ingest batch is assigned to it without rebuild.
    cents = _ivf_cents(sn).localCheckpoint(eager=False)

    def assign(src):
        return _two_level_assign(src, cents).select(
            "vec_id",
            "centroid_id",
            F.floor((F.col("c_sim") + 1) * 1e6).cast("bigint").alias("sim_e6"),
        )

    def rollup(assigned, cnt_name, mean_name):
        return assigned.groupBy("centroid_id").agg(
            F.count("*").cast("bigint").alias(cnt_name),
            (F.expr("sum(sim_e6) div count(*)") - 1000000)
            .cast("bigint")
            .alias(mean_name),
        )

    standing = rollup(assign(sn), "n_standing", "standing_mean_sim_e6")
    batch = rollup(assign(bn), "n_new", "new_mean_sim_e6")
    return standing.join(batch, "centroid_id", "left").select(
        "centroid_id",
        "n_standing",
        "standing_mean_sim_e6",
        F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint").alias("n_new"),
        "new_mean_sim_e6",
        F.floor(
            10000.0 * F.coalesce(F.col("n_new"), F.lit(0)) / F.col("n_standing")
        )
        .cast("bigint")
        .alias("growth_e4"),
        F.coalesce(
            F.col("new_mean_sim_e6") < F.col("standing_mean_sim_e6") - 50000,
            F.lit(False),
        ).alias("drift_flag"),
    )


# --------------------------------------------------------------------------
# L3j (round 11): MMR diversified retrieval — maximal marginal relevance
# (Carbonell & Goldstein, SIGIR '98).  Pure top-k returns near-duplicate
# neighbors; RAG/curation retrieval wants RELEVANT-BUT-DIVERSE context,
# so each greedy step picks argmax 0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s)
# over the relevance pool.  Scale shape: the pool is top-20 per probe
# (broadcast-probe scan, linear in corpus — the cosine_topk plan), and
# the greedy loop runs on pool×pool pairwise sims (20×20 per probe —
# probe-local, never corpus-sized).  The 5 greedy steps are a FIXED
# unrolled iteration in both engines (the bpe_learn_iterative /
# ivf_kmeans pattern), and every score is the same double op-sequence
# (0.7·a − 0.3·b over bit-identical cosines) → exact oracle parity.
# --------------------------------------------------------------------------

_MMR_POOL = 20
_MMR_K = 5
_MMR_PROBES = 10


def _sql_mmr_steps() -> str:
    """The greedy-step CTE chain (cp, s1, sel1, …, sel5) over an
    in-scope ``cand`` CTE (probe_id, vec_id, qv, nrm, qsim) — shared by
    the exact-pool MMR oracle and the ANN-served-pool variant
    (``retrieval_served``), so the two greedy loops can never drift."""
    steps = []
    for k in range(2, _MMR_K + 1):
        prev = f"sel{k - 1}"
        steps.append(f"""s{k} AS MATERIALIZED (
  SELECT probe_id, vec_id, mmr FROM (
    SELECT t.probe_id, t.vec_id, 0.7 * t.qsim - 0.3 * t.ms AS mmr,
           ROW_NUMBER() OVER (
             PARTITION BY t.probe_id
             ORDER BY 0.7 * t.qsim - 0.3 * t.ms DESC, t.vec_id
           ) AS rn
    FROM (
      SELECT c.probe_id, c.vec_id, c.qsim, MAX(p.sim) AS ms
      FROM cand c
      JOIN cp p ON p.probe_id = c.probe_id AND p.da = c.vec_id
      JOIN {prev} s ON s.probe_id = p.probe_id AND s.vec_id = p.db
      LEFT JOIN {prev} x ON x.probe_id = c.probe_id AND x.vec_id = c.vec_id
      WHERE x.vec_id IS NULL
      GROUP BY c.probe_id, c.vec_id, c.qsim
    ) t
  ) WHERE rn = 1
),
sel{k} AS (SELECT probe_id, vec_id FROM {prev}
           UNION ALL SELECT probe_id, vec_id FROM s{k})""")
    return f"""cp AS MATERIALIZED (
  SELECT a.probe_id, a.vec_id AS da, b.vec_id AS db, {_SQL_COS_AB} AS sim
  FROM cand a
  JOIN cand b ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id
),
s1 AS MATERIALIZED (
  SELECT probe_id, vec_id, 0.7 * qsim - 0.3 * 0.0 AS mmr FROM (
    SELECT probe_id, vec_id, qsim,
           ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qsim DESC, vec_id) AS rn
    FROM cand
  ) WHERE rn = 1
),
sel1 AS (SELECT probe_id, vec_id FROM s1),
{",".join(steps)}"""


def _sql_mmr_core() -> str:
    cosq = _sql_cos("p.pqv", "n.qv", "p.pnrm", "n.nrm")
    return f"""
WITH n AS (
  {_SQL_N}
),
probes AS (
  SELECT vec_id AS probe_id, qv AS pqv, nrm AS pnrm FROM n
  WHERE vec_id < {_MMR_PROBES}
),
cand AS MATERIALIZED (
  SELECT probe_id, vec_id, qv, nrm, qsim FROM (
    SELECT p.probe_id, n.vec_id, n.qv, n.nrm, {cosq} AS qsim,
           ROW_NUMBER() OVER (
             PARTITION BY p.probe_id ORDER BY {cosq} DESC, n.vec_id
           ) AS rn
    FROM probes p JOIN n ON n.vec_id <> p.probe_id
  ) WHERE rn <= {_MMR_POOL}
),
{_sql_mmr_steps()}"""


def _sql_mmr() -> str:
    unions = "\nUNION ALL ".join(
        f"SELECT probe_id, vec_id AS neighbor_id, {k} AS step, mmr AS mmr_score FROM s{k}"
        for k in range(1, _MMR_K + 1)
    )
    return f"{_sql_mmr_core()}\n{unions}\n"


@register(
    "mmr_diversified_topk",
    oracle=_sql_mmr(),
    tags=("similarity", "llm", "topk", "iterative"),
    doc=(
        "L3: MMR diversified retrieval — top-20 relevance pool per "
        "probe, then 5 unrolled greedy steps of "
        "argmax 0.7·sim(q,d) − 0.3·max sim(d,selected); pool-local "
        "pairwise work, never corpus-sized.  Fully oracle-replayed."
    ),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mmr_greedy(_mmr_pool(spark, sf_dir))


def _mmr_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact relevance pool (probe_id, vec_id, qv, nrm, qsim): each
    of the ``_MMR_PROBES`` probes' ``_MMR_POOL`` nearest vectors over a
    broadcast-probe scan of the corpus, checkpointed."""
    n = table(spark, sf_dir, "embeddings").select(
        "vec_id", _qvec("embedding").alias("qv")
    ).select("vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nrm"))
    probes = n.filter(F.col("vec_id") < _MMR_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qv").alias("pqv"),
        F.col("nrm").alias("pnrm"),
    )
    scored = (
        F.broadcast(probes)
        .join(n, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            "qv",
            "nrm",
            _cosine(
                _dot(F.col("pqv"), F.col("qv")), F.col("pnrm"), F.col("nrm")
            ).alias("qsim"),
        )
    )
    return (
        _probe_topk(scored, _MMR_POOL, score="qsim", nid="vec_id")
        .drop("rn")
        .localCheckpoint()
    )


def _mmr_greedy(cand: DataFrame) -> DataFrame:
    """The 5 unrolled greedy MMR steps over a relevance pool ``cand``
    (probe_id, vec_id, qv, nrm, qsim) — the Spark twin of
    :func:`_sql_mmr_steps`, shared by the exact-pool query and the
    ANN-served-pool variant (``retrieval_served``)."""
    a, b = cand.alias("a"), cand.alias("b")
    cp = (
        a.join(
            b,
            (F.col("a.probe_id") == F.col("b.probe_id"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.probe_id").alias("probe_id"),
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("db"),
            _cosine(
                _dot(F.col("a.qv"), F.col("b.qv")),
                F.col("a.nrm"),
                F.col("b.nrm"),
            ).alias("psim"),
        )
        .localCheckpoint()
    )
    w_pick = Window.partitionBy("probe_id").orderBy(F.desc("mmr"), F.asc("vec_id"))
    step1 = (
        cand.withColumn("mmr", F.lit(0.7) * F.col("qsim") - F.lit(0.3) * F.lit(0.0))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("probe_id").orderBy(F.desc("qsim"), F.asc("vec_id"))
        ))
        .filter(F.col("rn") == 1)
        .select("probe_id", "vec_id", F.lit(1).alias("step"), "mmr")
    )
    selected = step1.localCheckpoint()
    for k in range(2, _MMR_K + 1):
        sel_ids = selected.select("probe_id", "vec_id")
        scored = (
            cand.join(sel_ids, ["probe_id", "vec_id"], "left_anti")
            .select("probe_id", "vec_id", "qsim")
            .join(cp, ["probe_id", "vec_id"])
            .join(
                sel_ids.select("probe_id", F.col("vec_id").alias("db")),
                ["probe_id", "db"],
            )
            .groupBy("probe_id", "vec_id", "qsim")
            .agg(F.max("psim").alias("ms"))
            .withColumn(
                "mmr", F.lit(0.7) * F.col("qsim") - F.lit(0.3) * F.col("ms")
            )
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select("probe_id", "vec_id", F.lit(k).alias("step"), "mmr")
        )
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        "step",
        F.col("mmr").alias("mmr_score"),
    )


# --------------------------------------------------------------------------
# L32 (round 11): hybrid lexical+vector retrieval with reciprocal rank
# fusion (Cormack, Clarke & Buettcher, SIGIR '09).  Production RAG
# retrieval is rarely one leg: a lexical (inverted-index) ranking and a
# vector (embedding) ranking each see documents the other misses, and
# RRF — score = Σ_legs 1/(60 + rank) over each leg's shortlist — fuses
# them without score calibration.  Scale shape: the lexical leg is an
# inverted-index join (probe tokens × posting lists — never all-pairs),
# the vector leg is the broadcast-probe scan, and the fusion joins two
# 20-row shortlists per probe.  Ranks are integers and the RRF doubles
# are the same op-sequence in both engines → exact oracle parity.  The
# steps themselves are the shared helpers beside _probe_topk above.
# --------------------------------------------------------------------------


def _sql_rrf_core() -> str:
    return f"""
WITH {_SQL_HYBRID_VIEW},
vrank AS (
  {_sql_vector_leg('probes', 'n', _RRF_POOL)}
),
ctok AS (SELECT DISTINCT id, unnest(ws) AS tok FROM n),
lrank AS (
  {_sql_lexical_leg('ctok')}
),
fused AS (
  {_sql_rrf_fuse('vrank', 'lrank')}
)"""


def _rrf_fused(spark: SparkSession, sf_dir: str, view=None) -> DataFrame:
    """The fused hybrid ranking (pid, id, vr, rrf) — the Spark twin of
    ``_sql_rrf_core``'s ``fused`` CTE, shared by the retrieval query,
    the recall gates, the rank metrics and the context packer — over
    ``view`` (:func:`_hybrid_view`'s pair; a fresh one by default)."""
    n, probes = view or _hybrid_view(spark, sf_dir)
    ctok = n.select("id", F.explode("ws").alias("tok")).distinct()
    return _rrf_fuse(
        _vector_leg(probes, n, _RRF_POOL),
        _lexical_leg(_probe_tokens(probes), ctok),
    )


def _sql_rrf() -> str:
    top = _sql_probe_topk(
        "fused", 5, "pid", "rrf", "id",
        cols="pid AS probe_id, id AS doc_id, rn, rrf AS rrf_score",
    )
    return f"{_sql_rrf_core()}\n{top}"


@register(
    "hybrid_rrf_retrieval",
    oracle=_sql_rrf(),
    tags=("similarity", "text", "llm", "topk"),
    doc=(
        "L32: hybrid retrieval — lexical token-overlap ranking "
        "(inverted-index join) fused with the cosine ranking via "
        "reciprocal rank fusion (1/(60+rank) over each leg's top-20); "
        "per-probe top-5.  Fully oracle-replayed."
    ),
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _probe_topk(_rrf_fused(spark, sf_dir), 5, "pid", "rrf", "id").select(
        F.col("pid").alias("probe_id"),
        F.col("id").alias("doc_id"),
        "rn",
        F.col("rrf").alias("rrf_score"),
    )


# --------------------------------------------------------------------------
# L32b/L31b (round 11): the retrieval family's QUALITY GATES — the same
# convention every approximate op here carries (minhash_lsh_recall_check,
# pq_ann_recall_check): the fused/diversified ranking is measured
# against its exact ground truth inside the oracle-checked query, so a
# regression in either leg fails the driver's hash gate, not just a
# benchmark eyeball.
# --------------------------------------------------------------------------


@register(
    "hybrid_recall_check",
    oracle=f"""{_sql_rrf_core()},
rtop AS (
  {_sql_probe_topk('fused', 5, 'pid', 'rrf', 'id', cols='pid, id')}
),
truth AS (SELECT pid, id FROM vrank WHERE vr <= 5)
{_sql_retention('rtop', 'truth')}""",
    tags=("similarity", "text", "llm", "quality-gate"),
    doc=(
        "L32 quality gate: vector-ground-truth retention of the "
        "hybrid-RRF top-5 (overlap with the exact cosine top-5, "
        "recall_e4).  The lexical leg deliberately reshapes the "
        "ranking — ~0.42 retention on these fixtures — and the hash "
        "gate PINS that measured trade so either leg drifting fails "
        "the driver, the honesty convention of the df-state gates."
    ),
)
def hybrid_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    fused = _rrf_fused(spark, sf_dir)
    return _retention(
        _probe_topk(fused, 5, "pid", "rrf", "id"), fused.filter(F.col("vr") <= 5)
    )


@register(
    "mmr_diversity_check",
    oracle=_sql_mmr_core() + """,
plain AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qsim DESC, vec_id) AS rn
    FROM cand
  ) WHERE rn <= 5
),
redm AS (
  SELECT a.probe_id,
         CAST(SUM(CAST(FLOOR(p.sim * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT)
           AS mmr_red_e6
  FROM sel5 a
  JOIN sel5 b ON b.probe_id = a.probe_id AND b.vec_id <> a.vec_id
  JOIN cp p ON p.probe_id = a.probe_id AND p.da = a.vec_id AND p.db = b.vec_id
  GROUP BY a.probe_id
),
redp AS (
  SELECT a.probe_id,
         CAST(SUM(CAST(FLOOR(p.sim * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT)
           AS plain_red_e6
  FROM plain a
  JOIN plain b ON b.probe_id = a.probe_id AND b.vec_id <> a.vec_id
  JOIN cp p ON p.probe_id = a.probe_id AND p.da = a.vec_id AND p.db = b.vec_id
  GROUP BY a.probe_id
)
SELECT m.probe_id, p.plain_red_e6, m.mmr_red_e6,
       p.plain_red_e6 - m.mmr_red_e6 AS diversity_gain_e6
FROM redm m JOIN redp p ON p.probe_id = m.probe_id
""",
    tags=("similarity", "llm", "quality-gate"),
    doc=(
        "L31 quality gate: mean pairwise within-result similarity "
        "(redundancy, e6 integers) of the MMR top-5 vs the plain "
        "cosine top-5 per probe — the diversification's measured "
        "redundancy drop, hash-checked."
    ),
)
def mmr_diversity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _mmr_pool(spark, sf_dir)

    def red(sel, name):
        a = sel.select("probe_id", F.col("vec_id").alias("va"))
        b = sel.select("probe_id", F.col("vec_id").alias("vb"))
        ca = cand.select(
            "probe_id", F.col("vec_id").alias("va"),
            F.col("qv").alias("qa"), F.col("nrm").alias("na"),
        )
        cb = cand.select(
            "probe_id", F.col("vec_id").alias("vb"),
            F.col("qv").alias("qb"), F.col("nrm").alias("nb"),
        )
        pairs = (
            a.join(b, "probe_id")
            .filter(F.col("va") != F.col("vb"))
            .join(ca, ["probe_id", "va"])
            .join(cb, ["probe_id", "vb"])
            .select(
                "probe_id",
                F.floor(
                    _cosine(
                        _dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")
                    )
                    * 1000000
                ).cast("bigint").alias("e6"),
            )
        )
        return pairs.groupBy("probe_id").agg(
            F.expr("CAST(SUM(e6) div COUNT(*) AS BIGINT)").alias(name)
        )

    plain = _probe_topk(cand, 5, score="qsim", nid="vec_id").select("probe_id", "vec_id")
    mmr = mmr_diversified_topk(spark, sf_dir).select(
        "probe_id", F.col("neighbor_id").alias("vec_id")
    )
    return (
        red(mmr, "mmr_red_e6")
        .join(red(plain, "plain_red_e6"), "probe_id")
        .select(
            "probe_id",
            "plain_red_e6",
            "mmr_red_e6",
            (F.col("plain_red_e6") - F.col("mmr_red_e6")).alias(
                "diversity_gain_e6"
            ),
        )
    )


# --------------------------------------------------------------------------
# L32c (round 11): RAG context packing — the step between retrieval and
# the prompt: fused-ranked documents are admitted IN RANK ORDER while
# the running token total fits the context budget (prefix semantics —
# the first overflow ends the context, preserving rank monotonicity).
# One window running-sum over each probe's 20-row shortlist; nothing
# corpus-sized happens after retrieval.
# --------------------------------------------------------------------------

_CTX_BUDGET = 256


@register(
    "rag_context_pack",
    oracle=f"""{_sql_rrf_core()},
ranked AS (
  {_sql_probe_topk('fused', 2 * _RRF_POOL, 'pid', 'rrf', 'id', cols='pid, id, rn')}
),
withlen AS (
  SELECT r.pid, r.id, r.rn, l.len,
         SUM(l.len) OVER (
           PARTITION BY r.pid ORDER BY r.rn
           ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM ranked r
  JOIN (SELECT doc_id, LEN(string_split(text, ' ')) AS len FROM documents) l
    ON l.doc_id = r.id
)
SELECT pid AS probe_id, id AS doc_id, CAST(rn AS INT) AS rank,
       CAST(len AS BIGINT) AS n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM withlen
WHERE cum_tokens <= {_CTX_BUDGET}
""",
    tags=("similarity", "text", "llm", "rag"),
    doc=(
        "L32c: RAG context assembly — hybrid-RRF-ranked docs admitted "
        "in rank order while the running token total fits the "
        f"{_CTX_BUDGET}-token budget (prefix semantics); one window "
        "running-sum per probe shortlist."
    ),
)
def rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    fused = _rrf_fused(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    lens = docs.select(
        F.col("doc_id").alias("id"), F.size(F.split("text", " ")).alias("len")
    )
    wc = (
        Window.partitionBy("pid")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # every fused row: a probe holds at most both legs' pools
    return (
        _probe_topk(fused, 2 * _RRF_POOL, "pid", "rrf", "id")
        .join(lens, "id")
        .withColumn("cum_tokens", F.sum("len").over(wc))
        .filter(F.col("cum_tokens") <= _CTX_BUDGET)
        .select(
            F.col("pid").alias("probe_id"),
            F.col("id").alias("doc_id"),
            F.col("rn").cast("int").alias("rank"),
            F.col("len").cast("bigint").alias("n_tokens"),
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        )
    )
