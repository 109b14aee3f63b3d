"""Deduplication operators L1–L2 + SimHash (SURVEY.md §2.11, north-star).

The reference *creates* duplicates: a daily scheduled run
(``/root/reference/dags/airflow_dag.py:27``) append-inserts the same
feed every day (``/root/reference/dags/my_data_pipeline.py:111``) with
no dedup.  ``dedup_exact``/``dedup_hash_groups`` model exactly that
(table unioned with itself) and repair it.

Near-dup stack, Spark-first:
- exact n-gram Jaccard via an inverted shingle index (explode → join on
  shingle → group) — oracle-checkable, and already the scalable shape:
  the join shuffles on the shingle key, and a document-frequency cap
  (``_SHINGLE_DF_CAP``, mirrored in the oracle) drops boilerplate
  shingles before the self-join — the df² skew hazard at corpus scale.
- MinHash+LSH: 32 seeded affine permutations over an md5-derived
  shingle hash, 8 bands × 4 rows, bucket self-join for candidates,
  exact-Jaccard re-rank.  The hash is engine-portable, so DuckDB replays
  the whole banded search; that replay is written once, as the CTE
  fragments below, and every MinHash oracle is built from them.
- SimHash: 64-bit signature from per-bit ±1 sums over token hashes,
  computed entirely inside array expressions (no shuffle until the
  16-bit-chunk candidate join), Hamming-distance verification.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.tables import table
from ..registry import register
from ._helpers import md5_bucket, shuffle_parts
from .textops import _sql_ngrams, ngram_array

# Seeded MinHash permutation parameters (public technique: Broder '97).
_MERSENNE = 2147483647  # 2^31 - 1
_K = 32  # signature length
_BANDS, _ROWS = 8, 4
_rng = random.Random(42)
_PERM_A = [_rng.randrange(1, _MERSENNE) for _ in range(_K)]
_PERM_B = [_rng.randrange(0, _MERSENNE) for _ in range(_K)]

# Document-frequency cap on shingles: a shingle present in more than this
# many documents contributes df² rows to the inverted-index self-join — the
# classic skew blowup (boilerplate headers/footers at corpus scale).  Such
# shingles carry ~zero similarity signal, so they are dropped BEFORE the
# join on both engines (the oracle mirrors the cap).  The fixture's max df
# is 25, so fixture results are bit-identical with or without the cap
# (tests/test_operators.py asserts this).
_SHINGLE_DF_CAP = 1000


def _words(col):
    return F.split(col, " ")


def _drop_frequent_shingles(sh: DataFrame) -> DataFrame:
    """Drop shingles with document frequency > ``_SHINGLE_DF_CAP``.

    Skew-safe by construction: ``groupBy(s).count()`` partial-aggregates
    map-side, so no task ever buffers all rows of a hot shingle (the
    previous ``count().over(Window.partitionBy(s))`` formulation forced
    every row of a boilerplate shingle into ONE window task before the
    cap could drop it — at corpus scale a df≈10⁸ shingle is exactly the
    row you cannot single-task).  The frequent set is tiny by
    construction — at most total_rows / cap distinct values — so it
    broadcasts, and the anti-join is map-only: the capped stream keeps
    its upstream partitioning (doc_id) instead of paying a forced
    shuffle on ``s``.  Callers that self-join on ``s`` repartition on
    ``s`` themselves, explicitly.
    """
    freq = (
        sh.groupBy("s")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > _SHINGLE_DF_CAP)
        .select("s")
    )
    return sh.join(F.broadcast(freq), "s", "left_anti")


# Hard ceiling on Σ df·(df−1)/2 over surviving shingles — the exact number
# of (shingle-sharing) candidate rows the inverted-index self-join will
# generate.  The exact-Jaccard generators exist as sf-bounded ground truth
# for the LSH recall gates; at corpus scale the budget trips BEFORE the
# quadratic join runs and the error message points at the LSH path.
# Budgets live in config.EngineConfig (exact_pair_budget,
# simhash_cand_budget — sizing rules there); the guards read the live
# config so deployments and tests steer them via config_overrides.
from ..config import get_config as _cfg


def _pair_budget_guard(df: DataFrame, key: str, budget: int, hint: str) -> DataFrame:
    """Fail fast (in-plan) when the key distribution implies more than
    ``budget`` self-join candidate rows (Σ bucket·(bucket−1)/2).

    The budget aggregate runs over the distinct-key bucket-size table
    (≪ the exploded stream — partial-agg count, skew-safe), rides in as
    a broadcast one-row join, and is checked per-row via ``assert_true``
    — which raises inside the plan, before the self-join materializes
    anything, wherever it runs.
    """
    budget_row = (
        df.groupBy(key)
        .agg(F.count("*").alias("_b"))
        .agg(
            F.coalesce(
                F.sum(F.col("_b") * (F.col("_b") - 1) / 2), F.lit(0.0)
            ).alias("_cand_budget")
        )
    )
    checked = (
        df.crossJoin(F.broadcast(budget_row))
        .withColumn(
            "_g",
            F.assert_true(
                F.col("_cand_budget") <= F.lit(float(budget)),
                F.format_string(
                    f"candidate budget exceeded (%s > {budget}): {hint}",
                    F.col("_cand_budget"),
                ),
            ),
        )
        # assert_true yields NULL when it passes; filtering on it forces
        # evaluation (column pruning would otherwise drop the check).
        .filter(F.col("_g").isNull())
        .drop("_g", "_cand_budget")
    )
    return checked




def _shingles(words_col):
    """Distinct 3-word shingles as an array column (empty under 3 words)."""
    return F.array_distinct(ngram_array(words_col, 3))


# The shingle CTE over ``w(doc_id, ws)``: distinct 3-word shingles.
_SH_CTE = f"""sh AS (
  SELECT DISTINCT doc_id, s
  FROM (SELECT doc_id, unnest({_sql_ngrams("ws", 3)}) AS s FROM w)
)"""

_SHINGLE_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE LEN(string_split(text, ' ')) >= 3
),
{_SH_CTE}
"""

# --------------------------------------------------------------------------
# The MinHash SQL replay, written once.  Every near-dup oracle (the batch
# LSH search, the cluster and calibration audits, and the streaming ingest
# gates) builds its WITH chain from these CTE-list fragments.  A fragment
# takes at most the name of the CTE it reads; only the epoch recursion also
# takes its caller's accept rule.
# --------------------------------------------------------------------------


def _hash_cte(src: str) -> str:
    """``hv(doc_id, h)`` over ``src(doc_id, s)``: the md5-derived 60-bit
    shingle hash mod 2^31, bit-identical to :func:`_shingle_hash`."""
    return f"""hv AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT % 2147483648 AS BIGINT) AS h
  FROM {src}
)"""


def _signature_ctes(src: str) -> str:
    """``perms``, ``sig(doc_id, j, m)`` — the 32 (a·h+b) mod p minima over
    ``src(doc_id, h)`` — and ``bands(doc_id, band_key)``, the 8×4 band
    keys in :func:`band_key_array`'s format."""
    perm_rows = ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
    )
    return f"""perms AS (SELECT * FROM (VALUES {perm_rows}) AS p(j, a, b)),
sig AS (
  SELECT doc_id, p.j, MIN((p.a * x.h + p.b) % {_MERSENNE}) AS m
  FROM {src} x CROSS JOIN perms p GROUP BY 1, 2
),
bands AS (
  SELECT doc_id,
         CAST(j // {_ROWS} AS VARCHAR) || '_'
           || string_agg(CAST(m AS VARCHAR), '_' ORDER BY j) AS band_key
  FROM sig GROUP BY doc_id, j // {_ROWS}
)"""


# The ingest gates' near-dup verdict over ``bands``/``sig``: ordered pairs
# that share a band key and agree on ≥16 of the 32 minima.
_AGREEMENT_CTES = """pair AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id <> b.doc_id
),
agree AS (
  SELECT p.da, p.db, COUNT(*) FILTER (WHERE sa.m = sb.m) AS k
  FROM pair p
  JOIN sig sa ON sa.doc_id = p.da
  JOIN sig sb ON sb.doc_id = p.db AND sb.j = sa.j
  GROUP BY 1, 2
),
m2 AS (SELECT da, db FROM agree WHERE k >= 16)"""


def _epoch_ctes(src: str) -> str:
    """``ep`` and ``e0``/``e1``/``e2``: the gates' three arrival epochs
    (``doc_id % 3``) over ``src``'s doc ids."""
    return f"""ep AS (SELECT doc_id, doc_id % 3 AS e FROM {src}),
e0 AS (SELECT doc_id FROM ep WHERE e = 0),
e1 AS (SELECT doc_id FROM ep WHERE e = 1),
e2 AS (SELECT doc_id FROM ep WHERE e = 2)"""


# The accept rule of a gate that only screens near-dups: every survivor.
_ACCEPT_SURVIVORS = "a{i} AS (SELECT doc_id FROM s{i})"


def _keep_first_ctes(accept: str, idx2_where: str = "") -> str:
    """The gates' three-epoch keep-first recursion over ``m2`` and
    ``e0``–``e2``.  Epoch i rejects its docs that match the standing index
    (``ri{i}``: a0 for epoch 1, ``idx2`` for epoch 2) and then, keep-first
    by doc_id, those that match an earlier doc of the same batch
    (``rb{i}``); the rest are the survivors ``s{i}``.  ``accept`` is the
    caller's CTE template (``{i}`` = epoch) that defines the accepted set
    ``a{i}`` from ``s{i}``; ``idx2_where`` filters the index epoch 2
    probes."""
    a = [accept.format(i=i) for i in range(3)]
    return f"""rb0 AS (
  SELECT DISTINCT m.da AS doc_id FROM m2 m
  JOIN e0 x ON x.doc_id = m.da JOIN e0 y ON y.doc_id = m.db
  WHERE m.db < m.da
),
s0 AS (SELECT doc_id FROM e0 WHERE doc_id NOT IN (SELECT doc_id FROM rb0)),
{a[0]},
ri1 AS (
  SELECT DISTINCT m.da AS doc_id FROM m2 m
  JOIN e1 x ON x.doc_id = m.da JOIN a0 y ON y.doc_id = m.db
),
rb1 AS (
  SELECT DISTINCT m.da AS doc_id FROM m2 m
  JOIN e1 x ON x.doc_id = m.da JOIN e1 y ON y.doc_id = m.db
  WHERE m.db < m.da AND m.da NOT IN (SELECT doc_id FROM ri1)
),
s1 AS (
  SELECT doc_id FROM e1
  WHERE doc_id NOT IN (SELECT doc_id FROM ri1 UNION SELECT doc_id FROM rb1)
),
{a[1]},
idx2 AS (
  SELECT doc_id FROM (SELECT doc_id FROM a0 UNION SELECT doc_id FROM a1)
  {idx2_where}
),
ri2 AS (
  SELECT DISTINCT m.da AS doc_id FROM m2 m
  JOIN e2 x ON x.doc_id = m.da JOIN idx2 y ON y.doc_id = m.db
),
rb2 AS (
  SELECT DISTINCT m.da AS doc_id FROM m2 m
  JOIN e2 x ON x.doc_id = m.da JOIN e2 y ON y.doc_id = m.db
  WHERE m.db < m.da AND m.da NOT IN (SELECT doc_id FROM ri2)
),
s2 AS (
  SELECT doc_id FROM e2
  WHERE doc_id NOT IN (SELECT doc_id FROM ri2 UNION SELECT doc_id FROM rb2)
),
{a[2]}"""


# The exact-Jaccard replay over ``sh``, written once.  ``sizes`` counts
# each doc's shingles; ``freq`` lists the boilerplate shingles (document
# frequency above ``_SHINGLE_DF_CAP``).  The MinHash replay takes these two.
_SHINGLE_STATS_CTES = f"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
freq AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {_SHINGLE_DF_CAP})"""

# The exact chain: the capped intersection ``inter`` of every doc pair that
# shares a shingle, then the near-dup ``pairs`` (doc_a < doc_b, n_common,
# jaccard) at Jaccard ≥ 0.2.
_JACCARD_PAIRS_CTES = f"""{_SHINGLE_STATS_CTES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE a.s NOT IN (SELECT s FROM freq)
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b, n_common, jaccard FROM (
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
  ) WHERE jaccard >= 0.2
)"""


# MinHash banded-search replay (appended after a shingle CTE block):
# 32 minima over the capped shingle hashes, 8×4 band keys, candidate
# self-join, capped-intersection Jaccard verification — ends at `mh_sel`
# = the verified near-dup pair set.  Shared by the minhash_lsh_neardup
# oracle and the end-to-end dedup_clusters_minhash oracle so the two can
# never drift.
_MINHASH_PAIR_CTES = f""",
{_SHINGLE_STATS_CTES},
shc AS (SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM freq)),
{_hash_cte("shc")},
{_signature_ctes("hv")},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id
  JOIN cand c ON c.doc_a = x.doc_id AND c.doc_b = y.doc_id
  GROUP BY 1, 2
),
mh_pairs AS (
  SELECT c.doc_a, c.doc_b,
         CAST(COALESCE(i.n_common, 0) AS DOUBLE)
           / (sa.n + sb.n - COALESCE(i.n_common, 0)) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
),
mh_sel AS (SELECT doc_a, doc_b, jaccard FROM mh_pairs WHERE jaccard >= 0.5)
"""

# Recursive variant of the shingle prefix (DuckDB requires RECURSIVE at
# the head of the WITH chain when any later CTE is recursive).
_RECURSIVE_SHINGLE_SQL = _SHINGLE_SQL.replace("WITH ", "WITH RECURSIVE ", 1)


# --------------------------------------------------------------------------
# L1: exact dedup of the reference's double-ingest.
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT doc_id, lang, n_chars FROM documents
""",
    tags=("dedup", "llm"),
    doc="L1: union-with-self (daily re-ingest bug) → exact dedup restores the original.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    doubled = docs.unionByName(docs)  # the reference's append-mode duplication
    return doubled.dropDuplicates(["doc_id"])


@register(
    "dedup_hash_groups",
    oracle="""
SELECT sha256(text) AS text_hash, COUNT(*) AS n_copies
FROM (SELECT text FROM documents UNION ALL SELECT text FROM documents)
GROUP BY 1
""",
    tags=("dedup", "llm"),
    doc="L1: content-hash duplicate groups (sha256) over the doubled table.",
)
def dedup_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("text")
    doubled = docs.unionByName(docs)
    return doubled.groupBy(F.sha2("text", 256).alias("text_hash")).agg(
        F.count("*").alias("n_copies")
    )


# --------------------------------------------------------------------------
# L2a: exact n-gram Jaccard near-dup pairs (the ground truth the LSH
# variants approximate).  Inverted index join on the shingle.
# --------------------------------------------------------------------------


@register(
    "ngram_jaccard_pairs",
    oracle=_SHINGLE_SQL
    + f""",
{_JACCARD_PAIRS_CTES}
SELECT doc_a, doc_b, n_common, jaccard FROM pairs
""",
    tags=("dedup", "llm", "join"),
    doc="L2: exact 3-gram Jaccard ≥ 0.2 pairs via inverted shingle index.",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Repartition before the heavy array expressions: a single parquet
    # file otherwise pins shingle generation to one task.
    w = (
        docs.repartition(shuffle_parts(docs), F.col("doc_id"))  # explicit n: AQE won't coalesce it away
        .select("doc_id", _words(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("doc_id", _shingles(F.col("ws")).alias("sh_arr"))  # computed once
    )
    # Carry each doc's distinct-shingle count on the exploded rows: the
    # pair aggregation then has |A| and |B| in hand — no size-lookup
    # joins re-deriving the shingle pipeline.
    sh = w.select(
        "doc_id",
        F.size("sh_arr").alias("n"),
        F.explode("sh_arr").alias("s"),
    )
    # Skew guard: drop shingles whose document frequency exceeds the cap
    # before self-joining — salted-safe partial-agg count + broadcast
    # anti-join (no hot-shingle window straggler; see
    # _drop_frequent_shingles).  Then an explicit repartition on s so
    # both sides of the self-join below are co-partitioned and the join
    # adds no further exchange (verified in tests/test_scale.py).
    # Candidate-budget gate: exact all-pairs Jaccard is Θ(Σ df²) — the
    # ground-truth generator for the recall gates, NEVER the production
    # path (that's minhash_lsh_neardup).  The in-plan guard fails fast
    # if the surviving shingle frequencies imply more candidate pairs
    # than the configured exact_pair_budget, so this op cannot be pointed at corpus
    # scale by accident (tests exercise the trip).  Layout: repartition
    # on s FIRST, then derive the df counts, the frequent set, and the
    # budget from the repartitioned stream — ReuseExchange makes every
    # consumer (counts, budget, both self-join sides) read the ONE
    # shuffle the old count-window paid, with partial-agg counts instead
    # of a hot-key window (no straggler, no second explode pass).
    sh = sh.repartition(shuffle_parts(docs), F.col("s"))
    counts = sh.groupBy("s").agg(F.count("*").alias("_df"))
    freq = counts.filter(F.col("_df") > _SHINGLE_DF_CAP).select("s")
    budget_row = counts.filter(F.col("_df") <= _SHINGLE_DF_CAP).agg(
        F.coalesce(
            F.sum(F.col("_df") * (F.col("_df") - 1) / 2), F.lit(0.0)
        ).alias("_cand_budget")
    )
    sh = (
        sh.join(F.broadcast(freq), "s", "left_anti")
        .crossJoin(F.broadcast(budget_row))
        .withColumn(
            "_g",
            F.assert_true(
                F.col("_cand_budget") <= F.lit(float(_cfg().exact_pair_budget)),
                F.format_string(
                    f"candidate budget exceeded (%s > {_cfg().exact_pair_budget}): "
                    "use the MinHash-LSH path (minhash_lsh_neardup / "
                    "dedup_clusters_minhash) at this scale",
                    F.col("_cand_budget"),
                ),
            ),
        )
        .filter(F.col("_g").isNull())
        .drop("_g", "_cand_budget")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count("*").alias("n_common"),
            F.min(F.col("a.n")).alias("na"),
            F.min(F.col("b.n")).alias("nb"),
        )
    )
    jacc = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.select("doc_a", "doc_b", "n_common", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


# --------------------------------------------------------------------------
# L2b: MinHash + LSH (rows-only: probabilistic recall).
# --------------------------------------------------------------------------


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Wide MinHash signature frame for an arbitrary ``(doc_id, text)``
    DataFrame: one row per doc with ≥3 words, columns ``doc_id,
    m0..m{K-1}``.  Same permutation family, shingle definition, and
    md5-derived hash as :func:`_minhash_prep`, so signatures computed
    here agree bit-for-bit with the batch near-dup path AND with the
    DuckDB oracle replay — that is what lets the streaming ingest gate
    (``streaming/core.py: write_stream_neardup_gate``) verify its
    accept/reject decisions against a plain SQL recompute.

    No document-frequency cap is applied here: the gate signs one
    micro-batch at a time, where a corpus-global df state must be
    carried between epochs — that is the capped variant's job
    (``write_stream_neardup_gate(df_cap=…)``), which maintains the df
    state as a standing count matview and filters
    :func:`shingle_hashes` output before :func:`minhash_from_hashes`
    (a CMS replaces the exact table at 100 TB — see
    ``countmin_token_freq``).
    """
    return minhash_from_hashes(shingle_hashes(docs))


def shingle_hashes(docs: DataFrame) -> DataFrame:
    """Per-doc shingle hashes ``(doc_id, h)`` for an arbitrary
    ``(doc_id, text)`` frame — the md5-derived 60-bit-mod-2^31 hash the
    whole MinHash family (and its DuckDB oracles) keys on.

    NOT distinct per doc: a shingle string repeated within a document
    emits one row per occurrence (deduplicating here would add a shuffle
    the MinHash minima don't need).  Callers that count document
    frequency from this frame MUST ``dropDuplicates(["doc_id", "h"])``
    first, as the ingest gate's df matview does — otherwise a repeated
    in-doc shingle overcounts its df."""
    w = docs.select("doc_id", _words(F.col("text")).alias("ws")).filter(
        F.size("ws") >= 3
    )
    sh = w.select("doc_id", F.explode(_shingles(F.col("ws"))).alias("s"))
    return sh.select("doc_id", _shingle_hash())


def _shingle_hash() -> "F.Column":
    """``h`` of shingle column ``s``: the md5-derived 60-bit hash mod 2^31,
    bit-identical in DuckDB (``('0x'||substr(md5,1,15))::UBIGINT``, see
    :func:`_hash_cte`), which is what makes the banded search replayable
    by the oracles.  The hash family is pluggable; xxhash64 shaves ~2× off
    this one map-side pass in production."""
    return F.pmod(
        F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long"), F.lit(2**31)
    ).alias("h")


def minhash_from_hashes(hashed: DataFrame) -> DataFrame:
    """Wide signature frame from a ``(doc_id, h)`` hash stream — split
    from :func:`minhash_signatures` so callers can filter the hash
    stream first (the df-capped ingest gate)."""
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.pmod(F.lit(_PERM_A[j]) * F.col("h") + F.lit(_PERM_B[j]), F.lit(_MERSENNE))
            ).alias(f"m{j}")
            for j in range(_K)
        ]
    )


def band_key_array() -> "F.Column":
    """The 8 LSH band-key strings (``band_idx ++ '_' ++ 4 minima``) as an
    array column over a wide signature frame — the exact key format the
    batch LSH search and its oracle use (``minhash_lsh_neardup``)."""
    return F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(str(band)),
                *[F.col(f"m{band * _ROWS + r}").cast("string") for r in range(_ROWS)],
            )
            for band in range(_BANDS)
        ]
    )


def _minhash_prep(spark: SparkSession, sf_dir: str):
    """(words DF, capped shingle stream, wide signature DF) — shared by
    the near-dup search and the round-7 estimator-calibration audit."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    w = (
        docs.repartition(shuffle_parts(docs), F.col("doc_id"))  # explicit n: parallel AND AQE-stable
        .select("doc_id", _words(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 3)
    )
    sh = w.select("doc_id", F.explode(_shingles(F.col("ws"))).alias("s"))
    # Same frequent-shingle cap as the exact path: boilerplate shingles
    # would otherwise dominate every MinHash signature band.  The
    # broadcast anti-join keeps the stream doc_id-partitioned, so the
    # signature groupBy(doc_id) below needs no extra exchange (the old
    # count-window formulation forced a useless s-shuffle here AND
    # single-tasked hot shingles).
    sh = _drop_frequent_shingles(sh)
    sig = minhash_from_hashes(sh.select("doc_id", _shingle_hash()))
    return w, sh, sig


@register(
    "minhash_lsh_neardup",
    # Full replay of the banded search: the md5-derived shingle hash is
    # bit-identical in both engines, every (a·h+b) mod p term fits int64
    # (a, h < 2^31 → product < 2^62), and band keys are the same
    # underscore-joined strings — so DuckDB rebuilds the EXACT signatures,
    # candidates, and verified pairs, and the driver value-hashes them.
    oracle=_SHINGLE_SQL
    + _MINHASH_PAIR_CTES
    + "SELECT doc_a, doc_b, jaccard FROM mh_sel",
    tags=("dedup", "llm", "approx"),
    doc=(
        "L2: MinHash(32 perms over md5-derived shingle hashes) + LSH"
        "(8 bands × 4) candidates, exact-Jaccard verified ≥ 0.5.  The "
        "100 TB path: candidates ∝ true pairs, never O(n²).  Fully "
        "deterministic and engine-portable → value-hash oracle-checked."
    ),
)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    w, sh, sig = _minhash_prep(spark, sf_dir)
    # LSH bands: one row per (doc, band), key = concatenated band minima.
    band_rows = sig.select("doc_id", F.explode(band_key_array()).alias("band_key"))
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    candidates = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact-Jaccard verification of the (small) candidate set — under
    # the SAME definition ngram_jaccard_pairs (the ground truth of
    # minhash_lsh_recall_check) uses: capped intersection over full
    # sizes.  Verifying on full shingle sets would score a pair sharing
    # boilerplate shingles HIGHER than the ground truth does and break
    # the recall gate's no-false-positives clause once the DF cap is
    # active at corpus scale (cap inactive on the fixture, so results
    # here are unchanged).  The capped sets are regrouped from the
    # already-capped exploded rows — same shuffle key as the DF window.
    sets_c = sh.groupBy("doc_id").agg(F.collect_set("s").alias("sh_set"))
    n_full = w.select("doc_id", F.size(_shingles(F.col("ws"))).alias("n_full"))
    shing = sets_c.join(n_full, "doc_id")
    sa = shing.alias("sa")
    sb = shing.alias("sb")
    inter_size = F.size(F.array_intersect(F.col("sa.sh_set"), F.col("sb.sh_set")))
    union_size = F.col("sa.n_full") + F.col("sb.n_full") - inter_size
    return (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (inter_size.cast("double") / union_size).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# --------------------------------------------------------------------------
# L2b': MinHash-LSH quality gate (VERDICT r4 item 4).  The banded
# candidate generation is engine-specific, but its quality against the
# exact inverted-index ground truth is a checkable fact: Spark computes
# both pair sets, the oracle independently counts the true pairs and
# asserts the tolerance booleans TRUE.  Observed recall is 1.0 at
# sf0.001/sf0.01 (with 8×4 banding, P(candidate | J=0.5) ≈ 0.4 per band
# → 0.985 over 8 bands, and true pairs here sit well above 0.5); the
# gate is ≥ 0.8 so a parameter regression trips it but banding variance
# cannot.  False positives are impossible by construction (candidates
# are exact-Jaccard re-verified) — asserted anyway.
# --------------------------------------------------------------------------


@register(
    "minhash_lsh_recall_check",
    oracle=_SHINGLE_SQL
    + f""",
{_JACCARD_PAIRS_CTES}
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS recall_ge_80pct,
       TRUE AS no_false_positives
FROM pairs WHERE jaccard >= 0.5
""",
    tags=("dedup", "llm", "approx", "quality"),
    doc=(
        "L2 quality gate: MinHash-LSH candidate recall vs the exact "
        "inverted-index Jaccard ≥ 0.5 pairs — recall ≥ 0.8 and zero false "
        "positives, with the true-pair count oracle-verified."
    ),
)
def minhash_lsh_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    true_pairs = (
        ngram_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    found = minhash_lsh_neardup(spark, sf_dir).select("doc_a", "doc_b")
    t = true_pairs.agg(F.count("*").alias("n_true_pairs"))
    hit = found.join(true_pairs, ["doc_a", "doc_b"]).agg(F.count("*").alias("_n_hits"))
    fnd = found.agg(F.count("*").alias("_n_found"))
    return (
        t.crossJoin(hit)
        .crossJoin(fnd)
        .select(
            "n_true_pairs",
            (F.col("_n_hits") >= 0.8 * F.col("n_true_pairs")).alias("recall_ge_80pct"),
            (F.col("_n_found") == F.col("_n_hits")).alias("no_false_positives"),
        )
    )


# --------------------------------------------------------------------------
# L2c: SimHash.  Token hash = low 64 bits of md5 — a keyed cryptographic
# hash both engines implement bit-identically, which is what lets the
# DuckDB oracle rebuild the EXACT signatures and hash-check the pairs
# (the original xxhash64 variant was engine-specific and rows-only).  In
# production the hash family is pluggable; md5 costs ~2× xxhash64 per
# token but the signature pass is one map-side scan either way.
# --------------------------------------------------------------------------

def _md5_bit_lut():
    """nibble value → its 4 ±1 bit votes, LSB-first (matches the oracle's
    (>> i%4) & 1).  A 16-entry literal lookup replaces the shift/and
    arithmetic — measured 33% off the signature pass at sf0.1."""
    return F.array(
        *[F.array(*[F.lit(((v >> b) & 1) * 2 - 1) for b in range(4)]) for v in range(16)]
    )


def _md5_tok_bits(t, lut):
    """64 ±1 contributions per token: 16 md5 hex nibbles × 4 bits."""
    h = F.substring(F.md5(t), 1, 16)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda j: F.element_at(lut, F.conv(h.substr(j, F.lit(1)), 16, 10).cast("int") + 1),
        )
    )


_SIMHASH_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
tb AS (
  SELECT doc_id, g.i,
         CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), (g.i // 4) + 1, 1)) - 1)
                    >> (g.i % 4)) & 1 = 1
              THEN 1 ELSE -1 END AS v
  FROM tok, generate_series(0, 63) AS g(i)
),
sig AS (
  SELECT doc_id,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS sig
  FROM (SELECT doc_id, i, SUM(v) AS s FROM tb GROUP BY 1, 2)
  GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, sig, g.c, h.s,
         substr(sig, 1 + 16 * g.c, 16) AS chunk,
         substr(substr(sig, 1, 16 * g.c) || substr(sig, 16 * g.c + 17),
                1 + 12 * h.s, 12) AS sub
  FROM sig, generate_series(0, 3) AS g(c), generate_series(0, 3) AS h(s)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
  FROM chunks a
  JOIN chunks b ON a.c = b.c AND a.s = b.s AND a.chunk = b.chunk
              AND a.sub = b.sub AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_filter(range(1, 65), i -> substr(sa, i, 1) <> substr(sb, i, 1))) AS INT)
         AS hamming
FROM cand
WHERE len(list_filter(range(1, 65), i -> substr(sa, i, 1) <> substr(sb, i, 1))) <= 3
"""

# IDF-weighted signature prefix (round 8): each token votes with weight
# floor(ln(N/df)·1e6) — an exact integer grid both engines reproduce —
# so head tokens (df ≈ N) contribute ~0 and stop collapsing every doc
# onto the majority signature.  Block/verify SQL is shared verbatim
# with the unweighted oracle above.
_SIMHASH_IDF_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
idf AS (
  SELECT t, CAST(FLOOR(LN(n / COUNT(DISTINCT doc_id)) * 1e6) AS BIGINT) AS widf
  FROM tok, nd GROUP BY t, n
),
tb AS (
  SELECT doc_id, g.i,
         CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), (g.i // 4) + 1, 1)) - 1)
                    >> (g.i % 4)) & 1 = 1
              THEN widf ELSE -widf END AS v
  FROM tok JOIN idf USING (t), generate_series(0, 63) AS g(i)
),
sig AS (
  SELECT doc_id,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS sig
  FROM (SELECT doc_id, i, SUM(v) AS s FROM tb GROUP BY 1, 2)
  GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, sig, g.c, h.s,
         substr(sig, 1 + 16 * g.c, 16) AS chunk,
         substr(substr(sig, 1, 16 * g.c) || substr(sig, 16 * g.c + 17),
                1 + 12 * h.s, 12) AS sub
  FROM sig, generate_series(0, 3) AS g(c), generate_series(0, 3) AS h(s)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
  FROM chunks a
  JOIN chunks b ON a.c = b.c AND a.s = b.s AND a.chunk = b.chunk
              AND a.sub = b.sub AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_filter(range(1, 65), i -> substr(sa, i, 1) <> substr(sb, i, 1))) AS INT)
         AS hamming
FROM cand
WHERE len(list_filter(range(1, 65), i -> substr(sa, i, 1) <> substr(sb, i, 1))) <= 3
"""


@register(
    "simhash_neardup",
    oracle=_SIMHASH_ORACLE,
    tags=("dedup", "llm", "approx"),
    doc=(
        "L2: 64-bit SimHash per doc (per-bit ±1 sums over md5(token) bits, "
        "computed in array expressions — zero shuffle for the signature "
        "pass), candidates via 16-bit chunk equality, Hamming ≤ 3 "
        "verification.  md5 makes the bits engine-portable, so the DuckDB "
        "oracle reconstructs identical signatures and the driver "
        "value-hashes the pair set (bit i of a token = bit (i mod 4) of "
        "hex nibble (i div 4) of md5, LSB-first)."
    ),
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Heavy per-row array work: repartition first or a single source file
    # serializes the whole signature computation.
    w = docs.repartition(shuffle_parts(docs), F.col("doc_id")).select(
        "doc_id", _words(F.col("text")).alias("ws")
    )
    lut = _md5_bit_lut()
    # One pass: element-wise sum of the per-token ±1 vectors, then sign.
    vec = F.aggregate(
        F.col("ws"),
        F.array_repeat(F.lit(0), 64),
        lambda acc, t: F.zip_with(acc, _md5_tok_bits(t, lut), lambda a, b: a + b),
    )
    sig_expr = F.array_join(
        F.transform(vec, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )
    sigs = w.select("doc_id", sig_expr.alias("sig"))
    return _simhash_pairs_from_sigs(sigs)


def _simhash_pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig) → Hamming ≤ 3 near-dup pairs.  Shared blocking +
    verification tail of both SimHash variants.

    Two-level pigeonhole blocking, EXACT for Hamming ≤ 3: a true pair
    agrees on ≥1 of the 4 16-bit chunks, and among the remaining 48
    bits carries ≤3 diffs, so it also agrees on ≥1 of that chunk's 4
    12-bit sub-blocks.  Keying on (chunk, sub-block) — 16 keys/doc —
    splits hot chunk buckets multiplicatively: on a near-saturated
    signature distribution (closed-vocab corpora, boilerplate) the
    measured candidate count dropped 13.8M → 1.3M at 50k docs and the
    sf0.1→sf1 runtime exponent from 1.22 to 0.87, with zero recall
    loss (tests assert equality with brute-force Hamming ≤ 3 pairs).
    """

    def rest(c: int):
        # the 48 signature bits outside chunk c, as a string
        if c == 0:
            return F.substring("sig", 17, 48)
        if c == 3:
            return F.substring("sig", 1, 48)
        return F.concat(
            F.substring("sig", 1, 16 * c), F.substring("sig", 16 * c + 17, 48 - 16 * c)
        )

    # Materialize the narrow (doc_id, 64-char sig) frame BEFORE fanning
    # out references: the signature expression is a corpus-pass of
    # higher-order array folds that whole-stage codegen cannot subsume,
    # so CollapseProject would otherwise inline it into sig + hi + lo +
    # 16 chunk-key substrings on BOTH join sides — measured 3.1 → 8.0 s
    # at sf0.1 when the hi/lo parse landed without this barrier.  ~80
    # bytes/doc; the same bounded-checkpoint pattern the cluster ops use.
    sigs = sigs.localCheckpoint(eager=False)
    # Parse each 64-char signature ONCE into two 32-bit integer halves:
    # candidate verification is then bit_count(xor) on 4 longs instead of
    # a 64-step substring walk per pair, and the dedup hash covers 6 longs
    # instead of two 128-char strings.  Same hamming integers, same output.
    sigs = sigs.select(
        "doc_id",
        "sig",
        F.conv(F.substring("sig", 1, 32), 2, 10).cast("bigint").alias("hi"),
        F.conv(F.substring("sig", 33, 32), 2, 10).cast("bigint").alias("lo"),
    )
    chunks = sigs.select(
        "doc_id",
        "sig",
        "hi",
        "lo",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(f"{c}.{s}"),
                        F.substring("sig", 1 + 16 * c, 16),
                        F.substring(rest(c), 1 + 12 * s, 12),
                    )
                    for c in range(4)
                    for s in range(4)
                ]
            )
        ).alias("chunk_key"),
    )
    # Candidate budget (round 7, sf1→sf10 decade finding): on a CLOSED
    # vocabulary the true Hamming ≤ 3 pair count itself grows ~n²
    # (measured: 4.9k pairs at 50k docs → 426k at 500k — signature
    # space saturates), so past a point no blocking scheme can stay
    # subquadratic: the OUTPUT is quadratic.  Round-8 correction: an
    # open Zipf vocabulary does NOT save unweighted SimHash either —
    # the head tokens appear in nearly every doc and pull all 64 bits
    # toward the same majority signature, so chunk buckets skew and the
    # CANDIDATE set (not the true answer) went quadratic at ov-sf10
    # (measured 1.42×10⁹ candidates / 500k docs; true pairs stayed
    # linear).  That is the textbook motivation for idf-WEIGHTED
    # SimHash — implemented as simhash_idf_neardup below, which keeps
    # this bucketing subquadratic on Zipf corpora.  The guard converts
    # both pathological cases into a fast, explicit failure.
    chunks = _pair_budget_guard(
        chunks,
        "chunk_key",
        _cfg().simhash_cand_budget,
        "signature space is saturated (closed-vocab/boilerplate corpus) — "
        "near-dup density makes even the true pair set quadratic here; "
        "shard the corpus or dedup exact-first",
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    # XOR-popcount Hamming over the integer halves — identical to the
    # oracle's per-character count (bit i of the string is bit (63-i) of
    # the packed value; popcount is position-agnostic).
    hamming = (
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
    )
    return (
        a.join(b, (F.col("a.chunk_key") == F.col("b.chunk_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.hi").alias("ha"),
            F.col("a.lo").alias("la"),
            F.col("b.hi").alias("hb"),
            F.col("b.lo").alias("lb"),
        )
        .distinct()
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


@register(
    "simhash_idf_neardup",
    oracle=_SIMHASH_IDF_ORACLE,
    tags=("dedup", "llm", "approx"),
    doc=(
        "L2: idf-WEIGHTED 64-bit SimHash (Charikar '02 as deployed: each "
        "token votes ±floor(ln(N/df)·1e6), so head tokens vote ~0) — the "
        "variant that keeps chunk blocking subquadratic on Zipf corpora, "
        "where unweighted SimHash's candidate set measured ~n² at "
        "ov-sf10 (head tokens pull every doc toward one majority "
        "signature).  Same md5 bit mapping, blocking, and Hamming ≤ 3 "
        "verification as simhash_neardup; the oracle rebuilds identical "
        "signatures on the integer idf grid."
    ),
)
def simhash_idf_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted SimHash near-dup pairs.

    Scale shape: the only corpus-sized exchanges are the token→idf join
    (the tf-idf shuffle every weighting scheme pays) and the per-doc
    64-column partial agg; signatures then enter the shared
    (chunk, sub-block) pigeonhole path.  The idf weights are exact
    integers (1e-6 ln grid), so signatures are engine-portable and the
    driver value-hashes the pair set.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    w = docs.repartition(shuffle_parts(docs), F.col("doc_id")).select(
        "doc_id", _words(F.col("text")).alias("ws")
    )
    tok = w.select("doc_id", F.explode("ws").alias("t"))
    # fold duplicate tokens per doc first: the idf join and the md5 bit
    # expansion then run once per (doc, term), not per occurrence —
    # on natural text tf > 1 is common and the sum is identical (c×widf)
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    df_ = tf.groupBy("t").agg(F.count("*").alias("df"))  # rows already distinct per doc
    nd = docs.agg(F.count("*").cast("double").alias("n"))
    idf = df_.crossJoin(F.broadcast(nd)).select(
        "t",
        F.floor(F.log(F.col("n") / F.col("df")) * 1e6).cast("bigint").alias("widf"),
    )
    lut = _md5_bit_lut()
    tokb = tf.join(idf, "t").select(
        "doc_id",
        F.transform(
            _md5_tok_bits(F.col("t"), lut),
            lambda b: b.cast("bigint") * F.col("widf") * F.col("c"),
        ).alias("bv"),
    )
    # 64 partial-aggregated sums — one combiner cell per (task, doc);
    # no window, no per-bit explode
    sums = tokb.groupBy("doc_id").agg(
        *[F.sum(F.element_at(F.col("bv"), i + 1)).alias(f"_b{i}") for i in range(64)]
    )
    sig = F.concat(
        *[
            F.when(F.col(f"_b{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(64)
        ]
    )
    sigs = sums.select("doc_id", sig.alias("sig"))
    return _simhash_pairs_from_sigs(sigs)


# --------------------------------------------------------------------------
# L2d: duplicate clusters — connected components over the near-dup pair
# graph.  Pair detection alone leaves A~B, B~C as two facts; dedup needs
# the transitive closure {A,B,C} with one canonical representative.
# --------------------------------------------------------------------------

# Cluster-label CTE chain (after the RECURSIVE shingle CTEs): near-dup
# pairs → undirected edges → reachability walk → min-label members, plus
# `allm` = members ∪ singleton docs.  Shared by the dedup_clusters and
# dedup_keep_best oracles so the two cannot drift.
_CLUSTER_CTES = f""",
{_JACCARD_PAIRS_CTES},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(node, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.node
),
members AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
allm AS (
  SELECT doc_id, cluster_id FROM members
  UNION ALL
  SELECT doc_id, doc_id AS cluster_id
  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM members)
)
"""


_CLUSTER_MAX_ROUNDS = 50  # hash-min rounds = max component diameter handled


@register(
    "dedup_clusters",
    oracle=_RECURSIVE_SHINGLE_SQL
    + _CLUSTER_CTES
    + "SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical FROM allm",
    tags=("dedup", "llm", "iterative"),
    doc=(
        "L2: connected components over the exact-Jaccard pair graph via "
        "hash-min label propagation (iterate: label = min over self + "
        "neighbors, O(component diameter) rounds).  Every document gets a "
        "cluster_id = min doc_id of its component; keep is_canonical rows "
        "to dedup.  Oracle: DuckDB recursive CTE reachability."
    ),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of near-dup pairs → (doc_id, cluster_id).

    Scale posture: the iterated frontier is only the documents that occur
    in at least one near-dup pair — a small fraction of the corpus — and
    each round is one shuffle (join labels to edges + min-aggregate).
    Hash-min converges in O(diameter) rounds; near-dup components are
    shallow (dups of a common source), so 3-5 rounds in practice.  Each
    round is localCheckpoint()ed: without it the plan doubles per round
    and Catalyst re-executes the whole prefix.  The driver-side loop is
    the standard iterative-algorithm pattern (MLlib does the same); the
    per-round convergence check is one tiny count job.  For adversarial
    deep chains at 100 TB, the published fix is large-star/small-star
    (Kiveris et al.) at identical per-round shape.
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint()  # pair mining runs once, not per round
    )
    # Seed labels with min(u ∪ Γ(u)) straight off the edge list: this IS
    # round 1 of hash-min from identity labels, computed as one groupBy
    # instead of a join+aggregate round — one fewer iteration (each
    # costs a shuffle, a checkpoint job, and a convergence probe).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("_mn"), F.col("src")).alias("label"),
        )
    )
    converged = False
    for _ in range(_CLUSTER_MAX_ROUNDS):  # bound; loop exits on convergence
        nbr = edges.join(labels, edges.dst == labels.node).select(
            edges.src.alias("node"), "label"
        )
        new = (
            labels.unionByName(nbr).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint()
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") < F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        # Partially-propagated labels are WRONG answers (the oracle computes
        # full transitive closure) — fail loudly rather than return them.
        # A component with diameter > _CLUSTER_MAX_ROUNDS means the pair
        # graph has an adversarial chain; the published fix at that shape
        # is large-star/small-star (doubles reach per round → log rounds).
        raise RuntimeError(
            f"dedup_clusters: label propagation did not converge within "
            f"{_CLUSTER_MAX_ROUNDS} rounds (component diameter exceeds the "
            f"bound); raise _CLUSTER_MAX_ROUNDS or switch to star contraction"
        )
    docs = table(spark, sf_dir, "documents").select("doc_id")
    members = labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    singles = docs.join(members, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return members.unionByName(singles).select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical")
    )


# --------------------------------------------------------------------------
# L2d': the escalation path dedup_clusters documents — alternating
# large-star / small-star connected components (Kiveris et al.,
# "Connected Components in MapReduce and Beyond", SoCC'14).  Hash-min
# above needs O(component diameter) rounds; star contraction doubles
# reach per round and converges in O(log n) on ANY graph shape, so
# adversarial deep chains (diameter > 50) stop being a failure mode.
# Per round each star op is one groupBy-min + one co-partitioned join
# over the edge set — the same per-round wire cost as hash-min.
# --------------------------------------------------------------------------

_BIGSTAR_MAX_ROUNDS = 20  # ≥ log2(nodes) + slack; loop exits on fixed point


def _large_star(edges: DataFrame) -> DataFrame:
    """(src,dst) edge set → edges connecting every neighbor v > u to
    m = min(Γ(u) ∪ {u}).  Neighborhood mins come from a groupBy — no
    collect_list, so hot (high-degree) nodes never materialize their
    adjacency in one task."""
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    mins = (
        und.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least("_mn", F.col("src")).alias("m"))
    )
    return (
        und.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low, then connect every low neighbor (and u
    itself) to m = min(Γ(u)); drops the (m,m) self-loop."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (
        oriented.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = mins.select("src", F.col("m").alias("dst"))
    return relink.unionByName(self_edge).distinct()


@register(
    "dedup_clusters_bigstar",
    oracle=_RECURSIVE_SHINGLE_SQL
    + _CLUSTER_CTES
    + "SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical FROM allm",
    tags=("dedup", "llm", "iterative", "graph"),
    doc=(
        "L2: connected components over the exact-Jaccard pair graph via "
        "alternating large-star/small-star contraction — O(log n) rounds "
        "regardless of component diameter (the 100 TB-adversarial path "
        "hash-min dedup_clusters escalates to).  Identical output "
        "contract: cluster_id = min doc_id of the component."
    ),
)
def dedup_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contraction transitive closure → (doc_id, cluster_id).

    Fixed point: the edge set stabilizes as a star forest rooted at each
    component's minimum node (Kiveris et al. Thm 1-3).  Both sides of the
    probe are distinct edge SETS, so equality is one symmetric-difference
    aggregate — a single Spark job per round (previously two counts plus
    an exceptAll probe = 3 jobs; edge sets are ∝ true near-dup pairs, so
    the job is tiny either way, but driver round-trips add up at 20
    rounds).  Partial results never escape: like dedup_clusters,
    non-convergence raises."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return _star_contract(spark, sf_dir, pairs)


def _star_contract(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Run alternating large/small-star contraction over a (src, dst)
    pair DataFrame to a fixed point and emit the full per-node cluster
    labeling (members ∪ roots ∪ singletons).  Shared by the exact-pair-
    graph and MinHash-pair-graph clustering ops; ``nodes`` (a single
    ``doc_id`` column) overrides the default documents universe so the
    same contraction serves embedding-graph clustering."""
    edges = pairs.localCheckpoint()  # pair mining runs once
    converged = False
    # Contractions per convergence probe are configurable (r8).  The
    # hypothesis was that at 20 driver cycles the synchronous probe +
    # checkpoint round-trips dominate; measurement killed it for local
    # mode — the MinHash pair graph reaches its fixed point in 2 probes
    # either way, so batching doubles the contraction work for zero
    # saved round-trips (sf0.1: 11.4 s → 18.0 s, BASELINE.md r8).
    # Default stays 1; a remote driver with a high-diameter graph can
    # raise it — correctness is unaffected because every non-fixed-
    # point round strictly decreases the potential (Kiveris et al.
    # Thm 2), so k-step fixed point ⇒ single-step fixed point.
    per_probe = _cfg().star_contractions_per_probe
    for _ in range(_BIGSTAR_MAX_ROUNDS):
        new = edges
        for _k in range(per_probe):
            new = _small_star(_large_star(new))
        new = new.localCheckpoint()
        sym_diff = (
            new.withColumn("_side", F.lit(1))
            .unionByName(edges.withColumn("_side", F.lit(-1)))
            .groupBy("src", "dst")
            .agg(F.sum("_side").alias("_s"))
            .filter(F.col("_s") != 0)
            .limit(1)
            .count()
        )
        edges = new
        if sym_diff == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"star contraction did not reach a fixed point within "
            f"{_BIGSTAR_MAX_ROUNDS} rounds"
        )
    # Fixed-point edges are (node → component-min root); roots appear
    # only on the dst side.  groupBy-min is a safety net, not load-bearing.
    members = edges.groupBy("src").agg(F.min("dst").alias("cluster_id")).select(
        F.col("src").alias("doc_id"), "cluster_id"
    )
    roots = (
        edges.select(F.col("dst").alias("doc_id"))
        .distinct()
        .join(members, "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    members = members.unionByName(roots)
    docs = (
        nodes
        if nodes is not None
        else table(spark, sf_dir, "documents").select("doc_id")
    )
    singles = docs.join(members, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return members.unionByName(singles).select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical")
    )


# --------------------------------------------------------------------------
# L2d': the PRODUCTION near-dup clustering path, end-to-end: MinHash-LSH
# candidate generation (cost ∝ true collisions, never Σdf²) → exact
# capped-Jaccard verification → O(log n) star contraction.  This is the
# composition a 100 TB corpus actually runs — the exact-pair-graph
# variants above are its sf-bounded ground truth.  Every stage is
# engine-portable (md5 hashes, integer band keys), so the DuckDB oracle
# replays the banded search AND the transitive closure (recursive CTE)
# and the driver value-hashes the final cluster labeling.
# --------------------------------------------------------------------------


@register(
    "dedup_clusters_minhash",
    oracle=_RECURSIVE_SHINGLE_SQL
    + _MINHASH_PAIR_CTES
    + """,
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM mh_sel
  UNION
  SELECT doc_b, doc_a FROM mh_sel
),
walk(node, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.node
),
members AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
allm AS (
  SELECT doc_id, cluster_id FROM members
  UNION ALL
  SELECT doc_id, doc_id AS cluster_id
  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM members)
)
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical FROM allm
""",
    tags=("dedup", "llm", "iterative", "approx"),
    doc=(
        "L2 end-to-end at scale: MinHash-LSH pairs (Jaccard ≥ 0.5 "
        "verified) → large-star/small-star contraction → per-doc "
        "cluster labels.  The full production dedup pipeline in one "
        "lazy-per-round plan; oracle replays search + reachability."
    ),
)
def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_neardup(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return _star_contract(spark, sf_dir, pairs)


# --------------------------------------------------------------------------
# L2e: fuzzy entity matching — blocked Levenshtein pairs.  The string-
# distance complement to the token-set (Jaccard) near-dup family: catches
# typo-level variants token methods miss entirely.
# --------------------------------------------------------------------------


@register(
    "fuzzy_name_pairs",
    oracle="""
WITH names AS (SELECT DISTINCT p_name FROM part),
b AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM names)
SELECT a.p_name AS name_a, c.p_name AS name_b,
       levenshtein(a.p_name, c.p_name) AS edit_dist
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE levenshtein(a.p_name, c.p_name) <= 4
""",
    tags=("dedup", "llm", "join"),
    doc=(
        "L2: edit-distance <= 4 name pairs, blocked on the trailing token.  "
        "Blocking turns the O(n^2) all-pairs distance into an equi-join on "
        "the block key; per-block candidate sets stay bounded, so the "
        "quadratic work is local to a block — the standard entity-"
        "resolution shape at corpus scale (block key choice is the recall "
        "knob: trailing token here; phonetic/sorted-neighborhood keys slot "
        "into the same plan)."
    ),
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = table(spark, sf_dir, "part").select("p_name").distinct()
    b = names.select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("blk")
    )
    a, c = b.alias("a"), b.alias("c")
    dist = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a.join(c, (F.col("a.blk") == F.col("c.blk")) & (F.col("a.p_name") < F.col("c.p_name")))
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("c.p_name").alias("name_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 4)
    )


# --------------------------------------------------------------------------
# L2e: benchmark decontamination — the published-practice n-gram-overlap
# check (GPT-3 appendix C / PaLM-style): flag training documents sharing
# 3-gram shingles with a held-out benchmark set.  Here the "benchmark" is
# the deterministic doc_id < 20 slice of the corpus; real deployments pass
# an external eval set.
#
# Scale posture: the benchmark side is small BY DEFINITION (eval suites are
# KBs-to-MBs), so its distinct shingle set is broadcast — the 100 TB corpus
# side never shuffles for the probe: shingle explode → broadcast-hash
# semi-ish join → per-doc hash agg on doc_id.  No inverted-index self-join,
# no skew exposure (corpus-frequent shingles only fan out against the tiny
# benchmark set).
# --------------------------------------------------------------------------


@register(
    "decontaminate_overlap",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE LEN(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT doc_id, list_distinct({_sql_ngrams("ws", 3)}) AS shs FROM w
),
bench AS (
  SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id < 20
),
corpus AS (
  SELECT doc_id, LEN(shs) AS n_shingles, shs FROM sh WHERE doc_id >= 20
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_shared
  FROM (SELECT c.doc_id, unnest(c.shs) AS s FROM corpus c) cs
  JOIN bench USING (s)
  GROUP BY doc_id
)
SELECT c.doc_id,
       c.n_shingles,
       COALESCE(h.n_shared, 0) AS n_shared,
       CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / c.n_shingles AS overlap_ratio,
       (CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / c.n_shingles) >= 0.2 AS contaminated
FROM corpus c LEFT JOIN hits h USING (doc_id)
""",
    tags=("dedup", "llm", "decontamination"),
    doc="L2: benchmark decontamination via 3-gram overlap against a broadcast probe set.",
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle overlap with a benchmark probe set.

    The probe side's distinct shingles are broadcast; the corpus side is
    one explode + broadcast join + doc_id hash agg (map-side combinable).
    """
    docs = table(spark, sf_dir, "documents")
    # repartition before the per-doc shingle arrays: the single-file scan
    # otherwise pins the heavy transform to one task
    sh = (
        docs.repartition(shuffle_parts(docs), F.col("doc_id"))
        .select("doc_id", _shingles(_words(F.col("text"))).alias("shs"))
        .where(F.size("shs") >= 1)
    )
    bench = (
        sh.where(F.col("doc_id") < 20).select(F.explode("shs").alias("s")).distinct()
    )
    corpus = sh.where(F.col("doc_id") >= 20).select(
        "doc_id", F.size("shs").alias("n_shingles"), "shs"
    )
    hits = (
        corpus.select("doc_id", F.explode("shs").alias("s"))
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    joined = corpus.drop("shs").join(hits, "doc_id", "left")
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint")
    ratio = n_shared.cast("double") / F.col("n_shingles")
    return joined.select(
        "doc_id",
        "n_shingles",
        n_shared.alias("n_shared"),
        ratio.alias("overlap_ratio"),
        (ratio >= 0.2).alias("contaminated"),
    )


# --------------------------------------------------------------------------
# L2f: keep-best dedup — the step that actually SHRINKS the corpus: within
# each near-dup cluster keep the single highest-quality member (quality
# desc, doc_id tiebreak).  This is the policy real pipelines use instead
# of "keep lowest id": near-dups differ in truncation/boilerplate, and
# keeping the best-scoring copy preserves the most signal.
#
# Scale posture: cluster labels come from dedup_clusters (frontier-sized
# iteration), quality is per-row expressions; the final argmax is one
# window over cluster_id — partitioned by cluster, never global.
# --------------------------------------------------------------------------


def _quality_cte() -> str:
    from .textops import _QUALITY_SQL_CTE

    return _QUALITY_SQL_CTE


@register(
    "dedup_keep_best",
    oracle=_RECURSIVE_SHINGLE_SQL
    + _CLUSTER_CTES
    + ","
    + _quality_cte()
    + """
SELECT cluster_id, doc_id AS kept_doc, n_members, quality
FROM (
  SELECT m.cluster_id, m.doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY m.cluster_id
                            ORDER BY q.quality DESC, m.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY m.cluster_id) AS n_members
  FROM allm m JOIN q ON m.doc_id = q.doc_id
)
WHERE rn = 1
""",
    tags=("dedup", "llm", "quality"),
    doc="L2: per-cluster keep-best dedup — highest-quality member survives.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each near-dup cluster to its best-quality member."""
    from .textops import with_quality

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = with_quality(table(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    joined = clusters.join(quality, "doc_id")
    wc = Window.partitionBy("cluster_id")
    wr = wc.orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        joined.select(
            "cluster_id",
            "doc_id",
            "quality",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(wc).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc"),
            "n_members",
            "quality",
        )
    )


# --------------------------------------------------------------------------
# L2g: triangles in the near-dup graph — the classic graph-analytics
# self-join: edges(a,b) ⋈ edges(b,c) ⋈ edges(a,c) with a < b < c.  Dense
# near-dup triangles signal template families (three mutual near-dups are
# almost never coincidence), and the 3-way ordered self-join is THE
# benchmark shape for join planners on graph data.  Candidates are
# bounded by Σ_v deg(v)² over the (sparse) pair graph, not corpus size.
# --------------------------------------------------------------------------


@register(
    "neardup_triangles",
    oracle=_SHINGLE_SQL
    + f""",
{_JACCARD_PAIRS_CTES}
SELECT e1.doc_a AS doc_a, e1.doc_b AS doc_b, e2.doc_b AS doc_c
FROM pairs e1
JOIN pairs e2 ON e1.doc_b = e2.doc_a
JOIN pairs e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b
""",
    tags=("dedup", "llm", "graph", "join"),
    doc="L2: triangles in the near-dup pair graph (ordered 3-way self-join).",
)
def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the edge list ONCE: the three self-join sides otherwise
    # each re-execute the full shingle/inverted-index pipeline (the join
    # keys differ per side, so exchange reuse can't cover it).  The pair
    # graph is ∝ true near-dups — tiny next to the corpus — and the
    # checkpoint also gives AQE real sizes, so it broadcasts the
    # triangle joins instead of shuffling.
    pairs = (
        ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    )
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    return (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e1.doc_a") == F.col("e3.doc_a"))
            & (F.col("e2.doc_b") == F.col("e3.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("doc_a"),
            F.col("e1.doc_b").alias("doc_b"),
            F.col("e2.doc_b").alias("doc_c"),
        )
    )


# --------------------------------------------------------------------------
# L1c: duplicate-group size histogram — the dedup AUDIT query: how much
# of the corpus is singleton vs 2× vs heavy-duplicated?  Hash-group on
# content (never the raw text as a key at 100 TB — fixed-width digest),
# then a bounded histogram over group sizes.  Map-side combinable end
# to end; answers "what will dedup save?" before running it.
# --------------------------------------------------------------------------


@register(
    "dedup_group_size_histogram",
    oracle="""
WITH g AS (
  SELECT md5(text) AS h, COUNT(*) AS group_size
  FROM documents GROUP BY md5(text)
)
SELECT group_size,
       COUNT(*) AS n_groups,
       CAST(group_size * COUNT(*) AS BIGINT) AS n_docs
FROM g GROUP BY group_size
""",
    tags=("dedup", "llm", "audit"),
    doc="L1: histogram of exact-duplicate group sizes (md5 content digest).",
)
def dedup_group_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(F.md5("text").alias("h"))
    g = docs.groupBy("h").agg(F.count("*").alias("group_size"))
    return g.groupBy("group_size").agg(
        F.count("*").alias("n_groups"),
        (F.col("group_size") * F.count("*")).cast("bigint").alias("n_docs"),
    )


# --------------------------------------------------------------------------
# L2f: segment-level dedup report — the line/paragraph dedup step of
# C4/RefinedWeb-style pipelines, on a corpus with no newlines: docs are
# cut into consecutive non-overlapping 8-word segments and a segment is
# "duplicated" when its exact text occurs in more than one document.
# Per-source counts quantify how much boilerplate a source contributes.
#
# Scale shape: one explode (segments stay in codegen arrays until then),
# one hash-agg on the segment text for document frequency, one shuffle
# join back on the same key (co-partitioned — no extra exchange), one
# per-source agg.  At 100 TB the segment key would be a fixed-width
# digest rather than raw text (same as dedup_group_size_histogram);
# raw text keeps the fixture oracle trivially comparable.
# --------------------------------------------------------------------------

_SEG_WORDS = 8


@register(
    "segment_dedup_report",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
),
seg AS (
  SELECT doc_id, source, unnest({_sql_ngrams("ws", _SEG_WORDS, _SEG_WORDS)}) AS seg
  FROM w
),
df AS (
  SELECT seg, COUNT(DISTINCT doc_id) AS n_docs FROM seg GROUP BY seg
)
SELECT source,
       COUNT(*) AS n_segments,
       COUNT(CASE WHEN n_docs > 1 THEN 1 END) AS n_dup_segments,
       CAST(FLOOR(10000.0 * COUNT(CASE WHEN n_docs > 1 THEN 1 END) / COUNT(*)) AS BIGINT)
         AS dup_rate_e4
FROM seg JOIN df USING (seg)
GROUP BY source
""",
    tags=("dedup", "llm", "segments", "audit"),
    doc=(
        "L2: per-source segment-duplication report — 8-word non-overlapping "
        "segments, duplicated iff the exact segment occurs in >1 document "
        "(the line-level dedup audit of C4-style cleaning)."
    ),
)
def segment_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # single-file fixture: repartition before the per-row segment arrays
    w = docs.repartition(shuffle_parts(docs), F.col("doc_id")).select(
        "doc_id", "source", _words(F.col("text")).alias("ws")
    )
    segs = ngram_array(F.col("ws"), _SEG_WORDS, _SEG_WORDS)
    seg = w.select("doc_id", "source", F.explode(segs).alias("seg"))
    df_ = seg.groupBy("seg").agg(F.count_distinct("doc_id").alias("n_docs"))
    dup_occ = F.count(F.when(F.col("n_docs") > 1, F.lit(1)))
    return (
        seg.join(df_, "seg")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_segments"),
            dup_occ.alias("n_dup_segments"),
            F.floor(10000.0 * dup_occ / F.count("*")).cast("bigint").alias("dup_rate_e4"),
        )
    )


# --------------------------------------------------------------------------
# L10b: segment-level dedup TRANSFORM (round 7) — the C4/CCNet "remove
# duplicate lines across the corpus" cleaning step, not just the audit
# (segment_dedup_report counts; this one rewrites).  Every exact 8-word
# segment keeps only its FIRST occurrence in corpus order (doc_id, pos);
# later occurrences are cut and each doc's text is rebuilt from its
# surviving segments.
#
# Scale shape: the keeper per segment is min(doc_id·1000 + pos) via a
# partial-aggregated groupBy on the segment — skew-proof for boilerplate
# segments (no windows; same lesson as the round-7 shingle-guard fix).
# The join back on the segment key is 1 keeper row : df occurrence rows
# — linear.  Rebuild is one groupBy(doc_id) over surviving segments.
# --------------------------------------------------------------------------


@register(
    "segment_dedup_keep_first",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
seg AS (
  SELECT doc_id, generate_subscripts(ss, 1) - 1 AS pos, unnest(ss) AS seg
  FROM (SELECT doc_id, {_sql_ngrams("ws", _SEG_WORDS, _SEG_WORDS)} AS ss FROM w)
),
keep AS (
  SELECT seg, MIN({{'doc_id': doc_id, 'pos': pos}}) AS keeper FROM seg GROUP BY seg
),
kept AS (
  SELECT s.doc_id, s.pos, s.seg
  FROM seg s JOIN keep k ON s.seg = k.seg
  WHERE s.doc_id = struct_extract(k.keeper, 'doc_id')
    AND s.pos = struct_extract(k.keeper, 'pos')
)
SELECT doc_id,
       COUNT(*) AS n_kept,
       md5(string_agg(seg, ' ' ORDER BY pos)) AS clean_hash
FROM kept
GROUP BY doc_id
""",
    tags=("dedup", "llm", "segments"),
    doc=(
        "L10: C4-style segment dedup transform — every exact 8-word "
        "segment keeps only its first corpus occurrence: lexicographic "
        "min over a (doc_id, pos) STRUCT (ADVICE r7: the old "
        "doc_id*1000+pos scalar key collides once a doc has ≥1000 "
        "segments, both engines order structs identically so the argmin "
        "is exact at any doc length), partial-agg, no hot-segment "
        "window; docs rebuilt from survivors.  Docs under 8 words have "
        "no segments and drop out."
    ),
)
def segment_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    w = docs.repartition(shuffle_parts(docs), F.col("doc_id")).select(
        "doc_id", _words(F.col("text")).alias("ws")
    )
    seg = w.select(
        "doc_id",
        F.posexplode(ngram_array(F.col("ws"), _SEG_WORDS, _SEG_WORDS)).alias("pos", "seg"),
    )
    # first-occurrence keeper per segment: partial-agg min over a
    # (doc_id, pos) struct — lexicographic, collision-free at any doc
    # length; a boilerplate segment with df 10^8 still costs one
    # combiner cell per task
    keep = seg.groupBy("seg").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("keeper")
    )
    kept = seg.join(keep, "seg").filter(
        (F.col("doc_id") == F.col("keeper.doc_id"))
        & (F.col("pos") == F.col("keeper.pos"))
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("seg")))
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            )
        ).alias("clean_hash"),
    )


# --------------------------------------------------------------------------
# L1c: incremental (batch-vs-corpus) dedup — the production shape of
# exact dedup at 100 TB: the corpus is already deduplicated, and each
# ingest batch must be checked (a) against the existing corpus and
# (b) within itself, WITHOUT re-deduplicating the corpus.  The corpus
# side reduces to a distinct-hash index (one narrow column), the batch
# probes it with a semi-join, and the within-batch pass is a hash
# group-by over the batch alone — corpus-sized work never repeats.
# --------------------------------------------------------------------------

_NEW_MOD = 10  # doc_id % 10 == 7 plays the role of "today's ingest batch"


@register(
    "incremental_dedup_report",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, md5(text) AS h, doc_id % {_NEW_MOD} = 7 AS is_new
  FROM documents
), old_h AS (
  SELECT DISTINCT h FROM d WHERE NOT is_new
), newd AS (
  SELECT * FROM d WHERE is_new
), grp AS (
  SELECT h, COUNT(*) AS c FROM newd GROUP BY h
)
SELECT source,
       COUNT(*) AS n_new,
       COUNT(CASE WHEN h IN (SELECT h FROM old_h) THEN 1 END) AS n_dup_vs_corpus,
       COUNT(CASE WHEN c > 1 THEN 1 END) AS n_dup_within_batch
FROM newd JOIN grp USING (h)
GROUP BY source
""",
    tags=("dedup", "llm", "incremental", "audit"),
    doc=(
        "L1: incremental exact-dedup audit — an ingest batch (doc_id % 10 "
        "== 7) checked against the standing corpus hash index and within "
        "itself, per source.  Corpus work is one distinct over a narrow "
        "hash column; the batch never forces a corpus re-dedup."
    ),
)
def incremental_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus exact-duplicate accounting.

    At scale the ``old_hashes`` distinct is the standing dedup index a
    real pipeline would keep materialized (bucketed by ``h``); here it
    is derived inline from the same table so the oracle can replay it.
    The probe is a left-semi-shaped join kept as a left join with a
    marker so one pass also counts the misses.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        (F.col("doc_id") % _NEW_MOD == 7).alias("is_new"),
    )
    old_h = d.filter(~F.col("is_new")).select("h").distinct().withColumn("_old", F.lit(1))
    newd = d.filter("is_new")
    grp = newd.groupBy("h").agg(F.count("*").alias("c"))
    joined = newd.join(grp, "h").join(old_h, "h", "left")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.count(F.col("_old")).alias("n_dup_vs_corpus"),
        F.count(F.when(F.col("c") > 1, F.lit(1))).alias("n_dup_within_batch"),
    )


# --------------------------------------------------------------------------
# L2h: cluster-aware train/test split — the leakage-proof version of
# train_test_split: hashing doc_ids sends near-duplicates of one
# document into DIFFERENT splits (eval contamination); hashing the
# dedup CLUSTER id sends whole duplicate families to one side.  Reuses
# dedup_clusters' labels (hash-min over the exact-Jaccard pair graph)
# and the md5-bucket split gate from sampling.train_test_split, so the
# only new machinery is the audit aggregate.
# --------------------------------------------------------------------------


@register(
    "cluster_aware_split",
    oracle=_RECURSIVE_SHINGLE_SQL
    + _CLUSTER_CTES
    + """,
sp AS (
  SELECT a.doc_id, a.cluster_id, d.n_chars,
         CASE WHEN ('0x' || substring(md5(CAST(a.cluster_id AS VARCHAR)), 1, 2))::INT < 230
              THEN 'train' ELSE 'test' END AS split
  FROM allm a JOIN documents d USING (doc_id)
)
SELECT split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT cluster_id) AS n_clusters,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM sp GROUP BY split
""",
    tags=("dedup", "llm", "split", "iterative"),
    doc=(
        "L2/L6: near-dup-safe train/test split — the md5 ~90/10 bucket is "
        "taken on the dedup cluster_id, so a whole duplicate family lands "
        "in one split and cannot leak train text into eval."
    ),
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split by cluster, account by document.

    By construction a cluster cannot straddle the split (its id hashes
    once); the per-split report is what a mix audit consumes.  Cost on
    top of dedup_clusters is one broadcast-sized join + one hash agg.
    """
    cl = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucket = md5_bucket("cluster_id")
    sp = cl.join(docs, "doc_id").withColumn(
        "split", F.when(bucket < 230, F.lit("train")).otherwise(F.lit("test"))
    )
    return sp.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# L1d: cross-source duplicate crossover — which source PAIRS share
# identical documents (syndicated/boilerplate content flowing between
# feeds).  The mix designer needs this: two sources that are 30%
# copies of each other should not both get full temperature weight.
# Shape: hash group-by → per-hash source set → ordered pair explode of
# the (tiny) multi-source groups; the corpus-sized work is one hash agg.
# --------------------------------------------------------------------------


@register(
    "source_dedup_crossover",
    oracle="""
WITH h AS (
  SELECT md5(text) AS h, source, COUNT(*) AS n_docs
  FROM documents GROUP BY 1, 2
), p AS (
  SELECT a.h, a.source AS source_a, b.source AS source_b,
         a.n_docs AS n_a, b.n_docs AS n_b
  FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
)
SELECT source_a, source_b,
       COUNT(*) AS n_shared_texts,
       CAST(SUM(n_a + n_b) AS BIGINT) AS n_docs_involved
FROM p GROUP BY source_a, source_b
""",
    tags=("dedup", "llm", "audit", "mix"),
    doc=(
        "L1: source-pair content crossover — identical texts appearing "
        "in two sources, counted per ordered pair (the syndication audit "
        "behind mix down-weighting)."
    ),
)
def source_dedup_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered source pairs sharing identical document text.

    The self-join runs on the per-(hash, source) aggregate — already
    collapsed to at most |sources| rows per hash — so the pair blowup
    is bounded by duplicate-group source counts, never corpus size.
    """
    d = table(spark, sf_dir, "documents").select(F.md5("text").alias("h"), "source")
    h = d.groupBy("h", "source").agg(F.count("*").alias("n_docs"))
    a, b = h.alias("a"), h.alias("b")
    p = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        (F.col("a.n_docs") + F.col("b.n_docs")).alias("n_inv"),
    )
    return p.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_shared_texts"),
        F.sum("n_inv").cast("bigint").alias("n_docs_involved"),
    )


# --------------------------------------------------------------------------
# L2i: near-dup similarity histogram — the distribution of exact-Jaccard
# values over the detected pair graph.  The threshold-tuning audit: a
# mass near the 0.2 cut means the threshold is doing real work; a spike
# at 1.0 means exact dups leaked past the L1 stage.  One floor-bucket
# projection over ngram_jaccard_pairs' output (identical doubles in
# both engines, so the buckets cut identically).
# --------------------------------------------------------------------------


@register(
    "neardup_jaccard_histogram",
    oracle=_SHINGLE_SQL
    + f""",
{_JACCARD_PAIRS_CTES}
SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS jaccard_decile,
       COUNT(*) AS n_pairs
FROM pairs GROUP BY 1
""",
    tags=("dedup", "llm", "audit"),
    doc=(
        "L2: decile histogram of exact Jaccard over the near-dup pair "
        "graph (threshold-tuning / L1-leak audit; decile 10 = exact dup)."
    ),
)
def neardup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    return (
        pairs.select(
            F.floor(F.col("jaccard") * 10).cast("bigint").alias("jaccard_decile")
        )
        .groupBy("jaccard_decile")
        .agg(F.count("*").alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# L1e: normalization dedup gain — how many duplicate groups appear only
# AFTER text normalization (casefold + whitespace collapse + trim).
# Raw-hash dedup misses "Hello  World" vs "hello world"; the gain
# report quantifies what normalizing before hashing would reclaim.
# Two hash aggregates over one scan; the normalization is a pure
# map-side expression.  (The synthetic fixture is already normalized,
# so the fixture gain is zero — the planted-dirty-corpus test in
# tests/test_round5_ops.py proves the machinery.)
# --------------------------------------------------------------------------


@register(
    "normalization_dedup_gain",
    oracle="""
WITH n AS (
  SELECT source,
         md5(text) AS h_raw,
         md5(regexp_replace(LOWER(TRIM(text)), ' +', ' ', 'g')) AS h_norm
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT h_raw) AS n_distinct_raw,
       COUNT(DISTINCT h_norm) AS n_distinct_norm,
       COUNT(DISTINCT h_raw) - COUNT(DISTINCT h_norm) AS dedup_gain
FROM n GROUP BY source
""",
    tags=("dedup", "llm", "cleaning"),
    doc=(
        "L1: duplicate groups reclaimed by normalize-before-hash "
        "(casefold, whitespace collapse, trim), per source."
    ),
)
def normalization_dedup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "text")
    norm = F.regexp_replace(F.lower(F.trim("text")), " +", " ")
    n = docs.select(
        "source",
        F.md5("text").alias("h_raw"),
        F.md5(norm).alias("h_norm"),
    )
    return n.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("h_raw").alias("n_distinct_raw"),
        F.count_distinct("h_norm").alias("n_distinct_norm"),
        (F.count_distinct("h_raw") - F.count_distinct("h_norm")).alias("dedup_gain"),
    )


# --------------------------------------------------------------------------
# L2b'': MinHash estimator calibration (round 7) — for each verified
# near-dup pair, compare the SKETCH's Jaccard estimate (matching
# signature minima / K; E[est] = J, Broder '97) against the exact
# capped-set Jaccard the verification already computed.  The audit a
# production pipeline runs before trusting signature-only shortcuts
# (e.g. skipping exact verification above a sketch threshold): if
# |est − exact| drifts beyond the binomial band, the hash family or
# the band parameters are broken.  All integer outputs: exact Jaccard
# is a correctly-rounded double of integer ratios → FLOOR(j·1e6) is
# engine-identical; the estimate is matches × 1e6/K exactly.
# --------------------------------------------------------------------------


@register(
    "minhash_estimate_audit",
    oracle=_SHINGLE_SQL
    + _MINHASH_PAIR_CTES
    + f""",
est AS (
  SELECT p.doc_a, p.doc_b, p.jaccard,
         COUNT(CASE WHEN a.m = b.m THEN 1 END) AS matches
  FROM mh_sel p
  JOIN sig a ON a.doc_id = p.doc_a
  JOIN sig b ON b.doc_id = p.doc_b AND b.j = a.j
  GROUP BY 1, 2, 3
)
SELECT doc_a, doc_b,
       CAST(FLOOR(jaccard * 1e6) AS BIGINT) AS jaccard_e6,
       CAST(matches * {10**6 // _K} AS BIGINT) AS est_e6,
       CAST(ABS(CAST(FLOOR(jaccard * 1e6) AS BIGINT)
                - matches * {10**6 // _K}) AS BIGINT) AS abs_err_e6
FROM est
""",
    tags=("dedup", "llm", "approx", "quality"),
    doc=(
        "L2 calibration audit: per verified near-dup pair, the MinHash "
        f"signature Jaccard estimate (matching minima / {_K}) vs the "
        "exact capped-set Jaccard, with the absolute error — the check "
        "run before trusting signature-only thresholds."
    ),
)
def minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, sig = _minhash_prep(spark, sf_dir)
    pairs = minhash_lsh_neardup(spark, sf_dir)
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.m{j}") == F.col(f"sb.m{j}"), 1).otherwise(0)
        for j in range(_K)
    )
    unit = 10**6 // _K
    jac_e6 = F.floor(F.col("jaccard") * 1e6).cast("bigint")
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            jac_e6.alias("jaccard_e6"),
            (matches * unit).cast("bigint").alias("est_e6"),
            F.abs(jac_e6 - matches * unit).cast("bigint").alias("abs_err_e6"),
        )
    )


# --------------------------------------------------------------------------
# L2g': quality × duplication interaction (round 7) — per GLOBAL quality
# decile, the share of documents sitting in a >1-member near-dup cluster
# (production clusters: MinHash-LSH → contraction).  The curation
# question this answers: is low-quality content disproportionately
# duplicated (usual web answer: yes — boilerplate is both bad and
# copied), i.e. how much extra corpus shrink does quality filtering buy
# BEFORE dedup runs.  Deciles via the distributed closed-form rank
# bucket (with_global_pos, the rfm_segmentation pattern — no global
# NTILE window over corpus rows); both engines use the identical
# ⌊pos·10/n⌋ formula.
# --------------------------------------------------------------------------


@register(
    "quality_dup_interaction",
    oracle=_RECURSIVE_SHINGLE_SQL
    + _MINHASH_PAIR_CTES
    + """,
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM mh_sel
  UNION
  SELECT doc_b, doc_a FROM mh_sel
),
walk(node, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.node
),
members AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
allm AS (
  SELECT doc_id, cluster_id FROM members
  UNION ALL
  SELECT doc_id, doc_id AS cluster_id
  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM members)
),
csize AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY cluster_id) > 1 AS is_dup FROM allm
),
"""
    + _quality_cte()
    + """,
dec AS (
  SELECT doc_id,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) - 1) * 10
                    / (SELECT COUNT(*) FROM q)) AS BIGINT) + 1 AS decile
  FROM q
)
SELECT decile,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN is_dup THEN 1 END) AS n_in_dup_cluster,
       CAST(FLOOR(10000.0 * COUNT(CASE WHEN is_dup THEN 1 END) / COUNT(*)) AS BIGINT)
         AS dup_rate_e4
FROM dec JOIN csize USING (doc_id)
GROUP BY decile
""",
    tags=("dedup", "llm", "quality", "audit"),
    doc=(
        "L2/L4: duplication rate per global quality decile over the "
        "production MinHash clusters — how much corpus shrink quality "
        "filtering buys before dedup; distributed closed-form deciles."
    ),
)
def quality_dup_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._helpers import with_global_pos
    from .textops import with_quality

    clusters = dedup_clusters_minhash(spark, sf_dir).select("doc_id", "cluster_id")
    wc = Window.partitionBy("cluster_id")
    dup = clusters.select(
        "doc_id", (F.count("*").over(wc) > 1).alias("is_dup")
    )
    quality = with_quality(table(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    total = quality.agg(F.count("*").alias("_n"))
    dec = (
        with_global_pos(quality, [F.desc("quality"), F.asc("doc_id")], pos_name="_pos")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (F.floor((F.col("_pos") - 1) * 10 / F.col("_n")).cast("bigint") + 1).alias(
                "decile"
            ),
        )
    )
    dup_cnt = F.count(F.when(F.col("is_dup"), 1))
    return (
        dec.join(dup, "doc_id")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            dup_cnt.alias("n_in_dup_cluster"),
            F.floor(10000.0 * dup_cnt / F.count("*")).cast("bigint").alias("dup_rate_e4"),
        )
    )


# --------------------------------------------------------------------------
# L14b (round 10): VARIABLE-LENGTH exact-substring dedup — the Lee et
# al. ("Deduplicating Training Data Makes Language Models Better",
# 2022) removal semantics at span threshold k, exactly: a token
# position is duplicated iff it lies inside SOME >=k-token substring
# that occurs at least twice in the corpus (any doc, any position,
# within-doc repeats included).  Equivalence used: a >=k duplicated
# span exists through a position iff one of the k-grams covering the
# position is globally repeated — so marking repeated k-gram windows
# and unioning their [pos, pos+k-1] intervals per doc gives the EXACT
# covered-token set for ALL span lengths >= k at once (no suffix array
# needed: the suffix array in the paper serves the same k-gram-repeat
# query; on Spark the count-over-gram shuffle is the natural
# equivalent, one Theta(corpus tokens) pass).
#
# vs the fixed 8-word segment transform (segment_dedup_keep_first):
# segments tile the doc at stride 8 and dedup WHOLE tiles; this op
# marks arbitrary-offset, arbitrary-length (>=k) duplicated spans and
# reports per-doc coverage + the longest covered run.
#
# Scale: the gram explode is ~corpus tokens rows; the repeat marking is
# one map-side-combined groupBy(gram); interval union is a per-doc
# window (state bounded by doc length).  No step holds more than one
# doc's positions or one gram's partial count.
# --------------------------------------------------------------------------

_SPAN_K = 15  # span threshold (tokens); Lee et al. use 50 on BPE tokens


@register(
    "exact_substring_dedup",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
occ AS (
  SELECT doc_id, generate_subscripts(gs, 1) AS pos, unnest(gs) AS g
  FROM (SELECT doc_id, {_sql_ngrams("ws", _SPAN_K)} AS gs FROM t)
),
dupg AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) > 1),
ds AS (SELECT doc_id, pos FROM occ WHERE g IN (SELECT g FROM dupg)),
marked AS (
  SELECT doc_id, pos,
         LEAST({_SPAN_K},
               COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                        {_SPAN_K})) AS c,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_SPAN_K} OR
                   LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM ds
), numbered AS (
  SELECT doc_id, pos, c,
         SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM marked
), runs AS (
  SELECT doc_id, isl, MAX(pos) + {_SPAN_K} - MIN(pos) AS rl, SUM(c) AS nd
  FROM numbered GROUP BY doc_id, isl
), cov AS (
  SELECT doc_id, SUM(nd) AS n_dup, MAX(rl) AS max_run FROM runs GROUP BY doc_id
)
SELECT t.doc_id,
       LEN(ws) AS n_tokens,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_tokens,
       CAST(COALESCE(max_run, 0) AS BIGINT) AS max_dup_run,
       CAST(FLOOR(10000.0 * COALESCE(n_dup, 0) / LEN(ws)) AS BIGINT)
         AS dup_frac_e4
FROM t LEFT JOIN cov ON cov.doc_id = t.doc_id
""",
    tags=("dedup", "llm", "text"),
    doc=(
        "L14b: variable-length exact-substring dedup (Lee et al. 2022 "
        f"semantics, k={_SPAN_K}) — per doc, the EXACT count of token "
        "positions inside any >=k-token substring occurring twice "
        "anywhere in the corpus, plus the longest duplicated-coverage "
        "run; repeated-k-gram marking + per-doc interval union."
    ),
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _SPAN_K
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # single-file fixture: spread before the per-row gram explode
    docs = docs.repartition(shuffle_parts(docs), F.col("doc_id"))
    t = docs.select("doc_id", _words(F.col("text")).alias("ws"))
    occ = t.select(
        "doc_id", F.posexplode(ngram_array(F.col("ws"), k)).alias("p0", "g")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "g")
    # repeated windows: >=2 occurrences corpus-wide (map-side partial agg;
    # no task buffers a hot gram's rows)
    dupg = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("g")
    )
    ds = occ.join(dupg, "g", "left_semi").select("doc_id", "pos")
    # interval union + islands per doc: windows are length-k intervals at
    # sorted starts; consecutive starts <= k apart merge into one run
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = ds.select(
        "doc_id",
        "pos",
        F.least(
            F.lit(k),
            F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(k)),
        ).alias("c"),
        F.when(
            F.coalesce(
                F.col("pos") - F.lag("pos").over(w), F.lit(k + 1)
            ) > k,
            1,
        ).otherwise(0).alias("is_new"),
    )
    numbered = marked.withColumn(
        "isl",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = numbered.groupBy("doc_id", "isl").agg(
        (F.max("pos") + k - F.min("pos")).alias("rl"),
        F.sum("c").alias("nd"),
    )
    cov = runs.groupBy("doc_id").agg(
        F.sum("nd").alias("n_dup"), F.max("rl").alias("max_run")
    )
    base = t.select("doc_id", F.size("ws").alias("n_tokens"))
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup_tokens"),
        F.coalesce("max_run", F.lit(0)).cast("bigint").alias("max_dup_run"),
        F.floor(
            10000.0 * F.coalesce("n_dup", F.lit(0)) / F.col("n_tokens")
        ).cast("bigint").alias("dup_frac_e4"),
    )


# --------------------------------------------------------------------------
# L14c (round 11): exact-substring dedup REWRITE — the removal TRANSFORM
# the L14b report measures.  Lee et al. (2022) semantics are removal:
# keep ONE occurrence of every duplicated >=k-token substring and cut
# the rest.  Granularity here is the covering k-gram, keep-first by the
# lexicographic (doc_id, pos) of each repeated k-gram (the
# segment_dedup_keep_first convention): every NON-keeper occurrence of
# a repeated k-gram marks its [pos, pos+k-1] window for removal, the
# per-doc marked windows union into runs, and each doc is rebuilt from
# its surviving tokens.  For a >=k span duplicated across docs this is
# exact removal of the later copies (every covering k-gram of a later
# copy has a lexicographically earlier twin inside the first copy); the
# greedy per-gram rule can additionally clip tokens of a FIRST
# occurrence that overlaps someone else's removed window — the same
# documented recursion-free trade as the gate's within-batch keep-first.
#
# Scale: identical shape to the report (one Θ(corpus tokens) gram pass,
# partial-agg keeper argmin, per-doc windows bounded by doc length);
# the rebuild adds one per-doc array filter — no new shuffle class.
# --------------------------------------------------------------------------


def exact_substring_rewrite(docs: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """Rebuild each doc minus all non-first occurrences of duplicated
    >=k-token substrings.  Input needs (doc_id, text); returns
    (doc_id, n_tokens, n_removed_tokens, n_kept_tokens, clean_text)
    with clean_text = surviving tokens joined by ' ' (empty when the
    whole doc was removed).  Composable: pretraining_corpus_build uses
    it as an optional post-dedup stage."""
    t = docs.select("doc_id", _words(F.col("text")).alias("ws"))
    occ = t.select(
        "doc_id", F.posexplode(ngram_array(F.col("ws"), k)).alias("p0", "g")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "g")
    # keeper per repeated gram: partial-agg min over a (doc_id, pos)
    # struct — skew-proof for boilerplate grams, collision-free at any
    # doc length (the segment_dedup_keep_first argmin)
    keep = (
        occ.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("keeper"),
        )
        .filter(F.col("c") > 1)
        .select("g", "keeper")
    )
    rem = (
        occ.join(keep, "g")
        .filter(
            ~(
                (F.col("doc_id") == F.col("keeper.doc_id"))
                & (F.col("pos") == F.col("keeper.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    # interval union per doc (the exact_substring_dedup islands): runs
    # of length-k windows whose starts are <= k apart merge
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = rem.select(
        "doc_id",
        "pos",
        F.when(
            F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(k + 1)) > k,
            1,
        ).otherwise(0).alias("is_new"),
    )
    numbered = marked.withColumn(
        "isl",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = numbered.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("rs"), (F.max("pos") + k - 1).alias("re")
    )
    rr = runs.groupBy("doc_id").agg(
        F.collect_list(F.struct("rs", "re")).alias("rr"),
        F.sum(F.col("re") - F.col("rs") + 1).alias("n_removed"),
    )
    joined = t.join(rr, "doc_id", "left")
    kept_idx = F.when(
        F.col("rr").isNull(), F.sequence(F.lit(1), F.size("ws"))
    ).otherwise(
        F.filter(
            F.sequence(F.lit(1), F.size("ws")),
            lambda i: ~F.exists(
                F.col("rr"), lambda r: (i >= r["rs"]) & (i <= r["re"])
            ),
        )
    )
    return joined.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed_tokens"),
        (F.size("ws") - F.coalesce("n_removed", F.lit(0)))
        .cast("bigint")
        .alias("n_kept_tokens"),
        F.array_join(
            F.transform(kept_idx, lambda i: F.element_at(F.col("ws"), i)), " "
        ).alias("clean_text"),
    )


@register(
    "exact_substring_dedup_rewrite",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
occ AS (
  SELECT doc_id, generate_subscripts(gs, 1) AS pos, unnest(gs) AS g
  FROM (SELECT doc_id, {_sql_ngrams("ws", _SPAN_K)} AS gs FROM t)
),
keep AS (
  SELECT g, MIN({{'doc_id': doc_id, 'pos': pos}}) AS keeper
  FROM occ GROUP BY g HAVING COUNT(*) > 1
),
rem AS (
  SELECT o.doc_id, o.pos
  FROM occ o JOIN keep kp ON o.g = kp.g
  WHERE NOT (o.doc_id = struct_extract(kp.keeper, 'doc_id')
             AND o.pos = struct_extract(kp.keeper, 'pos'))
),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_SPAN_K} OR
                   LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM rem
),
numbered AS (
  SELECT doc_id, pos,
         SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM marked
),
runs AS (
  SELECT doc_id, isl, MIN(pos) AS rs, MAX(pos) + {_SPAN_K - 1} AS re
  FROM numbered GROUP BY doc_id, isl
),
cov AS (SELECT doc_id, SUM(re - rs + 1) AS n_removed FROM runs GROUP BY doc_id),
tokpos AS (
  SELECT doc_id, u.i AS i, u.tok FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, LEN(ws) + 1),
                                 i -> {{'i': i, 'tok': ws[i]}})) AS u
    FROM t
  )
),
keptpos AS (
  SELECT tp.doc_id, tp.i, tp.tok
  FROM tokpos tp
  WHERE NOT EXISTS (SELECT 1 FROM runs r
                    WHERE r.doc_id = tp.doc_id AND tp.i BETWEEN r.rs AND r.re)
),
h AS (
  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS clean_hash
  FROM keptpos GROUP BY doc_id
)
SELECT t.doc_id,
       LEN(ws) AS n_tokens,
       CAST(COALESCE(cov.n_removed, 0) AS BIGINT) AS n_removed_tokens,
       CAST(LEN(ws) - COALESCE(cov.n_removed, 0) AS BIGINT) AS n_kept_tokens,
       h.clean_hash
FROM t
LEFT JOIN cov ON cov.doc_id = t.doc_id
LEFT JOIN h ON h.doc_id = t.doc_id
""",
    tags=("dedup", "llm", "text"),
    doc=(
        "L14c: exact-substring dedup REWRITE (Lee et al. removal "
        f"semantics, k={_SPAN_K}) — every repeated k-gram window keeps "
        "only its lexicographically first (doc_id, pos) occurrence; "
        "later occurrences' windows union into runs and each doc is "
        "rebuilt from surviving tokens.  Oracle replays span ownership "
        "AND the surviving text (md5 of the rebuilt doc)."
    ),
)
def exact_substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # single-file fixture: spread before the per-row gram explode
    docs = docs.repartition(shuffle_parts(docs), F.col("doc_id"))
    rw = exact_substring_rewrite(docs)
    return rw.select(
        "doc_id",
        "n_tokens",
        "n_removed_tokens",
        "n_kept_tokens",
        # a fully-removed doc has no surviving text: NULL, not md5('')
        F.when(F.col("n_kept_tokens") > 0, F.md5("clean_text")).alias(
            "clean_hash"
        ),
    )
