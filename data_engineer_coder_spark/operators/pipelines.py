"""End-to-end training-data preparation pipeline (north-star showcase).

The composition a 100 TB LLM-data run actually executes, as ONE lazy
plan: quality-filter → content-hash exact dedup → deterministic sample
→ per-language corpus stats.  Each stage is the registry operator it
reuses (`quality_score`, `dedup_hash_groups`, `deterministic_sample`)
— here chained so Catalyst fuses them: the quality expressions and the
sample predicate evaluate in the same scan stage, and the only
shuffles are the dedup window (hash key) and the final aggregate.

Mirrors the reference's fetch→transform→load composition
(``/root/reference/dags/my_data_pipeline.py:142-176``) with the
XCom/process seams replaced by one Catalyst plan (SURVEY.md §3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.tables import table
from ..registry import register
from ._helpers import davg, shuffle_parts, sql_davg
from .dedup import _SEG_WORDS
from .packing import _PACK_BUDGET
from .textops import (
    _DECON_MOD,
    _DECON_N,
    _QUALITY_SQL_CTE,
    _sql_eval_probe,
    _sql_ngrams,
    ngram_array,
    with_quality,
)

_SAMPLE_HEX = "80"  # keep ≈ 50% of deduped survivors


@register(
    "training_data_prep",
    oracle=f"""
WITH {_QUALITY_SQL_CTE},
kept AS (SELECT * FROM q WHERE keep),
deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
sampled AS (
  SELECT * FROM deduped
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SAMPLE_HEX}'
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {sql_davg('quality')} AS avg_quality
FROM sampled
GROUP BY lang
""",
    tags=("pipeline", "llm", "text", "dedup", "sampling"),
    doc=(
        "End-to-end LLM-data prep in one lazy plan: quality filter → "
        "sha256 exact dedup (deterministic winner) → 50% content-hash "
        "sample → per-language corpus stats."
    ),
)
def training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    kept = with_quality(docs).filter(F.col("keep"))
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    sampled = deduped.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < _SAMPLE_HEX
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        davg("quality").alias("avg_quality"),
    )


# --------------------------------------------------------------------------
# L8b: full corpus-build funnel — the round-5 showcase twin of
# training_data_prep, now with the hygiene + assembly stages: eval
# carve-out → quality rules → exact dedup (canonical winner) → 8-gram
# eval-set decontamination → concat-and-chunk packing, reported as a
# per-source FUNNEL (how many docs each stage removed, and what the
# packed corpus looks like).  Still one lazy composition: the quality
# expressions fuse into the scan, dedup is one window on the hash key,
# decontamination is a broadcast n-gram semi-join (the corpus never
# shuffles for it), and packing is a prefix-sum window — the same five
# shapes a 100 TB corpus build executes.
# --------------------------------------------------------------------------

# Single sources of truth: the funnel composes the SAME stages as the
# standalone ops, so its knobs are imports, not copies — retuning the
# packing budget or the eval slice retunes the funnel with it.
_BUILD_PACK_BUDGET = _PACK_BUDGET
_BUILD_EVAL_MOD = _DECON_MOD
_BUILD_NGRAM = _DECON_N


@register(
    "pretraining_corpus_build",
    oracle=f"""
WITH {_QUALITY_SQL_CTE},
b AS (
  SELECT *, doc_id % {_BUILD_EVAL_MOD} = 0 AS is_eval FROM q
),
corpus AS (SELECT * FROM b WHERE NOT is_eval),
canon AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM corpus WHERE keep
),
surv AS (
  SELECT c.doc_id, c.source, c.text, c.n_tokens
  FROM corpus c JOIN canon n USING (doc_id)
  WHERE c.keep AND n.rn = 1
),
{_sql_eval_probe(
    "(SELECT string_split(text, ' ') AS ws FROM b WHERE is_eval)",
    "(SELECT doc_id, string_split(text, ' ') AS ws FROM surv)",
)},
f AS (
  SELECT c.source, c.doc_id, c.keep, c.n_tokens,
         COALESCE(n.rn = 1, FALSE) AS canon,
         c.doc_id IN (SELECT doc_id FROM contam) AS contam
  FROM corpus c LEFT JOIN canon n USING (doc_id)
),
kept AS (SELECT * FROM f WHERE keep AND canon AND NOT contam),
packed AS (
  SELECT source,
         CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {_BUILD_PACK_BUDGET}) AS BIGINT) AS wid
  FROM kept
),
funnel AS (
  SELECT source,
         COUNT(*) AS n_input,
         COUNT(CASE WHEN NOT keep THEN 1 END) AS n_fail_quality,
         COUNT(CASE WHEN keep AND NOT canon THEN 1 END) AS n_dup,
         COUNT(CASE WHEN keep AND canon AND contam THEN 1 END) AS n_contaminated,
         COUNT(CASE WHEN keep AND canon AND NOT contam THEN 1 END) AS n_kept,
         CAST(SUM(CASE WHEN keep AND canon AND NOT contam THEN n_tokens ELSE 0 END)
              AS BIGINT) AS kept_tokens
  FROM f GROUP BY source
),
wins AS (SELECT source, COUNT(DISTINCT wid) AS n_windows FROM packed GROUP BY source)
SELECT f.source, f.n_input, f.n_fail_quality, f.n_dup, f.n_contaminated,
       f.n_kept, f.kept_tokens,
       COALESCE(w.n_windows, 0) AS n_windows
FROM funnel f LEFT JOIN wins w USING (source)
""",
    tags=("pipeline", "llm", "dedup", "decontamination", "packing"),
    doc=(
        "L8: the full corpus-build funnel in one lazy plan — eval "
        "carve-out, quality gate, canonical exact dedup, 8-gram "
        "decontamination, context-window packing — reported per source "
        "with per-stage removal counts."
    ),
)
def pretraining_corpus_build(
    spark: SparkSession, sf_dir: str, substring_dedup: bool = False
) -> DataFrame:
    """Per-source funnel of the five-stage corpus build.

    Stage order is the production order: held-out eval docs leave first
    (they must never train), the quality gate runs on raw text, dedup
    keeps the min-doc_id copy per content hash, decontamination removes
    survivors sharing any 8-gram with the eval slice, and the packing
    prefix-sum assigns what's left to context windows.  Every count is
    an exact integer; the only joins are broadcast-sized (canonical
    markers, contamination ids, eval n-grams).

    ``substring_dedup=True`` (r11) inserts the Lee-et-al. removal stage
    between exact dedup and decontamination: survivors are rewritten
    minus all non-first occurrences of duplicated >=15-token substrings
    (``dedup.exact_substring_rewrite``), docs rewritten to empty drop
    out, and the downstream stages (decontamination grams, token
    counts, packing) run on the CLEANED text.  The registered query
    keeps the default (off) so the oracle replays the canonical
    five-stage funnel; the flag is covered by the funnel-conservation
    test in tests/test_round11_ops.py.
    """
    base = with_quality(table(spark, sf_dir, "documents")).withColumn(
        "is_eval", F.col("doc_id") % _BUILD_EVAL_MOD == 0
    )
    corpus = base.filter(~F.col("is_eval"))
    w_hash = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    canon = (
        corpus.filter("keep")
        .withColumn("rn", F.row_number().over(w_hash))
        .select("doc_id", (F.col("rn") == 1).alias("_canon"))
    )

    def grams(src: DataFrame) -> DataFrame:
        # spread the per-row gram build (single-file fixture pins it to
        # one task otherwise - same pattern as ngram_decontaminate)
        arr = ngram_array(F.split("text", " "), _BUILD_NGRAM)
        return src.repartition(shuffle_parts(src), F.col("doc_id")).select(
            "doc_id", F.explode(arr).alias("g")
        )

    surv = (
        corpus.join(canon, "doc_id", "left")
        .filter(F.col("keep") & F.coalesce(F.col("_canon"), F.lit(False)))
        .select("doc_id", "source", "text", "n_tokens")
    )
    if substring_dedup:
        from .dedup import exact_substring_rewrite

        # rewrite over the DEDUP SURVIVORS (duplicated spans among docs
        # the funnel will actually keep), then run everything downstream
        # — decontamination grams, token counts, packing — on the
        # cleaned text; fully-removed docs leave the funnel here
        rw = exact_substring_rewrite(surv.select("doc_id", "text"))
        surv = (
            surv.drop("text", "n_tokens")
            .join(rw.filter(F.col("n_kept_tokens") > 0), "doc_id")
            .select(
                "doc_id",
                "source",
                F.col("clean_text").alias("text"),
                F.col("n_kept_tokens").cast("int").alias("n_tokens"),
            )
            # referenced twice downstream (contamination grams + the
            # ledger's effective-token join) — materialize the rewrite
            .localCheckpoint(eager=False)
        )
    evg = grams(base.filter("is_eval")).select("g").distinct()
    contam_ids = (
        grams(surv)
        .join(F.broadcast(evg), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    f = corpus.join(canon, "doc_id", "left").join(contam_ids, "doc_id", "left")
    if substring_dedup:
        # fold rewrite-dropped docs (entire text was duplicated spans)
        # into the duplicate bucket, and carry the CLEANED token counts
        # into the ledger and the packing prefix-sum
        eff = surv.select("doc_id", F.col("n_tokens").alias("_eff_tokens"))
        f = f.join(eff, "doc_id", "left").select(
            "source",
            "doc_id",
            "keep",
            F.coalesce("_eff_tokens", F.lit(0)).alias("n_tokens"),
            (
                F.coalesce(F.col("_canon"), F.lit(False))
                & F.col("_eff_tokens").isNotNull()
            ).alias("canon"),
            F.col("_hit").isNotNull().alias("contam"),
        )
    else:
        f = f.select(
            "source",
            "doc_id",
            "keep",
            "n_tokens",
            F.coalesce(F.col("_canon"), F.lit(False)).alias("canon"),
            F.col("_hit").isNotNull().alias("contam"),
        )
    kept = f.filter(F.col("keep") & F.col("canon") & ~F.col("contam"))
    w_pack = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = kept.withColumn(
        "wid",
        F.floor(
            (F.sum("n_tokens").over(w_pack) - F.col("n_tokens")) / _BUILD_PACK_BUDGET
        ).cast("bigint"),
    )
    wins = packed.groupBy("source").agg(F.count_distinct("wid").alias("_nw"))
    funnel = f.groupBy("source").agg(
        F.count("*").alias("n_input"),
        F.count(F.when(~F.col("keep"), F.lit(1))).alias("n_fail_quality"),
        F.count(F.when(F.col("keep") & ~F.col("canon"), F.lit(1))).alias("n_dup"),
        F.count(F.when(F.col("keep") & F.col("canon") & F.col("contam"), F.lit(1))).alias(
            "n_contaminated"
        ),
        F.count(
            F.when(F.col("keep") & F.col("canon") & ~F.col("contam"), F.lit(1))
        ).alias("n_kept"),
        F.sum(
            F.when(
                F.col("keep") & F.col("canon") & ~F.col("contam"), F.col("n_tokens")
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("kept_tokens"),
    )
    return funnel.join(wins, "source", "left").select(
        "source",
        "n_input",
        "n_fail_quality",
        "n_dup",
        "n_contaminated",
        "n_kept",
        "kept_tokens",
        F.coalesce(F.col("_nw"), F.lit(0).cast("bigint")).alias("n_windows"),
    )


# --------------------------------------------------------------------------
# L8c: curation funnel v2 (round 7) — the round-7 stages composed into
# one lazy plan, per source:
#   1. CCNet gate: drop each language's 'tail' perplexity tercile
#      (unigram LM score in exact micro-nats, closed-form terciles);
#   2. segment dedup: C4-style keep-first over the SURVIVORS' 8-word
#      segments (partial-agg argmin — first occurrence wins);
#   3. UniMax: closed-form token-budget waterfill over the cleaned
#      per-source segment-token totals (E=1 epoch cap, B = 0.8·total).
# Emits the per-source funnel ledger: docs in, tail-dropped, segments
# kept vs cut, clean tokens, final allocation.  Every stage reuses an
# oracle-proven formulation (ccnet_perplexity_buckets,
# segment_dedup_keep_first, unimax_allocation), so the composition is
# fully SQL-replayable end to end.
# --------------------------------------------------------------------------


@register(
    "curation_funnel_v2",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
total AS (SELECT SUM(cnt) AS n FROM tf),
doc AS (
  SELECT doc_id, lang,
         CAST(FLOOR(SUM(CAST(FLOOR(LN(CAST(cnt AS DOUBLE) / n) * 1e9) AS BIGINT))
                    / (COUNT(*) * 1000.0) + 0.5) AS BIGINT) AS score_micro
  FROM tok JOIN tf USING (term) CROSS JOIN total
  GROUP BY doc_id, lang
),
ranked AS (
  SELECT doc_id,
         NTILE(3) OVER (PARTITION BY lang ORDER BY score_micro DESC, doc_id) AS tercile
  FROM doc
),
surv AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d JOIN ranked r ON d.doc_id = r.doc_id
  WHERE r.tercile < 3
),
w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM surv),
seg AS (
  SELECT doc_id, source, generate_subscripts(ss, 1) - 1 AS pos, unnest(ss) AS seg
  FROM (SELECT doc_id, source, {_sql_ngrams("ws", _SEG_WORDS, _SEG_WORDS)} AS ss FROM w)
),
keep AS (SELECT seg, MIN({{'doc_id': doc_id, 'pos': pos}}) AS keeper FROM seg GROUP BY seg),
kept AS (
  SELECT s.doc_id, s.source
  FROM seg s JOIN keep k ON s.seg = k.seg
  WHERE s.doc_id = struct_extract(k.keeper, 'doc_id')
    AND s.pos = struct_extract(k.keeper, 'pos')
),
src AS (
  SELECT sv.source,
         COUNT(DISTINCT sv.doc_id) AS n_docs_kept,
         (SELECT COUNT(*) FROM seg WHERE seg.source = sv.source) AS n_segments_in,
         (SELECT COUNT(*) FROM kept WHERE kept.source = sv.source) AS n_segments_kept
  FROM surv sv GROUP BY sv.source
),
dropped AS (
  SELECT d.source, COUNT(*) AS n_tail_dropped
  FROM documents d JOIN ranked r ON d.doc_id = r.doc_id
  WHERE r.tercile = 3 GROUP BY d.source
),
t AS (
  SELECT src.source, src.n_docs_kept,
         COALESCE(dropped.n_tail_dropped, 0) AS n_tail_dropped,
         src.n_segments_in, src.n_segments_kept,
         CAST(src.n_segments_kept * {_SEG_WORDS} AS BIGINT) AS tokens
  FROM src LEFT JOIN dropped ON src.source = dropped.source
),
g AS (
  SELECT *, tokens AS cap,
         CAST(FLOOR(SUM(tokens) OVER () * 8 / 10) AS BIGINT) AS b,
         ROW_NUMBER() OVER (ORDER BY tokens, source) AS rn,
         COUNT(*) OVER () AS n,
         CAST(COALESCE(SUM(tokens) OVER (ORDER BY tokens, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS prefix
  FROM t
),
th AS (
  SELECT *, CAST(FLOOR(GREATEST(b - prefix, 0) / (n - rn + 1.0)) AS BIGINT) AS theta
  FROM g
),
sw AS (SELECT MIN(rn) AS srn, arg_min(theta, rn) AS stheta FROM th WHERE cap > theta)
SELECT source, n_docs_kept, n_tail_dropped, n_segments_in, n_segments_kept, tokens,
       CASE WHEN rn < srn THEN cap ELSE stheta END AS allocation
FROM th CROSS JOIN sw
""",
    tags=("pipeline", "llm", "funnel"),
    doc=(
        "L8: curation funnel v2 — CCNet tail-tercile gate → C4 segment "
        "keep-first dedup → UniMax waterfill, one lazy plan with the "
        "per-source funnel ledger; every stage reuses an oracle-proven "
        "formulation."
    ),
)
def curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    tok = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = tf.agg(F.sum("cnt").alias("n"))
    lp_q = F.floor(F.log(F.col("cnt").cast("double") / F.col("n")) * 1e9).cast("bigint")
    doc = (
        tok.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(
            F.floor(F.sum(lp_q) / (F.count("*") * 1000.0) + 0.5)
            .cast("bigint")
            .alias("score_micro")
        )
    )
    wlang = Window.partitionBy("lang").orderBy(F.desc("score_micro"), F.asc("doc_id"))
    ranked = doc.select("doc_id", F.ntile(3).over(wlang).alias("tercile"))
    marked = docs.join(ranked, "doc_id")
    surv = marked.filter(F.col("tercile") < 3)

    segs = ngram_array(F.split("text", " "), _SEG_WORDS, _SEG_WORDS)
    seg = surv.repartition(shuffle_parts(surv), F.col("doc_id")).select(
        "doc_id", "source", F.posexplode(segs).alias("pos", "seg")
    )
    keep = seg.groupBy("seg").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("keeper")
    )
    kept = seg.join(keep, "seg").filter(
        (F.col("doc_id") == F.col("keeper.doc_id"))
        & (F.col("pos") == F.col("keeper.pos"))
    )
    seg_in = seg.groupBy("source").agg(F.count("*").alias("n_segments_in"))
    seg_kept = kept.groupBy("source").agg(F.count("*").alias("n_segments_kept"))
    docs_kept = surv.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs_kept")
    )
    dropped = (
        marked.filter(F.col("tercile") == 3)
        .groupBy("source")
        .agg(F.count("*").alias("n_tail_dropped"))
    )
    # LEFT joins from docs_kept (ADVICE r7): a source whose surviving
    # docs are all under 8 words has ZERO segments — inner joins would
    # drop it from the ledger while the oracle keeps it with 0 counts
    t = (
        docs_kept.join(seg_in, "source", "left")
        .join(seg_kept, "source", "left")
        .join(dropped, "source", "left")
        .select(
            "source",
            "n_docs_kept",
            F.coalesce("n_tail_dropped", F.lit(0)).alias("n_tail_dropped"),
            F.coalesce("n_segments_in", F.lit(0)).alias("n_segments_in"),
            F.coalesce("n_segments_kept", F.lit(0)).alias("n_segments_kept"),
            (F.coalesce("n_segments_kept", F.lit(0)) * _SEG_WORDS)
            .cast("bigint")
            .alias("tokens"),
        )
    )
    # UniMax waterfill over the per-source aggregate (~|sources| rows)
    wmix = Window.orderBy("tokens", "source")
    g = t.select(
        "*",
        F.col("tokens").alias("cap"),
        F.row_number().over(wmix).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.coalesce(
            F.sum("tokens").over(wmix.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("prefix"),
        F.floor(F.sum("tokens").over(Window.partitionBy()) * 8 / 10)
        .cast("bigint")
        .alias("b"),
    )
    th = g.withColumn(
        "theta",
        F.floor(
            F.greatest(F.col("b") - F.col("prefix"), F.lit(0))
            / (F.col("n") - F.col("rn") + 1.0)
        ).cast("bigint"),
    )
    sw = (
        th.filter(F.col("cap") > F.col("theta"))
        .agg(F.min("rn").alias("srn"), F.min_by("theta", "rn").alias("stheta"))
    )
    alloc = F.when(F.col("rn") < F.col("srn"), F.col("cap")).otherwise(F.col("stheta"))
    return (
        th.crossJoin(F.broadcast(sw))
        .select(
            "source",
            "n_docs_kept",
            "n_tail_dropped",
            "n_segments_in",
            "n_segments_kept",
            "tokens",
            alloc.alias("allocation"),
        )
    )


# --------------------------------------------------------------------------
# L8d (round 8): the DATASET CARD — the one-page corpus summary a data
# team publishes with a training set (size, composition, dedup rate,
# quality mass, per-lang/source breakdown).  Every value is a BIGINT
# (counts, exact-decimal quality mass ×1e4) so the tall frame
# value-hashes cross-engine.  Shape: four column-pruned scans of
# documents (corpus scalars / exact-dup groups / per-lang / top-source),
# each a partial-agg shuffle of group-cardinality rows — nothing
# corpus-sized moves.
# --------------------------------------------------------------------------


@register(
    "dataset_card_report",
    oracle=f"""
WITH {_QUALITY_SQL_CTE},
tok AS (SELECT doc_id, lang, source, n_chars, LEN(string_split(text, ' ')) AS n_tokens FROM documents),
dup AS (
  SELECT COUNT(*) FILTER (WHERE c > 1) AS dup_groups,
         COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS dup_docs
  FROM (SELECT COUNT(*) AS c FROM documents GROUP BY md5(text))
)
SELECT 'corpus' AS section, 'n_docs' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM documents
UNION ALL SELECT 'corpus', 'n_langs', CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
UNION ALL SELECT 'corpus', 'n_sources', CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents
UNION ALL SELECT 'corpus', 'n_tokens', CAST(SUM(n_tokens) AS BIGINT) FROM tok
UNION ALL SELECT 'corpus', 'n_chars', CAST(SUM(n_chars) AS BIGINT) FROM documents
UNION ALL SELECT 'corpus', 'min_tokens', CAST(MIN(n_tokens) AS BIGINT) FROM tok
UNION ALL SELECT 'corpus', 'max_tokens', CAST(MAX(n_tokens) AS BIGINT) FROM tok
UNION ALL SELECT 'dedup', 'n_exact_dup_groups', CAST(dup_groups AS BIGINT) FROM dup
UNION ALL SELECT 'dedup', 'n_exact_dup_docs', CAST(dup_docs AS BIGINT) FROM dup
UNION ALL SELECT 'quality', 'n_keep', CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) FROM q
UNION ALL SELECT 'quality', 'quality_mass_e4',
          CAST(FLOOR(SUM(CAST(quality AS DECIMAL(38,6))) * 10000) AS BIGINT) FROM q
UNION ALL SELECT 'lang', lang, CAST(COUNT(*) AS BIGINT) FROM documents GROUP BY lang
UNION ALL SELECT * FROM (
  SELECT 'source_top', source, CAST(SUM(n_tokens) AS BIGINT) AS value
  FROM tok GROUP BY source ORDER BY value DESC, source LIMIT 5
)
""",
    tags=("llm", "audit", "report"),
    doc=(
        "L8: dataset card — tall (section, metric, value) corpus "
        "summary: size, composition, exact-dup rate, quality mass, "
        "per-lang counts, top-5 sources by tokens; all-BIGINT values."
    ),
)
def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import with_quality

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", "source", "n_chars", F.size(F.split("text", " ")).alias("n_tokens")
    )
    b = F.lit  # brevity

    corpus = tok.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(b("corpus").alias("section"), b(m).alias("metric"),
                             F.col(m).cast("bigint").alias("value"))
                    for m in ("n_docs", "n_langs", "n_sources", "n_tokens",
                              "n_chars", "min_tokens", "max_tokens")
                ]
            )
        ).alias("r")
    ).select("r.*")

    dup = (
        docs.groupBy(F.md5("text"))
        .agg(F.count("*").alias("c"))
        .agg(
            F.count(F.when(F.col("c") > 1, 1)).alias("dup_groups"),
            F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), b(0)).alias("dup_docs"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(b("dedup").alias("section"), b("n_exact_dup_groups").alias("metric"),
                             F.col("dup_groups").cast("bigint").alias("value")),
                    F.struct(b("dedup").alias("section"), b("n_exact_dup_docs").alias("metric"),
                             F.col("dup_docs").cast("bigint").alias("value")),
                )
            ).alias("r")
        )
        .select("r.*")
    )

    q = with_quality(docs).agg(
        F.count(F.when(F.col("keep"), 1)).alias("n_keep"),
        F.floor(F.sum(F.col("quality").cast("decimal(38,6)")) * 10000)
        .cast("bigint")
        .alias("qmass"),
    ).select(
        F.explode(
            F.array(
                F.struct(b("quality").alias("section"), b("n_keep").alias("metric"),
                         F.col("n_keep").cast("bigint").alias("value")),
                F.struct(b("quality").alias("section"), b("quality_mass_e4").alias("metric"),
                         F.col("qmass").alias("value")),
            )
        ).alias("r")
    ).select("r.*")

    langs = docs.groupBy("lang").agg(F.count("*").alias("value")).select(
        b("lang").alias("section"), F.col("lang").alias("metric"),
        F.col("value").cast("bigint").alias("value"),
    )
    src_top = (
        tok.groupBy("source")
        .agg(F.sum("n_tokens").alias("value"))
        .orderBy(F.desc("value"), F.asc("source"))
        .limit(5)
        .select(
            b("source_top").alias("section"), F.col("source").alias("metric"),
            F.col("value").cast("bigint").alias("value"),
        )
    )
    return corpus.unionByName(dup).unionByName(q).unionByName(langs).unionByName(src_top)
