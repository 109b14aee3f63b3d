"""Text analysis L4 (SURVEY.md §2.11, north-star): language-ID heuristic,
quality scoring, token counting, document fingerprinting.

Everything stays JVM-side in array/higher-order expressions — no Python
UDFs: tokenization is ``split``, per-doc statistics are
``transform``/``filter``/``aggregate`` over the token array (zero
shuffle), corpus-level term frequencies are one explode + hash-agg.

Determinism: all scores are ratios of integers (identical doubles in
both engines); the fingerprint is pure int64 modular arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.tables import table
from ..registry import register
from ._helpers import shuffle_parts

# A small English stopword list (public domain).  The fixture vocabulary
# is synthetic; the *operator* is what matters.
_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")
_SQL_STOPWORDS = ", ".join(f"'{w}'" for w in _STOPWORDS)


# --------------------------------------------------------------------------
# The word window, written once per engine.  Every LLM-pipeline operator
# that cuts a document's words into windows (dedup shingles,
# decontamination and containment grams, 8-word segments, exact-substring
# spans, the quality bigrams/trigrams) goes through ``ngram_array`` in
# Spark and ``_sql_ngrams`` in the oracle SQL; RAG chunks go through
# ``chunk_array``/``_sql_chunks``.  A caller that needs a window's
# position takes it from the same list (``posexplode`` /
# ``generate_subscripts``).
# --------------------------------------------------------------------------


def ngram_array(ws, n: int, step: int = 1):
    """The word window, the one Spark cut of a token-array column into
    full ``n``-word windows at stride ``step``, each joined by a space.

    Every overlapping gram in the engine (dedup shingles, decontamination
    8-grams, containment and exact-substring k-grams, the bigram and
    trigram quality signals) is ``step=1``; the 8-word segment tiles are
    ``step=n``.  A doc shorter than ``n`` yields an empty array: the guard
    is needed because ``sequence(1, 0)`` counts DOWN in Spark.
    :func:`_sql_ngrams` is the DuckDB twin.
    """
    last = F.size(ws) - (n - 1)
    starts = (
        F.sequence(F.lit(1), last)
        if step == 1
        else F.sequence(F.lit(1), last, F.lit(step))
    )
    return F.transform(
        F.when(F.size(ws) >= n, starts).otherwise(F.array().cast("array<int>")),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )


def _sql_ngrams(ws: str, n: int, step: int = 1) -> str:
    """DuckDB twin of :func:`ngram_array` over the list expression ``ws``.

    ``range`` stops before its start when ``LEN(ws) < n``, so a short doc
    yields an empty list; there is no division, so DuckDB's ``//``
    (truncating toward zero) cannot invent a window.  The words are
    joined with ``concat_ws``, which DuckDB runs several times faster
    than ``array_to_string(list_slice(…))``."""
    words = ", ".join(f"{ws}[i + {k}]" for k in range(n))
    return f"list_transform(range(1, LEN({ws}) - {n} + 2, {step}), i -> concat_ws(' ', {words}))"


_CHUNK_LEN = 32
_CHUNK_STRIDE = 24


def chunk_array(ws):
    """RAG chunks of a token-array column: ``_CHUNK_LEN``-word windows at
    stride ``_CHUNK_STRIDE``, 1 + ⌈max(len−32, 0)/24⌉ of them, so the
    trailing window may run short (it is empty only for an empty ``ws``).
    :func:`_sql_chunks` is the DuckDB twin."""
    c, s = _CHUNK_LEN, _CHUNK_STRIDE
    nc = (F.lit(1) + F.ceil(F.greatest(F.size(ws) - c, F.lit(0)) / float(s))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), nc - 1),
        lambda k: F.slice(ws, k * s + 1, F.least(F.lit(c), F.size(ws) - k * s)),
    )


def _sql_chunks(ws: str) -> str:
    """DuckDB twin of :func:`chunk_array` over the list expression ``ws``."""
    c, s = _CHUNK_LEN, _CHUNK_STRIDE
    return (
        f"list_transform(range(0, CAST(1 + CEIL(GREATEST(LEN({ws}) - {c}, 0) / {s}.0) AS BIGINT)), "
        f"k -> list_slice({ws}, 1 + k * {s}, LEAST(1 + k * {s} + {c - 1}, LEN({ws}))))"
    )


# --------------------------------------------------------------------------
# L4a: token counting + type-token ratio + word-length stats.
# --------------------------------------------------------------------------


@register(
    "token_stats",
    oracle="""
SELECT doc_id,
       LEN(ws) AS n_tokens,
       LEN(list_distinct(ws)) AS n_types,
       CAST(LEN(list_distinct(ws)) AS DOUBLE) / LEN(ws) AS type_token_ratio,
       CAST(list_sum(list_transform(ws, w -> LENGTH(w))) AS BIGINT) AS n_word_chars,
       CAST(CAST(list_sum(list_transform(ws, w -> LENGTH(w))) AS BIGINT) AS DOUBLE)
         / LEN(ws) AS mean_word_len,
       LENGTH(text) AS n_chars_text
FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
""",
    tags=("text", "llm"),
    doc="L4: whitespace token counts, type-token ratio, word-length stats.",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    word_chars = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("bigint").alias("n_types"),
        (F.size(F.array_distinct(ws)).cast("double") / F.size(ws)).alias("type_token_ratio"),
        word_chars.alias("n_word_chars"),
        (word_chars.cast("double") / F.size(ws)).alias("mean_word_len"),
        F.length("text").cast("bigint").alias("n_chars_text"),
    )


# --------------------------------------------------------------------------
# L4a2: BPE-ish subtoken counting — the pre-tokenization regex family
# (letter runs / digit runs / single punctuation), the standard proxy for
# LLM token budgeting when the real tokenizer isn't on the cluster.
# Pattern kept to constructs Java regex and RE2 treat identically.
# --------------------------------------------------------------------------

_BPE_ISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "bpe_ish_token_count",
    oracle=f"""
SELECT doc_id,
       LEN(regexp_extract_all(LOWER(text), '{_BPE_ISH}')) AS n_subtokens,
       LEN(string_split(text, ' ')) AS n_words,
       CAST(LEN(regexp_extract_all(LOWER(text), '{_BPE_ISH}')) AS DOUBLE)
         / LEN(string_split(text, ' ')) AS subtokens_per_word
FROM documents
""",
    tags=("text", "llm", "tokens"),
    doc="L4: BPE-ish regex subtoken counts (token-budget estimation).",
)
def bpe_ish_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sub = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_ISH), 0)  # idx=0: whole match (pattern has no groups)
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(sub).cast("bigint").alias("n_subtokens"),
        F.size(words).cast("bigint").alias("n_words"),
        (F.size(sub).cast("double") / F.size(words)).alias("subtokens_per_word"),
    )


# --------------------------------------------------------------------------
# L4b: language-ID heuristic — stopword-hit ratio against a reference
# list (the n-gram-profile method collapsed to its unigram core).
# --------------------------------------------------------------------------


@register(
    "lang_id_heuristic",
    oracle=f"""
SELECT doc_id,
       lang,
       CAST(LEN(list_filter(ws, w -> w IN ({_SQL_STOPWORDS}))) AS DOUBLE) / LEN(ws)
         AS stopword_ratio,
       CASE
         WHEN CAST(LEN(list_filter(ws, w -> w IN ({_SQL_STOPWORDS}))) AS DOUBLE) / LEN(ws) >= 0.05
         THEN 'en' ELSE 'other'
       END AS lang_pred
FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
""",
    tags=("text", "llm"),
    doc="L4: stopword-ratio language-ID heuristic with prediction column.",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    ratio = (
        F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).cast("double") / F.size(ws)
    )
    return docs.select(
        "doc_id",
        "lang",
        ratio.alias("stopword_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("other").alias("lang_pred"),
    )


# --------------------------------------------------------------------------
# L4c: quality scoring — length, lexical diversity, stopword balance
# combined into one filterable score (the C4/Gopher-style rule family).
# --------------------------------------------------------------------------


# Shared between quality_score and the training_data_prep pipeline so the
# Spark expressions and the oracle CTE cannot drift apart.
_QUALITY_SQL_CTE = f"""
q_t AS (
  SELECT *, string_split(text, ' ') AS ws FROM documents
), q_m AS (
  SELECT * EXCLUDE (ws),
         LEN(ws) AS n_tokens,
         CAST(LEN(list_distinct(ws)) AS DOUBLE) / LEN(ws) AS ttr,
         CAST(LEN(list_filter(ws, w -> w IN ({_SQL_STOPWORDS}))) AS DOUBLE) / LEN(ws) AS swr,
         CASE WHEN LEN(ws) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END AS len_ok
  FROM q_t
), q AS (
  SELECT *,
         0.4 * len_ok + 0.4 * ttr + 0.2 * LEAST(swr * 10, 1.0) AS quality,
         (0.4 * len_ok + 0.4 * ttr + 0.2 * LEAST(swr * 10, 1.0)) >= 0.5 AS keep
  FROM q_m
)
"""


def with_quality(docs: DataFrame) -> DataFrame:
    """Attach n_tokens/ttr/swr/len_ok/quality/keep columns (C4/Gopher-style
    rule family); pure expressions, zero shuffle."""
    ws = F.split("text", " ")
    n_tokens = F.size(ws)
    ttr = F.size(F.array_distinct(ws)).cast("double") / n_tokens
    swr = F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).cast("double") / n_tokens
    len_ok = F.when((n_tokens >= 20) & (n_tokens <= 1000), 1.0).otherwise(0.0)
    quality = 0.4 * len_ok + 0.4 * ttr + 0.2 * F.least(swr * 10, F.lit(1.0))
    return docs.select(
        "*",
        n_tokens.cast("bigint").alias("n_tokens"),
        ttr.alias("ttr"),
        swr.alias("swr"),
        len_ok.alias("len_ok"),
        quality.alias("quality"),
        (quality >= 0.5).alias("keep"),
    )


@register(
    "quality_score",
    oracle=f"""
WITH {_QUALITY_SQL_CTE}
SELECT doc_id, lang, n_tokens, ttr, swr, len_ok, quality, keep
FROM q
""",
    tags=("text", "llm"),
    doc="L4: composite quality score (length window, diversity, stopword balance) + keep flag.",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return with_quality(docs).select(
        "doc_id", "lang", "n_tokens", "ttr", "swr", "len_ok", "quality", "keep"
    )


# --------------------------------------------------------------------------
# L4d: document fingerprint — polynomial rolling hash over characters,
# pure int64 modular arithmetic (cross-engine identical).  DuckDB's
# list_reduce seeds with the first element, so Spark replicates that:
# init = ascii(char 1), fold over chars 2..n.
# --------------------------------------------------------------------------


@register(
    "doc_fingerprint",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
         (acc, c) -> (acc * 31 + c) % 2147483647
       ) AS fingerprint
FROM documents
""",
    tags=("text", "llm", "hash"),
    doc="L4: polynomial rolling-hash fingerprint (base 31 mod 2^31-1).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    chars = F.transform(F.split("text", ""), lambda c: F.ascii(c).cast("bigint"))
    fp = F.aggregate(
        F.slice(chars, 2, F.size(chars) - 1),
        F.element_at(chars, 1),
        lambda acc, c: (acc * 31 + c) % F.lit(2147483647).cast("bigint"),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


@register(
    "doc_fingerprint_fast",
    # The raw xxhash64 value is engine-specific, so the CHECKED output is
    # the *dedup structure it induces* — per-doc duplicate-group size and
    # canonical member — which must equal the structure induced by exact
    # text equality (what the oracle computes).  A hash collision would
    # merge two text groups and split the counts → hash-fail, which is
    # exactly the property the fast path must guarantee.
    oracle="""
WITH g AS (
  SELECT text, COUNT(*) AS dup_count, MIN(doc_id) AS canonical_doc_id
  FROM documents GROUP BY text
)
SELECT d.doc_id, g.dup_count, g.canonical_doc_id, TRUE AS crc_agrees
FROM documents d JOIN g USING (text)
""",
    tags=("text", "llm", "hash"),
    doc=(
        "L4/100TB: engine-native xxhash64 fingerprint — one JVM intrinsic "
        "per row instead of a per-character Catalyst fold.  The production "
        "dedup path; checked via the duplicate-group structure the hash "
        "induces (vs exact text equality in the oracle), with a second "
        "independent hash (crc32) as the in-group collision detector."
    ),
)
def doc_fingerprint_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = docs.select(
        "doc_id",
        F.xxhash64("text").alias("fp"),
        # Collision-check companion: two independent hashes make accidental
        # 64-bit collisions at corpus scale detectable.
        F.crc32("text").alias("crc"),
    )
    groups = fp.groupBy("fp").agg(
        F.count("*").alias("dup_count"),
        F.min("doc_id").alias("canonical_doc_id"),
        (F.count_distinct("crc") == 1).alias("crc_agrees"),
    )
    return fp.join(groups, "fp").select(
        "doc_id", "dup_count", "canonical_doc_id", "crc_agrees"
    )


# --------------------------------------------------------------------------
# L4e: corpus term frequency — top 20 tokens (explode + hash agg + top-k).
# --------------------------------------------------------------------------


@register(
    "word_freq_topk",
    oracle="""
SELECT w AS word, COUNT(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY 1
ORDER BY freq DESC, word
LIMIT 20
""",
    tags=("text", "llm", "topk"),
    doc="L4: corpus-level term frequency, top-20 (map-side partial agg).",
)
def word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# L4f: corpus tf-idf — two hash aggregates (term-frequency per doc,
# document-frequency per term) + a join on the term key, then top-3 terms
# per document.  The canonical 100 TB shape: both aggregates are
# partial→final, the tf⋈df join shuffles on the term key (vocabulary-
# sized, NOT corpus-sized), and the corpus count N broadcasts as one row.
# Determinism: tf/df/N are exact integers; ln() is the one transcendental
# → rounded to 6dp in both engines, ranking on the rounded value with a
# term tie-break.
# --------------------------------------------------------------------------


@register(
    "tfidf_topk",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
WHERE rn <= 3
""",
    tags=("text", "llm", "tfidf"),
    doc="L4: corpus tf-idf (two hash aggs + term join), top-3 terms per doc.",
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


# --------------------------------------------------------------------------
# L4h: repetition signals (Gopher-style quality rule: heavily repetitive
# documents are low-value training data).  Duplicate-unigram and
# duplicate-bigram fractions per document — ratios of integers, so the
# doubles are bit-identical across engines.  Pure per-row array
# expressions: zero shuffle, linear in corpus size, partition-parallel.
# Reference analogue: the reference's describe() report surfaces only
# corpus-level stats (my_data_pipeline.py:199-231); per-document repetition
# is the LLM-corpus extension of that quality reporting.
# --------------------------------------------------------------------------


@register(
    "repetition_ratio",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE LEN(string_split(text, ' ')) >= 2
), b AS (
  SELECT doc_id,
         LEN(ws) AS n_tokens,
         LEN(list_distinct(ws)) AS n_uni_distinct,
         {_sql_ngrams("ws", 2)} AS bg
  FROM w
)
SELECT doc_id,
       n_tokens,
       CAST(n_tokens - n_uni_distinct AS DOUBLE) / n_tokens AS dup_unigram_ratio,
       CAST(LEN(bg) - LEN(list_distinct(bg)) AS DOUBLE) / LEN(bg) AS dup_bigram_ratio,
       (CAST(LEN(bg) - LEN(list_distinct(bg)) AS DOUBLE) / LEN(bg)) > 0.5 AS repetitive
FROM b
""",
    tags=("text", "llm", "quality"),
    doc="L4: Gopher-style repetition signals — duplicate unigram/bigram fractions + flag.",
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate n-gram fractions per document (repetition ⇒ low quality).

    Scale posture: per-row higher-order expressions only — no shuffle, no
    UDF; survives any corpus size that scans.
    """
    docs = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    w = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") >= 2)
    b = w.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.size(F.array_distinct("ws")).alias("n_uni_distinct"),
        ngram_array(F.col("ws"), 2).alias("bg"),
    )
    dup_uni = (F.col("n_tokens") - F.col("n_uni_distinct")).cast("double") / F.col("n_tokens")
    dup_bi = (F.size("bg") - F.size(F.array_distinct("bg"))).cast("double") / F.size("bg")
    return b.select(
        "doc_id",
        "n_tokens",
        dup_uni.alias("dup_unigram_ratio"),
        dup_bi.alias("dup_bigram_ratio"),
        (dup_bi > 0.5).alias("repetitive"),
    )


# --------------------------------------------------------------------------
# L4i: unigram LM score — the perplexity-proxy quality signal (KenLM-style
# but degree-0): score each document by the mean log-probability of its
# tokens under the corpus unigram distribution.  Gibberish and
# vocabulary-outlier documents score low; boilerplate scores high —
# complementary to the rule-based quality_score.
#
# Scale posture: term frequencies are one hash agg; the LM is a
# vocabulary-sized table joined to the exploded tokens (broadcast-able —
# vocabularies are ≤ millions of terms, not corpus-sized); per-doc mean is
# a second hash agg on doc_id.  Determinism: counts are exact ints; LN of
# an int ratio is libm-identical in both engines only after 6dp rounding
# of the FINAL mean (ARCHITECTURE.md float table).
# --------------------------------------------------------------------------


@register(
    "unigram_logprob_score",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
total AS (SELECT SUM(cnt) AS n FROM tf)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       -- logprobs floored to a 1e-9 grid: the sum is an exact integer
       -- (order-independent), unlike a raw double SUM(LN(...))
       ROUND(SUM(CAST(FLOOR(LN(CAST(cnt AS DOUBLE) / n) * 1e9) AS BIGINT)) / 1e9
             / COUNT(*), 6) AS mean_logprob
FROM tok JOIN tf USING (term) CROSS JOIN total
GROUP BY doc_id
""",
    tags=("text", "llm", "quality"),
    doc="L4: mean unigram log-probability per doc (perplexity-proxy quality signal).",
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = tf.agg(F.sum("cnt").alias("n"))
    # floor to a 1e-9 grid so the per-doc sum is an exact (order-
    # independent) integer; a raw double SUM(LN(...)) would depend on
    # accumulation order and could flip the 6dp rounding across engines
    lp_q = F.floor(F.log(F.col("cnt").cast("double") / F.col("n")) * 1e9).cast("bigint")
    return (
        tok.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round((F.sum(lp_q) / 1e9) / F.count("*"), 6).alias("mean_logprob"),
        )
    )


# --------------------------------------------------------------------------
# L4i': bigram LM score (round 7) — one order up from
# unigram_logprob_score: each document scored by the mean conditional
# log-probability ln P(w2|w1) = ln(c(w1,w2)/c(w1·)) of its adjacent
# token pairs under the corpus bigram MLE.  Every scored bigram is in
# the counts by construction, so MLE needs no smoothing here.  Catches
# scrambled/word-soup text that unigram statistics cannot (all tokens
# common, transitions improbable).
#
# Scale: two hash aggs build the LM (bigram counts + left-context
# marginals over the ALREADY-AGGREGATED bigram table), the LM joins the
# exploded bigram stream on the pair key; per-doc mean is one more hash
# agg.  Determinism: counts exact ints; LN floored to the 1e-9 grid
# (order-free integer sums) and the 6dp mean via the FLOOR(x+0.5)
# micro-unit rounding both engines execute identically (the dsir
# pattern — no engine ROUND on raw doubles).
# --------------------------------------------------------------------------


@register(
    "bigram_logprob_score",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
  FROM w, unnest(range(1, len(ws))) AS g(i)
),
bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
uc AS (SELECT w1, SUM(c2) AS c1 FROM bc GROUP BY w1),
lm AS (
  SELECT bc.w1, bc.w2,
         CAST(FLOOR(LN(CAST(c2 AS DOUBLE) / c1) * 1e9) AS BIGINT) AS dq
  FROM bc JOIN uc USING (w1)
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       FLOOR(SUM(dq) / (COUNT(*) * 1000.0) + 0.5) / 1e6 AS mean_logprob
FROM bg JOIN lm USING (w1, w2)
GROUP BY doc_id
""",
    tags=("text", "llm", "quality"),
    doc=(
        "L4: mean bigram conditional log-probability per doc — the "
        "transition-aware perplexity proxy (word-soup detector)."
    ),
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    w = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 2
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 1),
        lambda i: F.struct(
            F.element_at(F.col("ws"), i).alias("w1"),
            F.element_at(F.col("ws"), i + 1).alias("w2"),
        ),
    )
    bg = w.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # marginals from the aggregated bigram table, never the token stream
    uc = bc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    dq = F.floor(F.log(F.col("c2").cast("double") / F.col("c1")) * 1e9).cast("bigint")
    lm = bc.join(uc, "w1").select("w1", "w2", dq.alias("dq"))
    micro = F.floor(F.sum("dq") / (F.count("*") * 1000.0) + 0.5)
    return (
        bg.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (micro / 1e6).alias("mean_logprob"),
        )
    )


# --------------------------------------------------------------------------
# L4j: span-corruption masking (T5-style denoising objective prep):
# deterministically mask tokens, replace each with a numbered sentinel in
# the input, and emit the (sentinel → original) sequence as the target.
# Real pipelines sample spans; here the mask rule is content-deterministic
# ((pos + doc_id) % 7 == 0) so the transform is reproducible and
# oracle-checkable.  Pure per-row array expressions — zero shuffle, the
# same scaling story as the other per-doc text ops.
# --------------------------------------------------------------------------


@register(
    "span_corruption_masks",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 100
),
m AS (
  SELECT doc_id, ws,
         list_filter(range(1, LEN(ws) + 1), i -> (i + doc_id) % 7 = 0) AS mpos
  FROM w
)
SELECT doc_id,
       LEN(mpos) AS n_masked,
       array_to_string(
         list_transform(range(1, LEN(ws) + 1),
           i -> CASE WHEN (i + doc_id) % 7 = 0
                     THEN '<extra_id_' || CAST(list_position(mpos, i) - 1 AS VARCHAR) || '>'
                     ELSE ws[i] END),
         ' ') AS input_text,
       array_to_string(
         list_transform(range(1, LEN(mpos) + 1),
           k -> '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> ' || ws[mpos[k]]),
         ' ') AS target_text
FROM m
""",
    tags=("text", "llm", "masking"),
    doc="L4: T5-style span corruption — sentinel-masked input + sentinel target.",
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    ws = F.split("text", " ")
    w = docs.select("doc_id", ws.alias("ws"))
    pos = F.sequence(F.lit(1), F.size("ws"))
    m = w.select(
        "doc_id",
        "ws",
        F.filter(
            pos, lambda i: ((i + F.col("doc_id")) % 7) == 0
        ).alias("mpos"),
    )
    sentinel_for = lambda i: F.concat(  # noqa: E731
        F.lit("<extra_id_"),
        (F.array_position("mpos", i) - 1).cast("string"),
        F.lit(">"),
    )
    input_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size("ws")),
            lambda i: F.when(((i + F.col("doc_id")) % 7) == 0, sentinel_for(i)).otherwise(
                F.element_at("ws", i.cast("int"))
            ),
        ),
        " ",
    )
    target_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size("mpos")),
            lambda k: F.concat(
                F.lit("<extra_id_"),
                (k - 1).cast("string"),
                F.lit("> "),
                F.element_at("ws", F.element_at("mpos", k.cast("int")).cast("int")),
            ),
        ),
        " ",
    )
    return m.select(
        "doc_id",
        F.size("mpos").alias("n_masked"),
        input_text.alias("input_text"),
        target_text.alias("target_text"),
    )


# --------------------------------------------------------------------------
# L4k: source-mix report — the corpus-composition step of training-data
# prep (Pile/DoReMi-style source weighting, public practice): per source,
# volume + mean quality + token share + a quality-proportional sampling
# weight.  Two hash aggs (docs → sources, then a 20-row total) — trivially
# distributed; the report is what a data-mixing scheduler consumes.
# Determinism: token counts are ints; quality means go through the
# decimal-sum contract; shares/weights are single divisions of identical
# doubles.
# --------------------------------------------------------------------------


@register(
    "source_mix_report",
    oracle=f"""
WITH {_QUALITY_SQL_CTE},
per_src AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(CAST(SUM(CAST(quality AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS DOUBLE)
           AS mean_quality
  FROM q GROUP BY source
),
tot AS (
  SELECT CAST(SUM(total_tokens) AS BIGINT) AS all_tokens,
         CAST(SUM(CAST(mean_quality AS DECIMAL(38,6))) AS DOUBLE) AS qual_mass
  FROM per_src
)
SELECT source, n_docs, total_tokens,
       CAST(total_tokens AS DOUBLE) / all_tokens AS token_share,
       mean_quality,
       CAST(CAST(mean_quality AS DECIMAL(38,6)) AS DOUBLE) / qual_mass AS sample_weight
FROM per_src CROSS JOIN tot
""",
    tags=("text", "llm", "mixing"),
    doc="L4: per-source corpus composition + quality-proportional sampling weights.",
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_quality(table(spark, sf_dir, "documents"))
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.sum(F.col("quality").cast("decimal(38,6)")).cast("double") / F.count("*"))
        .cast("double")
        .alias("mean_quality"),
    )
    tot = per_src.agg(
        F.sum("total_tokens").cast("bigint").alias("all_tokens"),
        F.sum(F.col("mean_quality").cast("decimal(38,6)")).cast("double").alias("qual_mass"),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        (F.col("total_tokens").cast("double") / F.col("all_tokens")).alias("token_share"),
        "mean_quality",
        (
            F.col("mean_quality").cast("decimal(38,6)").cast("double") / F.col("qual_mass")
        ).alias("sample_weight"),
    )


# --------------------------------------------------------------------------
# L4g: length-percentile quality filter — drop each language's shortest
# 10% and longest 10% of documents, the standard outlier trim before
# training.  Cut points are exact per-lang order statistics (type-1, no
# interpolation), so membership is engine-exact; the window partitions
# by lang and therefore distributes.  At 100 TB the rank window over
# each language is the only sort, and it shards across executors.
# --------------------------------------------------------------------------


@register(
    "doc_length_percentile_filter",
    oracle="""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
cuts AS (
  SELECT lang,
         MIN(CASE WHEN rn = CEIL(n * 0.1) THEN n_chars END) AS lo,
         MIN(CASE WHEN rn = CEIL(n * 0.9) THEN n_chars END) AS hi
  FROM r GROUP BY lang
)
SELECT r.doc_id, r.lang, r.n_chars
FROM r JOIN cuts ON r.lang = cuts.lang
WHERE r.n_chars > cuts.lo AND r.n_chars < cuts.hi
""",
    tags=("text", "llm", "quality", "quantile"),
    doc="L4: keep docs strictly inside each lang's (p10, p90) length band.",
)
def doc_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    wo = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wp = Window.partitionBy("lang")
    r = docs.withColumn("rn", F.row_number().over(wo)).withColumn(
        "n", F.count("*").over(wp)
    )
    cuts = r.groupBy("lang").agg(
        F.min(F.when(F.col("rn") == F.ceil(F.col("n") * 0.1), F.col("n_chars"))).alias("lo"),
        F.min(F.when(F.col("rn") == F.ceil(F.col("n") * 0.9), F.col("n_chars"))).alias("hi"),
    )
    return (
        r.join(cuts, "lang")
        .filter((F.col("n_chars") > F.col("lo")) & (F.col("n_chars") < F.col("hi")))
        .select("doc_id", "lang", "n_chars")
    )


# --------------------------------------------------------------------------
# L4h: token-length histogram — the tokenizer-sanity profile (spikes at
# huge "tokens" mean markup/encoding garbage).  Split is a literal
# single-space split in BOTH engines (identical empty-token semantics
# for runs of spaces), explode stays in codegen, and the two-level agg
# is map-side combinable — a linear corpus pass at any scale.
# --------------------------------------------------------------------------


@register(
    "token_length_histogram",
    oracle="""
SELECT len(tok) AS tok_len, COUNT(*) AS n_tokens
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY len(tok)
""",
    tags=("text", "llm", "tokens", "histogram"),
    doc="L4: corpus histogram of whitespace-token lengths (tokenizer sanity).",
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ", -1)).alias("tok"))
    return toks.groupBy(F.length("tok").cast("bigint").alias("tok_len")).agg(
        F.count("*").alias("n_tokens")
    )


# --------------------------------------------------------------------------
# L4i: per-language min-max feature scaling of document length — the
# normalize-before-mixing step when length feeds a quality model.  Min
# and max are per-lang window aggregates over ints (exact), the scale
# is one identical double division per row; degenerate groups (max ==
# min) emit 0.5 in both engines.
# --------------------------------------------------------------------------


@register(
    "feature_scale_minmax",
    oracle="""
WITH m AS (
  SELECT doc_id, lang, n_chars,
         MIN(n_chars) OVER (PARTITION BY lang) AS lo,
         MAX(n_chars) OVER (PARTITION BY lang) AS hi
  FROM documents
)
SELECT doc_id, lang,
       ROUND(CASE WHEN hi = lo THEN 0.5
                  ELSE CAST(n_chars - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE)
             END, 6) AS scaled_len
FROM m
""",
    tags=("text", "llm", "scaling"),
    doc="L4: per-lang min-max scaled document length (exact int extremes).",
)
def feature_scale_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang")
    m = docs.withColumn("lo", F.min("n_chars").over(w)).withColumn(
        "hi", F.max("n_chars").over(w)
    )
    scaled = F.when(F.col("hi") == F.col("lo"), F.lit(0.5)).otherwise(
        (F.col("n_chars") - F.col("lo")).cast("double")
        / (F.col("hi") - F.col("lo")).cast("double")
    )
    return m.select("doc_id", "lang", F.round(scaled, 6).alias("scaled_len"))


# --------------------------------------------------------------------------
# L4j: boilerplate 3-gram density — how much of each source is corpus-
# wide boilerplate (navigation chrome, headers, license blurbs in real
# crawls)?  A 3-gram OCCURRENCE is boilerplate when the gram appears in
# at least _BOILER_DF documents.  Reported per source from exact integer
# sums; the only doubles are one identical final division per group.
#
# Scale shape: gram document-frequency is one explode + hash-agg; the
# join back is co-partitioned on the gram key (the ngram_jaccard
# pattern); per-source rollup is map-side combinable.  The same
# _SHINGLE_DF_CAP-style cap would bound a skewed gram's fan-in at crawl
# scale — unnecessary at fixture DF ≤ 9.
# --------------------------------------------------------------------------

_BOILER_DF = 5  # fixture 3-gram DF tops out at 9; >=5 marks the hot tail


@register(
    "boilerplate_ngram_density",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws
  FROM documents WHERE len(string_split(text, ' ')) >= 3
),
occ AS (
  SELECT doc_id, source, unnest({_sql_ngrams("ws", 3)}) AS g FROM w
),
df AS (
  SELECT g, COUNT(DISTINCT doc_id) AS n_docs FROM occ GROUP BY g
)
SELECT source,
       COUNT(*) AS n_gram_occurrences,
       COUNT(CASE WHEN n_docs >= {_BOILER_DF} THEN 1 END) AS n_boilerplate_occ,
       CAST(FLOOR(10000.0 * COUNT(CASE WHEN n_docs >= {_BOILER_DF} THEN 1 END)
                  / COUNT(*)) AS BIGINT) AS boiler_rate_e4
FROM occ JOIN df USING (g)
GROUP BY source
""",
    tags=("text", "llm", "quality", "boilerplate"),
    doc=(
        "L4: per-source boilerplate density — share of 3-gram occurrences "
        "whose gram appears in >= 5 documents (crawl-cleaning audit)."
    ),
)
def boilerplate_ngram_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # single-file fixture: spread the per-row gram arrays across tasks
    w = (
        docs.repartition(shuffle_parts(docs), F.col("doc_id"))
        .select("doc_id", "source", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 3)
    )
    grams = ngram_array(F.col("ws"), 3)
    occ = w.select("doc_id", "source", F.explode(grams).alias("g"))
    df_ = occ.groupBy("g").agg(F.count_distinct("doc_id").alias("n_docs"))
    boiler = F.count(F.when(F.col("n_docs") >= _BOILER_DF, F.lit(1)))
    return (
        occ.join(df_, "g")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_gram_occurrences"),
            boiler.alias("n_boilerplate_occ"),
            F.floor(10000.0 * boiler / F.count("*")).cast("bigint").alias("boiler_rate_e4"),
        )
    )


# --------------------------------------------------------------------------
# L4k: language-label confusion matrix — labeled lang × heuristic
# prediction with counts.  The contamination audit every multilingual
# corpus needs before per-language sampling quotas: a hot off-diagonal
# cell means a source is mislabeling its language metadata.  One
# map-side expression per row + one tiny hash agg; linear at any scale.
# --------------------------------------------------------------------------


@register(
    "langid_confusion_matrix",
    oracle=f"""
SELECT lang AS labeled_lang,
       CASE
         WHEN CAST(LEN(list_filter(ws, w -> w IN ({_SQL_STOPWORDS}))) AS DOUBLE) / LEN(ws) >= 0.05
         THEN 'en' ELSE 'other'
       END AS predicted_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(LEN(ws)) AS BIGINT) AS n_tokens
FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents)
GROUP BY 1, 2
""",
    tags=("text", "llm", "quality", "audit"),
    doc=(
        "L4: labeled-vs-predicted language confusion counts (metadata "
        "contamination audit over the stopword-ratio heuristic)."
    ),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    ratio = (
        F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).cast("double") / F.size(ws)
    )
    return (
        docs.select(
            F.col("lang").alias("labeled_lang"),
            F.when(ratio >= 0.05, "en").otherwise("other").alias("predicted_lang"),
            F.size(ws).alias("_n_tokens"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# L4l: n-gram eval-set decontamination — the standard pretraining hygiene
# step (GPT-3 13-gram, PaLM/LLaMA 8-10-gram): a training document is
# contaminated if it shares ANY 8-gram with the held-out eval set.
# The eval n-gram set is tiny relative to the corpus (~1% of docs), so
# the probe is a BROADCAST semi-join against a distinct n-gram set —
# at 100 TB the corpus streams map-side past an in-memory eval index,
# no corpus-sized shuffle.  (decontaminate_overlap does the same at
# whole-document granularity; this is the n-gram refinement that also
# catches partial inclusion.)
# --------------------------------------------------------------------------

_DECON_N = 8  # n-gram width
_DECON_MOD = 97  # doc_id % 97 == 0 marks the held-out eval docs


def _sql_eval_probe(eval_rel: str, train_rel: str) -> str:
    """The eval 8-gram probe as two CTEs: ``ev``, the distinct word
    8-grams of ``eval_rel``'s ``ws``, and ``contam``, the distinct
    ``doc_id`` of the ``train_rel`` rows that share one of them.  Each
    argument is what follows ``FROM``: a relation, optionally with a
    ``WHERE``, or a parenthesized subquery."""
    grams = _sql_ngrams("ws", _DECON_N)
    return f"""ev AS (
  SELECT DISTINCT unnest({grams}) AS g FROM {eval_rel}
),
contam AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({grams}) AS g FROM {train_rel})
  WHERE g IN (SELECT g FROM ev)
)"""


@register(
    "ngram_decontaminate",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, doc_id % {_DECON_MOD} = 0 AS is_eval,
         string_split(text, ' ') AS ws
  FROM documents
),
{_sql_eval_probe("t WHERE is_eval", "t WHERE NOT is_eval")}
SELECT source,
       COUNT(*) AS n_train,
       COUNT(c.doc_id) AS n_contaminated,
       CAST(FLOOR(10000.0 * COUNT(c.doc_id) / COUNT(*)) AS BIGINT)
         AS contam_rate_e4
FROM (SELECT doc_id, source FROM t WHERE NOT is_eval) tr
LEFT JOIN contam c USING (doc_id)
GROUP BY source
""",
    tags=("text", "llm", "decontamination", "quality"),
    doc=(
        "L4: 8-gram eval-set decontamination report — training docs "
        "sharing any 8-gram with the held-out slice (doc_id % 97 == 0), "
        "per source, via broadcast n-gram semi-join."
    ),
)
def ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents that leak eval-set n-grams.

    The eval n-gram index is ``distinct``-ed then broadcast — the train
    side never shuffles.  Contaminated doc_ids come back from a
    ``left_semi`` join, then one hash agg produces the per-source audit.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # single-file fixture: repartition before the heavy per-row gram
    # expressions or they pin to one task (same pattern as the dedup
    # family; measured 2.4x on the contamination path at sf0.1)
    docs = docs.repartition(shuffle_parts(docs), F.col("doc_id"))
    grams = ngram_array(F.split("text", " "), _DECON_N)
    base = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % _DECON_MOD == 0).alias("is_eval"),
        grams.alias("grams"),
    )
    occ = base.select("doc_id", "is_eval", F.explode("grams").alias("g"))
    ev = occ.filter("is_eval").select("g").distinct()
    contam = (
        occ.filter(~F.col("is_eval"))
        .join(F.broadcast(ev), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = base.filter(~F.col("is_eval")).select("doc_id", "source")
    hit = F.count(F.col("_hit"))
    return (
        train.join(contam, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train"),
            hit.alias("n_contaminated"),
            F.floor(10000.0 * hit / F.count("*")).cast("bigint").alias("contam_rate_e4"),
        )
    )


# --------------------------------------------------------------------------
# L4m: Gopher/C4-style hard-rule audit — the pass/fail rule family
# (length window, mean word length, stopword floor, type-token floor,
# max-token-share cap) with EVERY comparison done in cross-multiplied
# integers, so no ratio ever touches a float boundary.  One map-side
# expression block + one hash agg; linear at any corpus size.
# --------------------------------------------------------------------------


@register(
    "quality_rules_report",
    oracle=f"""
WITH t AS (
  SELECT source, LENGTH(text) AS n_chars_t, string_split(text, ' ') AS ws
  FROM documents
), m AS (
  SELECT source,
         LEN(ws) AS n_tok,
         n_chars_t - LEN(ws) + 1 AS sum_wlen,
         LEN(list_filter(ws, w -> w IN ({_SQL_STOPWORDS}))) AS n_stop,
         LEN(list_distinct(ws)) AS n_distinct,
         list_max(list_transform(list_distinct(ws),
                                 w -> LEN(list_filter(ws, x -> x = w)))) AS max_tok
  FROM t
), r AS (
  SELECT source,
         (n_tok BETWEEN 20 AND 1000) AS ok_len,
         (sum_wlen >= 2 * n_tok AND sum_wlen <= 12 * n_tok) AS ok_wordlen,
         (n_stop * 50 >= n_tok) AS ok_stop,
         (n_distinct * 10 >= n_tok * 3) AS ok_ttr,
         (max_tok * 5 <= n_tok) AS ok_maxtok
  FROM m
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN ok_len AND ok_wordlen AND ok_stop AND ok_ttr AND ok_maxtok
                  THEN 1 END) AS n_pass_all,
       COUNT(CASE WHEN NOT ok_len THEN 1 END) AS n_fail_len,
       COUNT(CASE WHEN NOT ok_wordlen THEN 1 END) AS n_fail_wordlen,
       COUNT(CASE WHEN NOT ok_stop THEN 1 END) AS n_fail_stop,
       COUNT(CASE WHEN NOT ok_ttr THEN 1 END) AS n_fail_ttr,
       COUNT(CASE WHEN NOT ok_maxtok THEN 1 END) AS n_fail_maxtok
FROM r GROUP BY source
""",
    tags=("text", "llm", "quality", "audit"),
    doc=(
        "L4: Gopher-style hard-rule pass/fail audit per source — five "
        "rules, all integer cross-multiplication (no float ratios): "
        "20<=tokens<=1000, 2<=mean word len<=12, stopwords>=2%, "
        "distinct/total>=30%, top-token share<=20%."
    ),
)
def quality_rules_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "text")
    # single-file fixture: the max-token-share rule is O(distinct x n)
    # per row - spread it before evaluating
    docs = docs.repartition(shuffle_parts(docs))
    ws = F.split("text", " ")
    n_tok = F.size(ws)
    sum_wlen = F.length("text") - n_tok + 1
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS)))
    n_distinct = F.size(F.array_distinct(ws))
    max_tok = F.array_max(
        F.transform(F.array_distinct(ws), lambda w: F.size(F.filter(ws, lambda x: x == w)))
    )
    m = docs.select(
        "source",
        ((n_tok >= 20) & (n_tok <= 1000)).alias("ok_len"),
        ((sum_wlen >= 2 * n_tok) & (sum_wlen <= 12 * n_tok)).alias("ok_wordlen"),
        (n_stop * 50 >= n_tok).alias("ok_stop"),
        (n_distinct * 10 >= n_tok * 3).alias("ok_ttr"),
        (max_tok * 5 <= n_tok).alias("ok_maxtok"),
    )

    def fails(c: str):
        return F.count(F.when(~F.col(c), F.lit(1)))

    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(
            F.when(
                F.col("ok_len")
                & F.col("ok_wordlen")
                & F.col("ok_stop")
                & F.col("ok_ttr")
                & F.col("ok_maxtok"),
                F.lit(1),
            )
        ).alias("n_pass_all"),
        fails("ok_len").alias("n_fail_len"),
        fails("ok_wordlen").alias("n_fail_wordlen"),
        fails("ok_stop").alias("n_fail_stop"),
        fails("ok_ttr").alias("n_fail_ttr"),
        fails("ok_maxtok").alias("n_fail_maxtok"),
    )


# --------------------------------------------------------------------------
# L4n: BPE merge candidates — the first step of byte-pair-encoding
# vocabulary induction: count adjacent symbol pairs (here: character
# bigrams inside whitespace tokens) across the corpus and rank the top
# merge candidates.  At 100 TB this is the canonical two-explode
# map-side pattern: tokens explode to bigrams IN the executor
# expression (no intermediate shuffle), partial counts combine
# map-side, and only |vocab-bigram| groups reach the final exchange.
# The LIMIT boundary is tie-broken by the pair string so the cut is
# engine-independent.
# --------------------------------------------------------------------------


@register(
    "bpe_merge_candidates",
    oracle="""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), b AS (
  SELECT tok[i:i+1] AS pair
  FROM t CROSS JOIN (SELECT unnest(range(1, 32)) AS i)
  WHERE i + 1 <= LENGTH(tok)
)
SELECT pair, COUNT(*) AS n_occurrences
FROM b GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 20
""",
    tags=("text", "llm", "tokenizer"),
    doc=(
        "L4: top-20 adjacent character-pair frequencies inside tokens — "
        "the first BPE merge-candidate ranking of tokenizer induction."
    ),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    bigrams = F.transform(
        F.when(
            F.length("tok") >= 2, F.sequence(F.lit(1), F.length("tok") - 1)
        ).otherwise(F.array().cast("array<int>")),
        lambda i: F.substring(F.col("tok"), i, 2),
    )
    # Both engines take 2 chars at 1-based i: Spark substring(tok, i, 2),
    # DuckDB slice tok[i:i+1].
    b = toks.select(F.explode(bigrams).alias("pair"))
    return (
        b.groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------------
# L4o: repeated-token-run profile — the "buy buy buy buy" signal:
# consecutive identical tokens mark machine-generated or spammy text
# that repetition_ratio's n-gram fractions can under-weigh.  Classic
# gaps-and-islands: explode tokens with position, mark run starts with
# LAG, running-sum the starts into run ids, then measure runs.  Both
# windows are partitioned BY DOCUMENT — at 100 TB each partition is one
# document's tokens, so there is no data-sized window anywhere and the
# shuffle key (doc_id) is the natural parallelism unit.
# --------------------------------------------------------------------------


@register(
    "repeated_token_runs",
    oracle="""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
), tok AS (
  SELECT doc_id, source, i AS pos, ws[i] AS tok
  FROM t, unnest(range(1, LEN(ws) + 1)) AS u(i)
), marked AS (
  SELECT doc_id, source, pos, tok,
         CASE WHEN tok = LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos)
              THEN 0 ELSE 1 END AS is_start
  FROM tok
), runs AS (
  SELECT doc_id, source, tok,
         SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
), run_len AS (
  SELECT doc_id, source, run_id, COUNT(*) AS len
  FROM runs GROUP BY doc_id, source, run_id
), per_doc AS (
  SELECT doc_id, source,
         MAX(len) AS max_run,
         CAST(SUM(CASE WHEN len >= 3 THEN len ELSE 0 END) AS BIGINT) AS run3_tokens,
         CAST(SUM(len) AS BIGINT) AS n_tokens
  FROM run_len GROUP BY doc_id, source
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN max_run >= 3 THEN 1 END) AS n_docs_with_run3,
       MAX(max_run) AS max_run_len,
       CAST(SUM(run3_tokens) AS BIGINT) AS n_run3_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM per_doc GROUP BY source
""",
    tags=("text", "llm", "quality", "audit"),
    doc=(
        "L4: consecutive-identical-token run audit per source "
        "(gaps-and-islands, per-document windows) — the degenerate-"
        "repetition signal for machine-generated text."
    ),
)
def repeated_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # repartition on the window key: parallelizes the explode AND
    # pre-partitions for the per-document windows below
    tok = docs.repartition(shuffle_parts(docs), F.col("doc_id")).select(
        "doc_id", "source", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    marked = tok.withColumn(
        "is_start",
        F.when(F.col("tok") == F.lag("tok").over(by_pos), F.lit(0)).otherwise(F.lit(1)),
    )
    runs = marked.withColumn(
        "run_id",
        F.sum("is_start").over(by_pos.rowsBetween(Window.unboundedPreceding, 0)),
    )
    run_len = runs.groupBy("doc_id", "source", "run_id").agg(F.count("*").alias("len"))
    per_doc = run_len.groupBy("doc_id", "source").agg(
        F.max("len").alias("max_run"),
        F.sum(F.when(F.col("len") >= 3, F.col("len")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("run3_tokens"),
        F.sum("len").cast("bigint").alias("n_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("max_run") >= 3, F.lit(1))).alias("n_docs_with_run3"),
        F.max("max_run").alias("max_run_len"),
        F.sum("run3_tokens").cast("bigint").alias("n_run3_tokens"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# L4p: token-count calibration — whitespace tokens vs BPE-ish subtokens
# per source.  Token budgets are set in TOKENIZER tokens but cheap
# pipeline passes count whitespace words; the per-source expansion
# factor is the conversion rate (and a drift alarm: a source whose
# factor jumps is changing character, e.g. code or tables creeping in).
# One map-side expression pair + one hash agg.
# --------------------------------------------------------------------------


@register(
    "token_count_calibration",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS n_words,
       CAST(SUM(LEN(regexp_extract_all(LOWER(text), '{_BPE_ISH}'))) AS BIGINT)
         AS n_subtokens,
       CAST(FLOOR(10000.0 * SUM(LEN(regexp_extract_all(LOWER(text), '{_BPE_ISH}')))
                  / SUM(LEN(string_split(text, ' ')))) AS BIGINT)
         AS expansion_e4
FROM documents GROUP BY source
""",
    tags=("text", "llm", "tokens", "audit"),
    doc=(
        "L4: per-source whitespace-word → BPE-ish subtoken expansion "
        "factor (integer e4) — the calibration between cheap word counts "
        "and tokenizer budgets."
    ),
)
def token_count_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "text")
    words = F.size(F.split("text", " ")).cast("bigint")
    subs = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_ISH), 0)).cast(
        "bigint"
    )
    g = docs.select("source", words.alias("w"), subs.alias("s"))
    return g.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("w").alias("n_words"),
        F.sum("s").alias("n_subtokens"),
        F.floor(10000.0 * F.sum("s") / F.sum("w")).cast("bigint").alias("expansion_e4"),
    )


# --------------------------------------------------------------------------
# L4q: token co-occurrence mining — which token PAIRS appear in the same
# document (the collocation/topic signal under PMI and phrase mining).
# Pair generation is ARRAY-SIDE (nested transform over the distinct
# token set, the order_item_pairs pattern) — no self-join, so the only
# shuffle is the final |vocab-pair| hash aggregate, map-side combined.
# The top-k cut is tie-broken by the pair itself.
#
# Round 7 (VERDICT r6): per-doc pair generation is O(distinct-tokens²) —
# unbounded, a 10k-distinct-token document builds 5×10⁷ structs in ONE
# row buffer.  Each doc's distinct-token set is therefore capped at
# _COOC_CAP via MINWISE sampling (sort by md5(token), keep the first
# _COOC_CAP) — a deterministic uniform sample of the doc's vocabulary,
# the statistically sound estimator for co-occurrence counts (min-hash
# sampling), replayed bit-identically by the oracle.  The fixture's
# closed vocab sits far below the cap, so fixture results are unchanged
# (tests assert this).
# --------------------------------------------------------------------------

_COOC_CAP = 512


@register(
    "token_cooccurrence_topk",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         list_transform(
           list_sort(list_transform(list_distinct(string_split(text, ' ')),
                                    t -> {{'h': md5(t), 't': t}}))[1:{_COOC_CAP}],
           s -> s.t) AS ts
  FROM documents
), t AS (
  SELECT doc_id, unnest(ts) AS tok FROM d
), p AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
)
SELECT tok_a, tok_b, COUNT(*) AS n_docs
FROM p GROUP BY tok_a, tok_b
ORDER BY n_docs DESC, tok_a, tok_b
LIMIT 20
""",
    tags=("text", "llm", "tokens"),
    doc=(
        "L4: top-20 same-document token pairs (collocation mining) — "
        "pairs generated array-side per document over an md5-minwise "
        f"sample of ≤{_COOC_CAP} distinct tokens per doc (bounds the "
        "per-row pair buffer at any document size), no self-join."
    ),
)
def token_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("text")
    # single-file fixture: spread the O(cap^2) pair construction
    docs = docs.repartition(shuffle_parts(docs))
    ts = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    F.array_distinct(F.split("text", " ")),
                    lambda t: F.struct(F.md5(t).alias("h"), t.alias("t")),
                )
            ),
            1,
            _COOC_CAP,
        ),
        lambda s: s["t"],
    )
    pairs = F.flatten(
        F.transform(
            ts,
            lambda x: F.transform(
                F.filter(ts, lambda y: y > x),
                lambda y: F.struct(x.alias("tok_a"), y.alias("tok_b")),
            ),
        )
    )
    ex = docs.select(F.explode(pairs).alias("p")).select("p.tok_a", "p.tok_b")
    return (
        ex.groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "tok_a", "tok_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# L4r: PII redaction — the scrubbing stage every web-scale corpus runs
# before training (emails/phones → typed placeholders).  The fixture's
# closed vocabulary contains no PII, so each document gets a
# deterministic contact footer built from its own keys FIRST (in both
# engines), which turns the op into a verifiable end-to-end check:
# match counts and the md5 of the fully-redacted text must agree
# bit-for-bit.  Pure regexp_replace/regexp_count — JVM-side, map-only,
# no shuffle at any scale; patterns stay in the Java∩RE2 common subset
# so both engines execute the same matches.
# --------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


@register(
    "pii_redact",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@' || source
              || '.org or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' now.' AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM aug
""",
    tags=("text", "llm", "hygiene"),
    doc=(
        "L4: PII scrub — count and redact emails/phones to typed "
        "placeholders (deterministic per-doc contact footer injected in "
        "both engines as the test vector); md5 of the redacted text "
        "hash-checks the full rewrite.  Map-only regexp work."
    ),
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    t = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".org or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" now."),
    )
    aug = docs.select("doc_id", t.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# L12b: Misra-Gries heavy hitters (round 7; rebuilt round 8 per ADVICE)
# — the mergeable frequent-items sketch (Misra & Gries '82; merge rule:
# Agarwal et al. '13).  Per-PARTITION MG summaries (k counters) run in
# mapInPandas directly over the document partitions — the token stream
# is tokenized and consumed INSIDE each task, never shuffled, and no
# task ever materializes more than one Arrow batch of documents (the r7
# version shuffled every token into 16 groups and loaded 1/16 of the
# corpus into a single pandas frame — exactly the hot-key single-task
# shape this repo bans).  Summaries tree-merge in two tiny stages (sum
# counters → subtract the (k+1)-th largest → keep positives, error adds
# across merges but stays ≤ N/(k+1) total), and the merged candidate
# set — GUARANTEED to contain every token with true count > N/(k+1) —
# is exact-verified by a broadcast semi-join re-count that touches only
# candidate terms.  The oracle is the plain exact top-10: the gate is
# therefore ADMISSIBLE only when every true top-10 count exceeds the
# N/(k+1) merge-error bound (the fixture's zipf head clears it by
# orders of magnitude); flatter distributions need a larger k, and the
# final ranking always uses TRUE counts, so extra candidates are
# harmless.  At 100 TB the full-vocab count this replaces is a
# vocabulary-sized shuffle; the sketch's exchange is tasks × k rows.
# --------------------------------------------------------------------------

_MG_K = 32
_MG_MERGE_FAN = 32  # level-1 tree-merge groups (tasks × k → fan × k → k)
_MG_TOP = 10


def _mg_partition_sketch(batches):
    """One task's document stream → ≤ _MG_K (term, w) counters.

    Runs under mapInPandas: iterates Arrow batches of documents,
    tokenizes and folds into the counter dict in-place — peak memory is
    one Arrow batch + k counters, independent of partition size."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for text in pdf["text"]:
            for t in text.split(" "):
                if t in counters:
                    counters[t] += 1
                elif len(counters) < _MG_K:
                    counters[t] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
    yield pd.DataFrame(
        {"term": list(counters.keys()), "w": [int(v) for v in counters.values()]}
    )


def _mg_merge_pdf(pdf):
    """Merge shard summaries: sum per term, then MG-reduce back to k."""
    import pandas as pd

    summed = pdf.groupby("term", as_index=False)["w"].sum()
    if len(summed) > _MG_K:
        cut = summed["w"].sort_values(ascending=False).iloc[_MG_K]
        summed["w"] = summed["w"] - int(cut)
        summed = summed[summed["w"] > 0]
    return summed[["term", "w"]]


@register(
    "approx_topk_tokens",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term)
SELECT rank, term, cnt FROM (
  SELECT term, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank
  FROM tf
) WHERE rank <= {_MG_TOP}
""",
    tags=("text", "llm", "sketch", "approx"),
    doc=(
        "L12: Misra-Gries heavy-hitter top-10 — per-shard mergeable "
        f"sketches (k={_MG_K}), exact re-count of candidates only.  The "
        "oracle is the exact top-10: the gate passes iff the sketch's "
        "guarantee (every token with count > N/(k+1) survives) held — "
        "admissible only while every true top-10 count clears that "
        "bound; flatter distributions need a larger k."
    ),
)
def approx_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("text")
    # stage 1: one MG summary per document partition — zero shuffle of
    # the token stream, streaming Arrow-batch consumption inside tasks
    sketches = docs.mapInPandas(_mg_partition_sketch, "term string, w long")
    # stages 2+3: tree-merge whole summaries (a summary is never split
    # across groups — the merge rule needs complete counter sets).
    # Exchange volume: tasks×k rows, then _MG_MERGE_FAN×k, then k.
    level1 = (
        sketches.withColumn("_g", F.spark_partition_id() % _MG_MERGE_FAN)
        .groupBy("_g")
        .applyInPandas(lambda pdf: _mg_merge_pdf(pdf), "term string, w long")
    )
    merged = (
        level1.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(lambda pdf: _mg_merge_pdf(pdf), "term string, w long")
    )
    # exact verification pass touches candidate terms only (≤ k rows,
    # broadcast): the final ranking uses TRUE counts, never sketch w
    tok = docs.select(F.explode(F.split("text", " ")).alias("term"))
    cand_counts = (
        tok.join(F.broadcast(merged.select("term")), "term")
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))  # ≤ k rows: tiny
    return (
        cand_counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MG_TOP)
        .select("rank", "term", "cnt")
    )


# --------------------------------------------------------------------------
# L4s: per-source token-distribution KL divergence (round 7) — the data-
# mixing health metric: KL(P_source ‖ P_corpus) in nats says how far each
# source's unigram distribution sits from the blend the model will see
# (0 = indistinguishable; the sources worth up/down-weighting rank
# first).  Every source term exists in the corpus by construction, so
# MLE needs no smoothing.  Exactness: KL·N_s = Σ_t c_s(t)·[ln p_s −
# ln p_c] with both logs floored to the 1e-9 grid — the weighted sum is
# an exact integer — and the final per-token value uses the FLOOR(x+0.5)
# micro-unit rounding.  Shape: two hash aggs over (source, term) — the
# same vocabulary-sized relations tf-idf builds — nothing corpus-sized
# crosses the wire.
# --------------------------------------------------------------------------


@register(
    "source_token_kl",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
sc AS (SELECT source, term, COUNT(*) AS c FROM tok GROUP BY source, term),
st AS (SELECT source, SUM(c) AS n FROM sc GROUP BY source),
cc AS (SELECT term, SUM(c) AS cc FROM sc GROUP BY term),
ct AS (SELECT SUM(cc) AS n FROM cc),
terms AS (
  SELECT sc.source, st.n, sc.c,
         FLOOR(LN(CAST(sc.c AS DOUBLE) / st.n) * 1e9)
           - FLOOR(LN(CAST(cc.cc AS DOUBLE) / ct.n) * 1e9) AS dq
  FROM sc JOIN st USING (source) JOIN cc USING (term) CROSS JOIN ct
)
SELECT source,
       CAST(MAX(n) AS BIGINT) AS n_tokens,
       FLOOR(SUM(c * dq) / (MAX(n) * 1000.0) + 0.5) / 1e6 AS kl_nats
FROM terms
GROUP BY source
""",
    tags=("text", "llm", "quality", "mixing"),
    doc=(
        "L4: KL(source ‖ corpus) over unigram distributions per source — "
        "the mixing-health metric; 1e-9 ln grid, exact integer weighted "
        "sum, micro-unit rounding."
    ),
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    sc = tok.groupBy("source", "term").agg(F.count("*").alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    cc = sc.groupBy("term").agg(F.sum("c").alias("cc"))
    ct = cc.agg(F.sum("cc").alias("nc"))
    dq = (
        F.floor(F.log(F.col("c").cast("double") / F.col("n")) * 1e9)
        - F.floor(F.log(F.col("cc").cast("double") / F.col("nc")) * 1e9)
    ).cast("bigint")
    terms = (
        sc.join(F.broadcast(st), "source")
        .join(F.broadcast(cc), "term")
        .crossJoin(F.broadcast(ct))
        .select("source", "n", "c", dq.alias("dq"))
    )
    micro = F.floor(F.sum(F.col("c") * F.col("dq")) / (F.max("n") * 1000.0) + 0.5)
    return terms.groupBy("source").agg(
        F.max("n").alias("n_tokens"),
        (micro / 1e6).alias("kl_nats"),
    )


# --------------------------------------------------------------------------
# L4t: CCNet-style perplexity buckets (Wenzek et al. 2020) — per
# language, rank documents by LM score and split into head/middle/tail
# terciles; CCNet keeps head+middle for training and audits tail.
# Score = the unigram mean logprob in exact micro-nat units (the
# 1e-9 ln grid summed exactly, FLOOR(x+0.5) micro rounding), so the
# NTILE ordering — (score desc, doc_id) — is total and engine-portable.
# Shape: tf join + per-doc agg (the unigram_logprob plan) + a per-lang
# window over doc-level rows.
# --------------------------------------------------------------------------


@register(
    "ccnet_perplexity_buckets",
    oracle="""
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
b AS (
  SELECT lang, score_micro,
         NTILE(3) OVER (PARTITION BY lang ORDER BY score_micro DESC, doc_id) AS tercile
  FROM doc
)
SELECT lang,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       CAST(FLOOR(SUM(score_micro) / (COUNT(*) * 1.0)) AS BIGINT) AS avg_score_micro
FROM b
GROUP BY lang, tercile
""",
    tags=("text", "llm", "quality"),
    doc=(
        "L4: CCNet head/middle/tail perplexity terciles per language — "
        "unigram LM score in exact micro-nats, NTILE over a total "
        "ordering (head = best-scoring third)."
    ),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    )
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
    w = Window.partitionBy("lang").orderBy(F.desc("score_micro"), F.asc("doc_id"))
    b = doc.withColumn("tercile", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("tercile") == 1, F.lit("head"))
        .when(F.col("tercile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return b.groupBy("lang", "tercile").agg(
        F.count("*").alias("n_docs"),
        F.floor(F.sum("score_micro") / (F.count("*") * 1.0))
        .cast("bigint")
        .alias("avg_score_micro"),
    ).select("lang", bucket.alias("bucket"), "n_docs", "avg_score_micro")


# --------------------------------------------------------------------------
# L4u: ingest-drift PSI (round 7) — Population Stability Index between
# an ingest batch's token distribution and the standing corpus, per
# source: PSI = Σ_t (p_new − p_old)·ln(p_new/p_old), the
# drift-monitoring metric every production feed gate runs (>0.2 =
# investigate).  Batch = doc_id % 10 == 7, the incremental_dedup_report
# convention.  Laplace-smoothed over the union vocabulary so both
# distributions are everywhere-positive.  Determinism: each per-term
# contribution is one fixed chain of IEEE primitives on exact integer
# counts, floored to a 1e-6 grid (both engines execute the identical
# chain), and the final sum is an exact integer.
# --------------------------------------------------------------------------


@register(
    "psi_ingest_drift",
    oracle=f"""
WITH tok AS (
  SELECT source, doc_id % {10} = 7 AS is_new,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
c AS (
  SELECT source, term,
         COUNT(CASE WHEN is_new THEN 1 END) AS cn,
         COUNT(CASE WHEN NOT is_new THEN 1 END) AS co
  FROM tok GROUP BY source, term
),
d AS (
  SELECT source,
         SUM(cn) + COUNT(*) AS dn,
         SUM(co) + COUNT(*) AS dco,
         COUNT(*) AS v
  FROM c GROUP BY source
),
contrib AS (
  SELECT c.source,
         CAST(FLOOR(
           (CAST(cn + 1 AS DOUBLE) / dn - CAST(co + 1 AS DOUBLE) / dco)
           * (FLOOR(LN(CAST(cn + 1 AS DOUBLE) / dn) * 1e9)
              - FLOOR(LN(CAST(co + 1 AS DOUBLE) / dco) * 1e9)) / 1e9
           * 1e6 + 0.5) AS BIGINT) AS pm
  FROM c JOIN d ON c.source = d.source
)
SELECT source, CAST(SUM(pm) AS BIGINT) AS psi_e6
FROM contrib GROUP BY source
""",
    tags=("text", "llm", "quality", "drift"),
    doc=(
        "L4: per-source PSI between the ingest batch (doc_id%10==7) and "
        "the standing corpus token distributions — the production drift "
        "gate; Laplace-smoothed, 1e-6-grid per-term contributions summed "
        "exactly."
    ),
)
def psi_ingest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "doc_id", "text")
    tok = docs.select(
        "source",
        (F.col("doc_id") % 10 == 7).alias("is_new"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    c = tok.groupBy("source", "term").agg(
        F.count(F.when(F.col("is_new"), 1)).alias("cn"),
        F.count(F.when(~F.col("is_new"), 1)).alias("co"),
    )
    d = c.groupBy("source").agg(
        (F.sum("cn") + F.count("*")).alias("dn"),
        (F.sum("co") + F.count("*")).alias("dco"),
    )
    pn = (F.col("cn") + 1).cast("double") / F.col("dn")
    po = (F.col("co") + 1).cast("double") / F.col("dco")
    dq = F.floor(F.log(pn) * 1e9) - F.floor(F.log(po) * 1e9)
    # identical left-assoc IEEE op order as the oracle: ((diff·dq)/1e9)·1e6
    # — a different association could flip a floor at the last ulp
    pm = F.floor((pn - po) * dq / 1e9 * 1e6 + F.lit(0.5)).cast("bigint")
    return (
        c.join(F.broadcast(d), "source")
        .select("source", pm.alias("pm"))
        .groupBy("source")
        .agg(F.sum("pm").cast("bigint").alias("psi_e6"))
    )


# --------------------------------------------------------------------------
# L10f (round 8): cross-source contamination matrix — pairwise shingle
# Jaccard between SOURCES.  The per-document near-dup family answers
# "which docs repeat"; a curation decision also needs "which FEEDS
# overlap" (a crawl that re-ingests another feed, a mirror, a vendor
# reselling the same scrape).  Shape: one explode to distinct
# (source, shingle), then per-shingle source-SETS (bounded by the
# source count, never by corpus size) expanded to ordered pairs with a
# higher-order transform — no shingle self-join, so a boilerplate
# shingle shared by every source costs |sources|² rows, not df².
# Zero-overlap pairs are kept (bounded source×source broadcast cross)
# so the output is the full upper-triangular matrix.  jaccard_micro =
# FLOOR(1e6·|∩|/|∪|) on exact integer counts — engine-portable.
# --------------------------------------------------------------------------


@register(
    "source_overlap_matrix",
    oracle=f"""
WITH w AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents
  WHERE LEN(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT source, s
  FROM (SELECT source, unnest({_sql_ngrams("ws", 3)}) AS s FROM w)
),
na AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b,
       sa.n AS n_a, sb.n AS n_b,
       COALESCE(i.n_common, 0) AS n_common,
       CAST(FLOOR(1e6 * COALESCE(i.n_common, 0)
                  / (sa.n + sb.n - COALESCE(i.n_common, 0))) AS BIGINT)
         AS jaccard_micro
FROM (SELECT a.source AS src_a, b.source AS src_b
      FROM na a JOIN na b ON a.source < b.source) p
JOIN na sa ON sa.source = p.src_a
JOIN na sb ON sb.source = p.src_b
LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
""",
    tags=("text", "llm", "dedup", "audit"),
    doc=(
        "L10: pairwise shingle-Jaccard between sources — the feed-level "
        "contamination matrix (full upper triangle, zero pairs kept)."
    ),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itertools import chain

    from .dedup import _shingles

    docs = table(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("ws")
    ).filter(F.size("ws") >= 3)
    # Shape (third draft; measurement trail in BASELINE r8).  Sources
    # are a bounded dimension, so each shingle's source SET fits a
    # 64-bit BITMAP: explode → hash-agg distinct (the one unavoidable
    # corpus-sized pass) → per-shingle bit_or (primitive long agg — the
    # collect_set draft spent ~60 s/10⁷ shingles building tiny object
    # sets) → collapse to the bitmap HISTOGRAM, after which every
    # remaining step runs on ≤ 2^|sources| (practically: thousands of)
    # rows.  na and the full intersection matrix are exact linear
    # functionals of that histogram — the count-min-style "aggregate
    # the aggregate" collapse.  One linear pipeline, no checkpoint, no
    # re-evaluation, nothing downstream grows with the corpus.
    srcs = sorted(
        r["source"] for r in docs.select("source").distinct().collect()
    )  # bounded dim (catalog-sized); the bitmap needs < 64 of them
    if len(srcs) > 63:
        raise ValueError(
            f"source_overlap_matrix: {len(srcs)} sources exceed the 63-bit "
            "bitmap — shard the matrix by source group"
        )
    id_map = F.create_map(
        *[F.lit(x) for x in chain.from_iterable((s, i) for i, s in enumerate(srcs))]
    )
    hist = (
        docs.select(
            id_map[F.col("source")].alias("sid"),
            F.explode(_shingles(F.col("ws"))).alias("s"),
        )
        .distinct()
        .groupBy("s")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), sid)")).alias("bm"))
        .groupBy("bm")
        .agg(F.count("*").alias("cnt"))
    )
    ids = F.expr(
        f"filter(sequence(0, {len(srcs) - 1}), i -> (bm >> i) & 1 = 1)"
    )
    na_ids = (
        hist.select(F.explode(ids).alias("sid"), "cnt")
        .groupBy("sid")
        .agg(F.sum("cnt").alias("n"))
    )
    pair_struct = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS sid_a, y AS sid_b))))"
    )
    inter_ids = (
        hist.select(ids.alias("ids"), "cnt")
        .filter(F.size("ids") >= 2)
        .select(F.explode(pair_struct).alias("p"), "cnt")
        .groupBy("p.sid_a", "p.sid_b")
        .agg(F.sum("cnt").alias("n_common"))
    )
    names = spark.createDataFrame(list(enumerate(srcs)), "sid int, source string")
    na = na_ids.join(F.broadcast(names), "sid").select("source", "n")
    inter = (
        inter_ids.join(
            F.broadcast(names.select(F.col("sid").alias("sid_a"), F.col("source").alias("src_a"))),
            "sid_a",
        )
        .join(
            F.broadcast(names.select(F.col("sid").alias("sid_b"), F.col("source").alias("src_b"))),
            "sid_b",
        )
        .select("src_a", "src_b", "n_common")
    )
    pairs = (
        na.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
        .crossJoin(
            F.broadcast(
                na.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
            )
        )
        .filter(F.col("src_a") < F.col("src_b"))
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        pairs.join(inter, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            nc.alias("n_common"),
            F.floor(F.lit(1e6) * nc / (F.col("n_a") + F.col("n_b") - nc))
            .cast("bigint")
            .alias("jaccard_micro"),
        )
    )


# --------------------------------------------------------------------------
# L13b (round 8): BPE APPLICATION — the encode half of tokenizer
# induction (bpe_merge_candidates ranks the merges; this applies them).
# Two engineering points:
# 1. VOCABULARY-level, not corpus-level: encoding runs over the top-100
#    distinct tokens (production: the whole distinct-token frame, still
#    vocabulary-sized) and joins back by token — a 100 TB corpus pays
#    one distinct + one broadcast join, never per-occurrence encoding.
# 2. Pure JVM expressions: a symbol sequence is a \\x1f-delimited string
#    with boundary separators, and applying ranked merge (L, R) is ONE
#    `replace(s, SEP+L+SEP+R+SEP, SEP+LR+SEP)` — string replace is
#    left-to-right non-overlapping in Spark, DuckDB, and Python alike
#    (verified), so 20 chained replaces ARE the single-greedy-pass
#    rank-ordered BPE application, bit-identical cross-engine, no UDF.
# The merge table is the deterministic top-20 static pair ranking
# (driver-collected — 20 bounded rows, the sanctioned Lloyd-state
# pattern); true iterative BPE would recount between merges at the
# cost of K corpus passes, which the docstring of the induction query
# already notes.
# --------------------------------------------------------------------------

_BPE_SEP = "\x1f"
_BPE_TOPW = 100


def _bpe_oracle() -> str:
    sep = "chr(31)"
    chain = ["enc0"]
    ctes = []
    for k in range(1, 21):
        prev = chain[-1]
        cur = f"enc{k}"
        # COALESCE to a never-matching sentinel so a <20-row merge table
        # makes the step a no-op instead of NULLing the string
        pat = (f"COALESCE((SELECT {sep} || pair[1:1] || {sep} || pair[2:2] || {sep} "
               f"FROM m WHERE rnk = {k}), chr(30))")
        rep = f"COALESCE((SELECT {sep} || pair || {sep} FROM m WHERE rnk = {k}), chr(30))"
        ctes.append(f"{cur} AS (SELECT tok, freq, replace(s, {pat}, {rep}) AS s FROM {prev})")
        chain.append(cur)
    cte_block = ",\n".join(ctes)
    return f"""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
b AS (
  SELECT tok[i:i+1] AS pair
  FROM t CROSS JOIN (SELECT unnest(range(1, 32)) AS i)
  WHERE i + 1 <= LENGTH(tok)
),
m AS (
  SELECT pair, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS rnk
  FROM b GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 20
),
v AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM t
  GROUP BY tok ORDER BY freq DESC, tok LIMIT {_BPE_TOPW}
),
enc0 AS (
  SELECT tok, freq,
         {sep} || array_to_string(list_transform(range(1, LENGTH(tok) + 1),
                                                 i -> tok[i:i]), {sep}) || {sep} AS s
  FROM v
),
{cte_block}
SELECT tok, freq, CAST(LENGTH(tok) AS INT) AS n_chars,
       CAST(LENGTH(s) - LENGTH(replace(s, {sep}, '')) - 1 AS INT) AS n_symbols,
       replace(substr(s, 2, LENGTH(s) - 2), {sep}, '|') AS encoded
FROM {chain[-1]}
"""


@register(
    "bpe_encode_tokens",
    oracle=_bpe_oracle(),
    tags=("text", "llm", "tokenizer"),
    doc=(
        "L13: rank-ordered BPE application over the vocabulary — top-20 "
        "candidate merges applied as 20 chained separator-delimited "
        "replaces (pure JVM, cross-engine bit-identical); per top-100 "
        "token the symbol count and encoding."
    ),
)
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import bpe_merge_candidates  # self-module: ranking source

    merges = [
        r["pair"]
        for r in bpe_merge_candidates(spark, sf_dir).collect()  # 20 bounded rows
    ]
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(_BPE_TOPW)
    )
    sep = _BPE_SEP
    chars = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.col("tok").substr(i, F.lit(1)),
    )
    s = F.concat(F.lit(sep), F.array_join(chars, sep), F.lit(sep))
    for p in merges:
        l, r = p[0], p[1]
        s = F.replace(
            s, F.lit(f"{sep}{l}{sep}{r}{sep}"), F.lit(f"{sep}{l}{r}{sep}")
        )
    n_sym = (F.length(s) - F.length(F.replace(s, F.lit(sep), F.lit(""))) - 1).cast("int")
    encoded = F.replace(
        F.substring(s, 2, F.length(s) - 2).cast("string"), F.lit(sep), F.lit("|")
    )
    return vocab.select(
        "tok",
        "freq",
        F.length("tok").cast("int").alias("n_chars"),
        n_sym.alias("n_symbols"),
        encoded.alias("encoded"),
    )


# --------------------------------------------------------------------------
# L4j (round 8): Shannon-entropy quality signal — character-level and
# token-level entropy per document.  Low char entropy flags repeated-
# character junk (`aaaa…`, base64 walls score HIGH, binary-ish blobs);
# low token entropy flags boilerplate/looping text that n-gram repetition
# ratios can miss when the loop period is long.  Standard LLM-corpus
# quality filter (C4/Gopher-family rules use the same signal class).
#
# 100 TB shape: pure per-row array expressions — distinct symbols ×
# occurrence counts × the portable floor(ln·1e9) integer grid, folded by
# `aggregate` — so the whole operator is map-side (zero shuffle, zero
# UDF).  Per-row cost is O(distinct·len); distinct chars are bounded by
# the alphabet and distinct tokens by doc length.
# --------------------------------------------------------------------------


def _entropy_micro(ws):
    """Σ k·floor(ln(k/n)·1e9) over symbol counts k of array ``ws`` →
    entropy in exact micro-nats: floor(-Σ/(n·1000) + 0.5).  Integer until
    the final two IEEE ops, so DuckDB replays it bit-for-bit."""
    n = F.size(ws).cast("bigint")
    counts = F.transform(
        F.array_distinct(ws),
        lambda u: F.size(F.filter(ws, lambda c: c == u)).cast("bigint"),
    )
    s = F.aggregate(
        counts,
        F.lit(0).cast("bigint"),
        lambda acc, k: acc
        + k
        * F.floor(F.log(k.cast("double") / n.cast("double")) * 1e9).cast("bigint"),
    )
    return F.floor(-s / (n * F.lit(1000.0)) + F.lit(0.5)).cast("bigint")


@register(
    "entropy_quality",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split(text, '') AS cs, string_split(text, ' ') AS ws
  FROM documents WHERE LENGTH(text) > 0
),
k AS (
  SELECT doc_id,
         LEN(cs) AS n_chars,
         LEN(ws) AS n_tokens,
         list_transform(list_distinct(cs),
                        u -> CAST(LEN(list_filter(cs, c -> c = u)) AS BIGINT)) AS kc,
         list_transform(list_distinct(ws),
                        u -> CAST(LEN(list_filter(ws, c -> c = u)) AS BIGINT)) AS kw
  FROM base
),
e AS (
  SELECT doc_id, n_chars, n_tokens,
         CAST(FLOOR(-CAST(list_sum(list_transform(kc,
                k -> k * CAST(FLOOR(ln(CAST(k AS DOUBLE) / n_chars) * 1e9) AS BIGINT)))
              AS BIGINT) / (n_chars * 1000.0) + 0.5) AS BIGINT) AS ce_micro,
         CAST(FLOOR(-CAST(list_sum(list_transform(kw,
                k -> k * CAST(FLOOR(ln(CAST(k AS DOUBLE) / n_tokens) * 1e9) AS BIGINT)))
              AS BIGINT) / (n_tokens * 1000.0) + 0.5) AS BIGINT) AS te_micro
  FROM k
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ce_micro / 1e6 AS char_entropy,
       te_micro / 1e6 AS token_entropy,
       ce_micro < 2500000 OR te_micro < 1500000 AS low_entropy
FROM e
""",
    tags=("text", "llm", "quality"),
    doc=(
        "L4: per-doc character- and token-level Shannon entropy (nats, "
        "6 dp on the integer ln-grid) + a low-entropy junk flag — the "
        "repetitive-content quality filter; map-side only."
    ),
)
def entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    cs = F.split("text", "")
    ws = F.split("text", " ")
    ce = _entropy_micro(cs)
    te = _entropy_micro(ws)
    out = docs.select(
        "doc_id",
        F.size(cs).cast("bigint").alias("n_chars"),
        F.size(ws).cast("bigint").alias("n_tokens"),
        ce.alias("ce_micro"),
        te.alias("te_micro"),
    )
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        (F.col("ce_micro") / 1e6).alias("char_entropy"),
        (F.col("te_micro") / 1e6).alias("token_entropy"),
        ((F.col("ce_micro") < 2500000) | (F.col("te_micro") < 1500000)).alias(
            "low_entropy"
        ),
    )


# --------------------------------------------------------------------------
# L13b (round 8): TRUE iterative BPE induction — the Sennrich et al. '16
# training loop.  bpe_merge_candidates/bpe_encode_tokens rank pair
# frequencies ONCE from raw text; real BPE recounts after every merge,
# so a learned symbol can immediately pair with its neighbors (th+e →
# "the").  Structure mirrors the k-means pattern the repo already
# sanctions: ONE corpus-scale pass builds the (token, freq) vocabulary,
# then K rounds of bounded work on the ≤TOPW-row vocab frame with one
# 1-row driver collect per round (the argmax merge — the same bounded
# driver state as Lloyd's K×64 centroids).  The corpus never re-enters
# the loop: at 100 TB the cost is exactly one explode+hash-agg.
# --------------------------------------------------------------------------

_BPE_ITERS = 8


def _bpe_iter_oracle() -> str:
    # Every stage CTE is AS MATERIALIZED: enc{k-1} is referenced twice
    # (by sy{k} and enc{k}), so letting DuckDB inline would re-evaluate
    # the whole chain 2^k times — the unrolled 8-round plan never
    # finishes.  Materialization makes each round cost one 100-row pass.
    sep = "chr(31)"
    stages, finals = [], []
    for k in range(1, _BPE_ITERS + 1):
        prev = f"enc{k - 1}"
        stages.append(
            f"""sy{k} AS MATERIALIZED (
  SELECT tok, freq,
         string_split(substr(s, 2, LENGTH(s) - 2), {sep}) AS sy
  FROM {prev}
),
p{k} AS MATERIALIZED (
  SELECT sy[i] AS lhs, sy[i + 1] AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM sy{k} CROSS JOIN (SELECT unnest(range(1, 64)) AS i)
  WHERE i + 1 <= LEN(sy)
  GROUP BY 1, 2
),
m{k} AS MATERIALIZED (
  SELECT lhs, rhs, cnt FROM p{k} ORDER BY cnt DESC, lhs, rhs LIMIT 1
),
enc{k} AS MATERIALIZED (
  SELECT tok, freq,
         replace(s,
                 (SELECT {sep} || lhs || {sep} || rhs || {sep} FROM m{k}),
                 (SELECT {sep} || lhs || rhs || {sep} FROM m{k})) AS s
  FROM {prev}
)"""
        )
        finals.append(
            f"SELECT {k} AS rnk, lhs, rhs, lhs || rhs AS merged, cnt AS n_occurrences FROM m{k}"
        )
    stage_block = ",\n".join(stages)
    final_block = "\nUNION ALL\n".join(finals)
    return f"""
WITH t AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
v AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM t
  GROUP BY tok ORDER BY freq DESC, tok LIMIT {_BPE_TOPW}
),
enc0 AS MATERIALIZED (
  SELECT tok, freq,
         {sep} || array_to_string(list_transform(range(1, LENGTH(tok) + 1),
                                                 i -> tok[i:i]), {sep}) || {sep} AS s
  FROM v
),
{stage_block}
{final_block}
"""


@register(
    "bpe_learn_iterative",
    oracle=_bpe_iter_oracle(),
    tags=("text", "llm", "tokenizer", "iterative"),
    doc=(
        "L13: true Sennrich BPE induction — 8 merge rounds, each "
        "recounting freq-weighted adjacent-symbol pairs over the current "
        "encoding before taking the (count desc, pair asc) argmax; "
        "merged symbols can immediately merge further.  One corpus "
        "pass + bounded per-round driver state; full unrolled SQL replay."
    ),
)
def bpe_learn_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-round iterative BPE over the top-100 whitespace vocabulary.

    Scale shape: the documents table is touched exactly once (explode +
    partial-agg token count); every loop iteration runs on the
    checkpointed ≤100-row vocab frame and collects a single argmax row
    (the learned merge) to the driver — the sanctioned bounded-state
    pattern (cf. ivf_kmeans_topk's K×64 Lloyd state).
    """
    docs = table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    v = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(_BPE_TOPW)
    )
    sep = _BPE_SEP
    chars = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.col("tok").substr(i, F.lit(1)),
    )
    enc = v.select(
        "tok", "freq", F.concat(F.lit(sep), F.array_join(chars, sep), F.lit(sep)).alias("s")
    )
    # One corpus pass total: pin the vocab encodings so the 8 rounds
    # below never re-read documents.
    enc = enc.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, str, int]] = []
    for k in range(1, _BPE_ITERS + 1):
        sy = F.split(F.expr("substring(s, 2, length(s) - 2)"), sep)
        pairs = enc.select(
            "freq",
            F.explode(
                F.when(
                    F.size(sy) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(sy) - 1),
                        lambda i: F.struct(
                            F.element_at(sy, i).alias("lhs"),
                            F.element_at(sy, i + 1).alias("rhs"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()[0]
        )
        lhs, rhs, cnt = top["lhs"], top["rhs"], top["cnt"]
        merges.append((k, lhs, rhs, lhs + rhs, cnt))
        enc = enc.withColumn(
            "s",
            F.replace(
                "s", F.lit(f"{sep}{lhs}{sep}{rhs}{sep}"), F.lit(f"{sep}{lhs}{rhs}{sep}")
            ),
        )
    return spark.createDataFrame(
        merges, "rnk int, lhs string, rhs string, merged string, n_occurrences bigint"
    )


# --------------------------------------------------------------------------
# L13d (round 8): tokenizer fertility report — the acceptance metric for
# a trained tokenizer: symbols emitted per word (fertility) and chars
# compressed per symbol, broken down by language.  High per-lang
# fertility is the classic under-served-language signal (UniMax/XLM-R
# papers gate vocab size on exactly this).  Scale shape: the corpus is
# touched once (explode + partial-agg (lang, tok) counts); encoding runs
# on the DISTINCT vocabulary only (20 chained JVM replaces — never
# per-occurrence), then one equi-join back and a partial-agg rollup.
# --------------------------------------------------------------------------


def _fertility_oracle() -> str:
    sep = "chr(31)"
    ctes = []
    for k in range(1, 21):
        prev = f"enc{k - 1}"
        pat = (f"COALESCE((SELECT {sep} || pair[1:1] || {sep} || pair[2:2] || {sep} "
               f"FROM m WHERE rnk = {k}), chr(30))")
        rep = f"COALESCE((SELECT {sep} || pair || {sep} FROM m WHERE rnk = {k}), chr(30))"
        ctes.append(
            f"enc{k} AS (SELECT tok, replace(s, {pat}, {rep}) AS s FROM {prev})"
        )
    cte_block = ",\n".join(ctes)
    return f"""
WITH t AS MATERIALIZED (
  SELECT lang, tok
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
),
b AS (
  SELECT tok[i:i+1] AS pair
  FROM t CROSS JOIN (SELECT unnest(range(1, 32)) AS i)
  WHERE i + 1 <= LENGTH(tok)
),
m AS MATERIALIZED (
  SELECT pair, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS rnk
  FROM b GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 20
),
enc0 AS (
  SELECT tok,
         {sep} || array_to_string(list_transform(range(1, LENGTH(tok) + 1),
                                                 i -> tok[i:i]), {sep}) || {sep} AS s
  FROM (SELECT DISTINCT tok FROM t)
),
{cte_block},
sym AS (
  SELECT tok,
         CAST(LENGTH(s) - LENGTH(replace(s, {sep}, '')) - 1 AS BIGINT) AS n_sym
  FROM enc20
),
lt AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY lang, tok)
SELECT lang,
       CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(SUM(cnt * n_sym) AS BIGINT) AS n_symbols,
       CAST(SUM(cnt * LENGTH(tok)) AS BIGINT) AS n_chars,
       CAST(SUM(cnt * n_sym) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS fertility,
       CAST(SUM(cnt * LENGTH(tok)) AS DOUBLE) / CAST(SUM(cnt * n_sym) AS DOUBLE)
         AS chars_per_symbol
FROM lt JOIN sym USING (tok)
GROUP BY lang
ORDER BY lang
"""


@register(
    "tokenizer_fertility_report",
    oracle=_fertility_oracle(),
    tags=("text", "llm", "tokenizer"),
    doc=(
        "L13d: per-language tokenizer fertility (symbols/word) and "
        "compression (chars/symbol) after applying the learned top-20 "
        "merges — encoding runs on the distinct vocabulary only, one "
        "corpus pass + join-back; the under-served-language audit."
    ),
)
def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = [
        r["pair"]
        for r in bpe_merge_candidates(spark, sf_dir).collect()  # 20 bounded rows
    ]
    sep = _BPE_SEP
    toks = (
        table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    lt = toks.groupBy("lang", "tok").agg(F.count("*").cast("bigint").alias("cnt"))
    vocab = lt.select("tok").distinct()
    chars = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.col("tok").substr(i, F.lit(1)),
    )
    s = F.concat(F.lit(sep), F.array_join(chars, sep), F.lit(sep))
    for p in merges:
        l, r = p[0], p[1]
        s = F.replace(s, F.lit(f"{sep}{l}{sep}{r}{sep}"), F.lit(f"{sep}{l}{r}{sep}"))
    n_sym = (
        F.length(s) - F.length(F.replace(s, F.lit(sep), F.lit(""))) - 1
    ).cast("bigint")
    sym = vocab.select("tok", n_sym.alias("n_sym"))
    joined = lt.join(sym, "tok")
    return (
        joined.groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).cast("bigint").alias("n_symbols"),
            F.sum(F.col("cnt") * F.length("tok")).cast("bigint").alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_symbols",
            "n_chars",
            (
                F.col("n_symbols").cast("double") / F.col("n_words").cast("double")
            ).alias("fertility"),
            (
                F.col("n_chars").cast("double") / F.col("n_symbols").cast("double")
            ).alias("chars_per_symbol"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# L4m (round 8): linear probe — train an OLS model IN-PLAN via normal
# equations and score its fit, no MLlib, no driver math.  The probe asks
# the curation question "do cheap features (token count, char count)
# predict the expensive signal (char entropy)?" — the standard ablation
# before paying for a model-based quality filter.  Exactness story: the
# 3×3 moment matrix accumulates as DECIMAL(38,0)/HUGEINT in ONE
# ungrouped map-side aggregate; the solve is Cramer's rule on exact
# integer determinants (det ≈ 1e20, numerators ≈ 1e27 — inside 38
# digits); coefficients take exactly one integer→double cast + one IEEE
# division each; R² comes from a second pass whose residuals round to
# the integer grid (floor(ŷ+0.5)), so SSE/TSS are exact BIGINTs.  At
# 100 TB: two corpus scans (moments, residuals), each a partial agg;
# the model itself is a 1-row broadcast.
# --------------------------------------------------------------------------

_OLS_CE = """CAST(FLOOR(-CAST(list_sum(list_transform(
          list_transform(list_distinct(cs),
                         u -> CAST(LEN(list_filter(cs, c -> c = u)) AS BIGINT)),
          k -> k * CAST(FLOOR(ln(CAST(k AS DOUBLE) / LEN(cs)) * 1e9) AS BIGINT)))
        AS BIGINT) / (LEN(cs) * 1000.0) + 0.5) AS BIGINT)"""


@register(
    "linear_probe_quality",
    oracle=f"""
WITH base AS (
  SELECT string_split(text, '') AS cs, string_split(text, ' ') AS ws
  FROM documents WHERE LENGTH(text) > 0
),
f AS (
  SELECT CAST(LEN(ws) AS BIGINT) AS x1,
         CAST(LEN(cs) AS BIGINT) AS x2,
         {_OLS_CE} AS y
  FROM base
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x1) AS HUGEINT) AS sx1,
         CAST(SUM(x2) AS HUGEINT) AS sx2,
         CAST(SUM(x1 * x1) AS HUGEINT) AS sx11,
         CAST(SUM(x1 * x2) AS HUGEINT) AS sx12,
         CAST(SUM(x2 * x2) AS HUGEINT) AS sx22,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(y * x1) AS HUGEINT) AS syx1,
         CAST(SUM(y * x2) AS HUGEINT) AS syx2,
         CAST(COUNT(*) AS BIGINT) AS n_int,
         CAST(SUM(y) AS BIGINT) AS sy_int
  FROM f
),
model AS (
  SELECT n_int,
         CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) AS w0,
         CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) AS w1,
         CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) AS w2,
         (2 * sy_int + n_int) // (2 * n_int) AS ybar
  FROM (
    SELECT n_int, sy_int,
      n*(sx11*sx22 - sx12*sx12) - sx1*(sx1*sx22 - sx12*sx2)
        + sx2*(sx1*sx12 - sx11*sx2) AS det,
      sy*(sx11*sx22 - sx12*sx12) - sx1*(syx1*sx22 - sx12*syx2)
        + sx2*(syx1*sx12 - sx11*syx2) AS det0,
      n*(syx1*sx22 - sx12*syx2) - sy*(sx1*sx22 - sx12*sx2)
        + sx2*(sx1*syx2 - syx1*sx2) AS det1,
      n*(sx11*syx2 - syx1*sx12) - sx1*(sx1*syx2 - syx1*sx2)
        + sy*(sx1*sx12 - sx11*sx2) AS det2
    FROM m
  )
),
fit AS (
  SELECT n_int AS n_docs, w0, w1, w2,
         CAST(SUM(resid * resid) AS BIGINT) AS sse,
         CAST(SUM(dev * dev) AS BIGINT) AS tss
  FROM (
    SELECT n_int, w0, w1, w2,
           y - CAST(FLOOR(w0 + w1 * x1 + w2 * x2 + 0.5) AS BIGINT) AS resid,
           y - ybar AS dev
    FROM f CROSS JOIN model
  )
  GROUP BY n_int, w0, w1, w2
)
SELECT n_docs, w0, w1, w2, sse, tss,
       1 - CAST(sse AS DOUBLE) / CAST(tss AS DOUBLE) AS r2
FROM fit
""",
    tags=("text", "llm", "quality", "ml"),
    doc=(
        "L4m: in-plan OLS linear probe — can (n_tokens, n_chars) "
        "predict char entropy?  Exact DECIMAL/HUGEINT normal equations "
        "solved by Cramer determinants, integer-grid residuals, "
        "R² from exact SSE/TSS BIGINTs; two map-side corpus passes."
    ),
)
def linear_probe_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    cs = F.split("text", "")
    ws = F.split("text", " ")
    feats = docs.select(
        F.size(ws).cast("bigint").alias("x1"),
        F.size(cs).cast("bigint").alias("x2"),
        _entropy_micro(cs).alias("y"),
    ).localCheckpoint(eager=False)

    def dsum(col) -> Column:
        return F.sum(col.cast("decimal(38,0)"))

    m = feats.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        dsum(F.col("x1")).alias("sx1"),
        dsum(F.col("x2")).alias("sx2"),
        dsum(F.col("x1") * F.col("x1")).alias("sx11"),
        dsum(F.col("x1") * F.col("x2")).alias("sx12"),
        dsum(F.col("x2") * F.col("x2")).alias("sx22"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("y") * F.col("x1")).alias("syx1"),
        dsum(F.col("y") * F.col("x2")).alias("syx2"),
        F.count("*").cast("bigint").alias("n_int"),
        F.sum("y").cast("bigint").alias("sy_int"),
    )
    c = F.col
    det = (
        c("n") * (c("sx11") * c("sx22") - c("sx12") * c("sx12"))
        - c("sx1") * (c("sx1") * c("sx22") - c("sx12") * c("sx2"))
        + c("sx2") * (c("sx1") * c("sx12") - c("sx11") * c("sx2"))
    )
    det0 = (
        c("sy") * (c("sx11") * c("sx22") - c("sx12") * c("sx12"))
        - c("sx1") * (c("syx1") * c("sx22") - c("sx12") * c("syx2"))
        + c("sx2") * (c("syx1") * c("sx12") - c("sx11") * c("syx2"))
    )
    det1 = (
        c("n") * (c("syx1") * c("sx22") - c("sx12") * c("syx2"))
        - c("sy") * (c("sx1") * c("sx22") - c("sx12") * c("sx2"))
        + c("sx2") * (c("sx1") * c("syx2") - c("syx1") * c("sx2"))
    )
    det2 = (
        c("n") * (c("sx11") * c("syx2") - c("syx1") * c("sx12"))
        - c("sx1") * (c("sx1") * c("syx2") - c("syx1") * c("sx2"))
        + c("sy") * (c("sx1") * c("sx12") - c("sx11") * c("sx2"))
    )
    model = m.select(
        "n_int",
        (det0.cast("double") / det.cast("double")).alias("w0"),
        (det1.cast("double") / det.cast("double")).alias("w1"),
        (det2.cast("double") / det.cast("double")).alias("w2"),
        F.expr("(2 * sy_int + n_int) div (2 * n_int)").alias("ybar"),
    )
    resid = F.col("y") - F.floor(
        c("w0") + c("w1") * c("x1") + c("w2") * c("x2") + F.lit(0.5)
    ).cast("bigint")
    dev = F.col("y") - F.col("ybar")
    fit = (
        feats.crossJoin(F.broadcast(model))
        .select("n_int", "w0", "w1", "w2", resid.alias("resid"), dev.alias("dev"))
        .groupBy("n_int", "w0", "w1", "w2")
        .agg(
            F.sum(c("resid") * c("resid")).cast("bigint").alias("sse"),
            F.sum(c("dev") * c("dev")).cast("bigint").alias("tss"),
        )
    )
    return fit.select(
        F.col("n_int").alias("n_docs"),
        "w0",
        "w1",
        "w2",
        "sse",
        "tss",
        (F.lit(1) - c("sse").cast("double") / c("tss").cast("double")).alias("r2"),
    )


# --------------------------------------------------------------------------
# L10b (round 8): per-document duplicated-n-gram coverage — what
# FRACTION of each document's tokens sits inside an 8-gram that also
# occurs in another document.  Whole-doc dedup misses template pages
# (90% shared boilerplate + 10% unique payload); this is the per-doc
# signal that catches them (the "duplicate text fraction" rule in the
# Gopher/C4 family, measured cross-document).  Scale shape: one gram
# explode + hash agg for document frequency, an equi-join back (no
# broadcast of the gram table — it is corpus-sized), then an 8×
# bounded position explode and a distinct per (doc, token index) —
# every stage partial-aggs or joins on hashed keys.
# --------------------------------------------------------------------------


@register(
    "doc_dup_ngram_coverage",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id, generate_subscripts(gs, 1) - 1 AS pos, unnest(gs) AS g
  FROM (SELECT doc_id, {_sql_ngrams("ws", 8)} AS gs FROM t)
),
dup AS (
  SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS dd FROM g GROUP BY g)
  WHERE dd >= 2
),
cov AS (
  SELECT doc_id, COUNT(DISTINCT tok_i) AS covered
  FROM (
    SELECT doc_id, pos + k AS tok_i
    FROM g JOIN dup USING (g)
    CROSS JOIN (SELECT unnest(range(0, 8)) AS k)
  )
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(LEN(ws) AS BIGINT) AS n_tokens,
       CAST(COALESCE(covered, 0) AS BIGINT) AS covered_tokens,
       CAST(FLOOR(10000.0 * COALESCE(covered, 0) / LEN(ws)) AS BIGINT)
         AS dup_coverage_e4
FROM t LEFT JOIN cov USING (doc_id)
""",
    tags=("text", "llm", "dedup", "quality"),
    doc=(
        "L10b: per-doc fraction of tokens covered by cross-document "
        "duplicated 8-grams — the partial-template-duplication signal "
        "whole-doc dedup misses.  Gram-df hash agg + equi-join back + "
        "bounded position explode; basis-point-exact ratio."
    ),
)
def doc_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(shuffle_parts(docs), F.col("doc_id"))
    ws = F.split("text", " ")
    base = docs.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_tokens"),
        ngram_array(ws, 8).alias("grams"),
    )
    occ = base.select(
        "doc_id", F.posexplode("grams").alias("pos", "g")
    )
    dup = (
        occ.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("dd"))
        .filter(F.col("dd") >= 2)
        .select("g")
    )
    covered = (
        occ.join(dup, "g")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("tok_i"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("covered"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("covered"), F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            F.floor(
                10000.0
                * F.coalesce(F.col("covered"), F.lit(0))
                / F.col("n_tokens")
            )
            .cast("bigint")
            .alias("dup_coverage_e4"),
        )
    )


# --------------------------------------------------------------------------
# L10c (round 8): containment decontamination — the ASYMMETRIC leak
# check.  `ngram_decontaminate` flags any shared 8-gram (strict, binary);
# Jaccard-based near-dup misses a long training page that merely
# CONTAINS an eval doc (the union term swamps the intersection).
# Containment(e → t) = |shingles(e) ∩ shingles(t)| / |shingles(e)| is
# the right statistic for inclusion — the FineWeb/The-Stack
# decontamination shape.  Scale: the eval shingle index is distinct-ed
# and BROADCAST (eval sets are MBs against a TB corpus); the corpus
# streams past it map-side; the (train, eval) rollup is bounded by
# true overlaps, never the cross product.
# --------------------------------------------------------------------------

_CONTAIN_K = 3  # shingle width (words)
_CONTAIN_E4 = 5000  # report pairs with containment >= 50%


@register(
    "containment_decontaminate",
    oracle=f"""
WITH t AS (
  SELECT doc_id, doc_id % {_DECON_MOD} = 0 AS is_eval,
         string_split(text, ' ') AS ws
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id, is_eval, unnest({_sql_ngrams("ws", _CONTAIN_K)}) AS g FROM t
),
ev AS (SELECT doc_id AS eval_doc, g FROM g WHERE is_eval),
esz AS (SELECT eval_doc, CAST(COUNT(*) AS BIGINT) AS e_size FROM ev GROUP BY eval_doc),
shared AS (
  SELECT tr.doc_id AS train_doc, ev.eval_doc,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM (SELECT doc_id, g FROM g WHERE NOT is_eval) tr
  JOIN ev USING (g)
  GROUP BY 1, 2
)
SELECT eval_doc, rnk, train_doc, n_shared, e_size, containment_e4,
       containment_e4 >= {_CONTAIN_E4} AS flagged
FROM (
  SELECT train_doc, eval_doc, n_shared, e_size,
         CAST(FLOOR(10000.0 * n_shared / e_size) AS BIGINT) AS containment_e4,
         ROW_NUMBER() OVER (
           PARTITION BY eval_doc
           ORDER BY FLOOR(10000.0 * n_shared / e_size) DESC, train_doc
         ) AS rnk
  FROM shared JOIN esz USING (eval_doc)
)
WHERE rnk <= 3
""",
    tags=("text", "llm", "decontamination", "dedup"),
    doc=(
        "L10c: asymmetric containment decontamination — per eval doc "
        "the top-3 training docs by distinct-3-gram-shingle containment "
        "(inclusion leaks Jaccard misses), flagged at >= 50%.  Broadcast "
        "eval index, map-side corpus stream, basis-point-exact."
    ),
)
def containment_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(shuffle_parts(docs), F.col("doc_id"))
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % _DECON_MOD == 0).alias("is_eval"),
        ngram_array(F.split("text", " "), _CONTAIN_K).alias("grams"),
    )
    g = base.select(
        "doc_id", "is_eval", F.explode("grams").alias("g")
    ).distinct()
    ev = g.filter("is_eval").select(F.col("doc_id").alias("eval_doc"), "g")
    ev = ev.localCheckpoint(eager=False)  # built once, used twice
    esz = ev.groupBy("eval_doc").agg(F.count("*").cast("bigint").alias("e_size"))
    shared = (
        g.filter(~F.col("is_eval"))
        .select(F.col("doc_id").alias("train_doc"), "g")
        .join(F.broadcast(ev), "g")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    from pyspark.sql import Window

    cont = F.floor(10000.0 * F.col("n_shared") / F.col("e_size"))
    w = Window.partitionBy("eval_doc").orderBy(F.desc(cont), F.asc("train_doc"))
    return (
        shared.join(F.broadcast(esz), "eval_doc")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "eval_doc",
            "rnk",
            "train_doc",
            "n_shared",
            "e_size",
            cont.cast("bigint").alias("containment_e4"),
            (cont >= _CONTAIN_E4).alias("flagged"),
        )
    )


# --------------------------------------------------------------------------
# L10d (round 8): bottom-k containment SKETCH audit — the approximate
# twin of `containment_decontaminate`, in the estimator-calibration
# tradition of `minhash_estimate_audit`.  At 100 TB you cannot join the
# full eval shingle set against every training doc repeatedly; the
# production path keeps only each eval doc's k SMALLEST shingle hashes
# (bottom-k MinHash) and estimates containment(e→t) as the fraction of
# those minima found in t — an unbiased estimator under uniform
# hashing.  This audit computes BOTH the estimate and the exact truth
# for the top-3 pairs per eval doc and reports the basis-point error,
# so the sketch's fitness is driver-gated, not asserted.  md5 hashes →
# DuckDB rebuilds the identical sketch.
# --------------------------------------------------------------------------

_CONTAIN_BK = 16  # bottom-k sketch size


@register(
    "containment_sketch_audit",
    oracle=f"""
WITH t AS (
  SELECT doc_id, doc_id % {_DECON_MOD} = 0 AS is_eval,
         string_split(text, ' ') AS ws
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id, is_eval, unnest({_sql_ngrams("ws", _CONTAIN_K)}) AS g FROM t
),
gh AS (SELECT doc_id, is_eval, g, md5(g) AS h FROM g),
ev AS (SELECT doc_id AS eval_doc, g, h FROM gh WHERE is_eval),
esz AS (SELECT eval_doc, CAST(COUNT(*) AS BIGINT) AS e_size FROM ev GROUP BY eval_doc),
bk AS (
  SELECT eval_doc, h FROM (
    SELECT eval_doc, h,
           ROW_NUMBER() OVER (PARTITION BY eval_doc ORDER BY h, g) AS rn
    FROM ev
  ) WHERE rn <= {_CONTAIN_BK}
),
bksz AS (SELECT eval_doc, CAST(COUNT(*) AS BIGINT) AS k_e FROM bk GROUP BY eval_doc),
tr AS (SELECT doc_id AS train_doc, g, h FROM gh WHERE NOT is_eval),
exact AS (
  SELECT tr.train_doc, ev.eval_doc, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM tr JOIN ev USING (g) GROUP BY 1, 2
),
est AS (
  SELECT tr.train_doc, bk.eval_doc, CAST(COUNT(DISTINCT bk.h) AS BIGINT) AS n_hits
  FROM tr JOIN bk USING (h) GROUP BY 1, 2
),
ranked AS (
  SELECT e.eval_doc, e.train_doc, e.n_shared, s.e_size,
         CAST(FLOOR(10000.0 * e.n_shared / s.e_size) AS BIGINT) AS exact_e4,
         ROW_NUMBER() OVER (
           PARTITION BY e.eval_doc
           ORDER BY FLOOR(10000.0 * e.n_shared / s.e_size) DESC, e.train_doc
         ) AS rnk
  FROM exact e JOIN esz s USING (eval_doc)
)
SELECT r.eval_doc, r.rnk, r.train_doc, r.exact_e4,
       CAST(FLOOR(10000.0 * COALESCE(est.n_hits, 0) / b.k_e) AS BIGINT) AS est_e4,
       ABS(r.exact_e4
           - CAST(FLOOR(10000.0 * COALESCE(est.n_hits, 0) / b.k_e) AS BIGINT))
         AS abs_err_e4
FROM ranked r
JOIN bksz b ON b.eval_doc = r.eval_doc
LEFT JOIN est ON est.eval_doc = r.eval_doc AND est.train_doc = r.train_doc
WHERE r.rnk <= 3
""",
    tags=("text", "llm", "decontamination", "sketch", "approx"),
    doc=(
        "L10d: bottom-16 MinHash containment estimator vs exact truth "
        "for the top-3 pairs per eval doc, basis-point error reported — "
        "the sketch that replaces the full eval shingle join at scale, "
        "calibration driver-gated."
    ),
)
def containment_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(shuffle_parts(docs), F.col("doc_id"))
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % _DECON_MOD == 0).alias("is_eval"),
        ngram_array(F.split("text", " "), _CONTAIN_K).alias("grams"),
    )
    gh = (
        base.select("doc_id", "is_eval", F.explode("grams").alias("g"))
        .distinct()
        .withColumn("h", F.md5("g"))
    )
    gh = gh.localCheckpoint(eager=False)  # four consumers below
    ev = gh.filter("is_eval").select(F.col("doc_id").alias("eval_doc"), "g", "h")
    esz = ev.groupBy("eval_doc").agg(F.count("*").cast("bigint").alias("e_size"))
    wbk = Window.partitionBy("eval_doc").orderBy(F.asc("h"), F.asc("g"))
    bk = (
        ev.withColumn("rn", F.row_number().over(wbk))
        .filter(F.col("rn") <= _CONTAIN_BK)
        .select("eval_doc", "h")
    )
    bksz = bk.groupBy("eval_doc").agg(F.count("*").cast("bigint").alias("k_e"))
    tr = gh.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc"), "g", "h"
    )
    exact = (
        tr.join(F.broadcast(ev.select("eval_doc", "g")), "g")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    est = (
        tr.join(F.broadcast(bk), "h")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count_distinct("h").cast("bigint").alias("n_hits"))
    )
    exact_e4 = F.floor(10000.0 * F.col("n_shared") / F.col("e_size"))
    wr = Window.partitionBy("eval_doc").orderBy(F.desc(exact_e4), F.asc("train_doc"))
    ranked = (
        exact.join(F.broadcast(esz), "eval_doc")
        .withColumn("exact_e4", exact_e4.cast("bigint"))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
    )
    est_e4 = F.floor(
        10000.0 * F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k_e")
    ).cast("bigint")
    return (
        ranked.join(F.broadcast(bksz), "eval_doc")
        .join(est, ["eval_doc", "train_doc"], "left")
        .select(
            "eval_doc",
            "rnk",
            "train_doc",
            "exact_e4",
            est_e4.alias("est_e4"),
            F.abs(F.col("exact_e4") - est_e4).alias("abs_err_e4"),
        )
    )


# --------------------------------------------------------------------------
# L33 (round 11): RAG chunking — overlapping token windows.  Retrieval
# corpora are indexed at CHUNK granularity, not document granularity:
# fixed-size windows (32 tokens) with overlap (stride 24) so no answer
# span is split across a boundary without a covering chunk.  Chunk
# count per doc is 1 + ⌈max(len−32, 0)/24⌉ — full coverage, final
# chunk may run short, never an empty chunk.  Pure per-row expression
# work (explode over a computed sequence): map-side, no shuffle until
# the consumer groups chunks — at 100 TB this is exactly the shape a
# chunk-index build wants.  The chunk text itself is fingerprinted
# (md5 — the engine-portable hash) so the oracle certifies the exact
# chunk CONTENT, not just the arithmetic.
# --------------------------------------------------------------------------

@register(
    "doc_chunk_windows",
    oracle=f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
x AS (
  SELECT doc_id, generate_subscripts(cs, 1) - 1 AS k, unnest(cs) AS cw
  FROM (SELECT doc_id, {_sql_chunks("ws")} AS cs FROM d)
)
SELECT doc_id,
       CAST(k AS INT) AS chunk_idx,
       CAST(1 + k * {_CHUNK_STRIDE} AS INT) AS start_tok,
       CAST(LEN(cw) AS INT) AS chunk_tokens,
       md5(array_to_string(cw, ' ')) AS chunk_md5
FROM x
""",
    tags=("text", "llm", "rag"),
    doc=(
        "L33: RAG chunking — 32-token windows at stride 24 (8-token "
        "overlap), 1+⌈max(len−32,0)/24⌉ chunks per doc, md5-fingerprinted "
        "chunk text; map-side expression work only."
    ),
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    x = docs.select(
        "doc_id", F.posexplode(chunk_array(F.split("text", " "))).alias("k", "cw")
    )
    return x.select(
        "doc_id",
        F.col("k").cast("int").alias("chunk_idx"),
        (1 + F.col("k") * _CHUNK_STRIDE).cast("int").alias("start_tok"),
        F.size("cw").cast("int").alias("chunk_tokens"),
        F.md5(F.array_join("cw", " ")).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# L34 (round 11): BM25 ranked retrieval (Robertson-Spärck Jones /
# Okapi, k1=1.2 b=0.75) — the production lexical ranking function, vs
# the raw tf-idf of `tfidf_topk` and the overlap count the RRF fusion
# uses.  Scale shape: one tf pass + one df pass over exploded tokens
# (map-side combines), then probe tokens × posting lists (the inverted
# index join — work ∝ matched postings, never all-pairs).  Numeric
# design: the full per-term double chain (idf × saturation, identical
# op-sequence both engines over the proven LN parity) is quantized
# FLOOR(·1e9) BEFORE the per-document sum, so the score is an exact
# order-independent integer — the bigram_logprob_score convention.
# --------------------------------------------------------------------------


def _sql_bm25_term_e9(w: str = "1.0") -> str:
    """The quantized per-term BM25 score expression over aliases
    ``t`` (tok row: tf), ``f`` (dfreq row: df), ``l`` (dl row: len),
    ``s`` (stats row: n, avglen), optionally weighted by ``{w}``
    (multiplied INSIDE the FLOOR, so weighted scores stay exact
    order-independent integers)."""
    return f"""CAST(FLOOR(
           {w}
           * LN((CAST(s.n - f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
           * ((CAST(t.tf AS DOUBLE) * 2.2)
              / (CAST(t.tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * (CAST(l.len AS DOUBLE) / s.avglen))))
           * 1e9
         ) AS BIGINT)"""


def _sql_bm25_core() -> str:
    """Corpus-statistics + base-query-scoring CTE chain shared by
    ``bm25_topk`` and the RM3 expansion query: d/dl/tok/dfreq/stats,
    the probes' distinct-token queries ``qt``, and the base per-doc
    scores ``sc`` (pid, id, bm25_e9)."""
    return f"""
WITH d AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
dl AS MATERIALIZED (SELECT doc_id, LEN(ws) AS len FROM d),
tok AS MATERIALIZED (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS tok FROM d)
  GROUP BY doc_id, tok
),
dfreq AS MATERIALIZED (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok),
stats AS MATERIALIZED (
  SELECT COUNT(*) AS n,
         CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avglen
  FROM dl
),
qt AS MATERIALIZED (SELECT DISTINCT doc_id AS pid, tok FROM tok WHERE doc_id < 10),
m AS (
  SELECT q.pid, t.doc_id AS id, {_sql_bm25_term_e9()} AS e9
  FROM qt q
  JOIN tok t ON t.tok = q.tok AND t.doc_id <> q.pid
  JOIN dfreq f ON f.tok = q.tok
  JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
),
sc AS (SELECT pid, id, CAST(SUM(e9) AS BIGINT) AS bm25_e9 FROM m GROUP BY pid, id)"""


@register(
    "bm25_topk",
    oracle=_sql_bm25_core() + """
SELECT pid AS probe_id, id AS doc_id, rn, bm25_e9
FROM (
  SELECT pid, id, bm25_e9,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY bm25_e9 DESC, id) AS rn
  FROM sc
)
WHERE rn <= 5
""",
    tags=("text", "llm", "topk", "rag"),
    doc=(
        "L34: BM25 top-5 per probe (k1=1.2, b=0.75) — inverted-index "
        "postings join, per-term scores quantized to e9 integers before "
        "the order-independent document sum."
    ),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = _bm25_frames(spark, sf_dir)
    sc = _bm25_scores(fr, fr["qt"].withColumn("w", F.lit(1.0)), "bm25_e9")
    w = Window.partitionBy("pid").orderBy(F.desc("bm25_e9"), F.asc("id"))
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("pid").alias("probe_id"),
            F.col("id").alias("doc_id"),
            "rn",
            "bm25_e9",
        )
    )


def _bm25_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Shared corpus statistics for the BM25 family: per-doc lengths,
    (doc, token) term frequencies, document frequencies, the corpus
    (n, avglen) scalars, and the probes' distinct-token queries."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    dl = d.select("doc_id", F.size("ws").alias("len")).localCheckpoint(eager=False)
    tok = (
        d.select("doc_id", F.explode("ws").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n"),
        (
            F.sum("len").cast("double") / F.count("*").cast("double")
        ).alias("avglen"),
    )
    qt = (
        tok.filter(F.col("doc_id") < 10)
        .select(F.col("doc_id").alias("pid"), "tok")
        .distinct()
    )
    return {"dl": dl, "tok": tok, "dfreq": dfreq, "stats": stats, "qt": qt}


def bm25_term_e9_col() -> Column:
    """The quantized per-term BM25 score column over in-scope columns
    ``w, tf, df, len, n, avglen`` — ONE op-sequence shared by the
    in-plan recompute (``_bm25_scores``) and the served-from-standing-
    index path (``streaming/bm25_ingest``), so the two are bit-identical
    by construction (the Spark twin of ``_sql_bm25_term_e9``)."""
    idf = F.log(
        ((F.col("n") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfp = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * (F.col("len").cast("double") / F.col("avglen")))
    )
    return F.floor(F.col("w") * idf * tfp * F.lit(1e9)).cast("bigint")


def _bm25_scores(fr: dict, q: DataFrame, name: str) -> DataFrame:
    """Per-(probe, doc) BM25 score for the weighted query ``q``
    (pid, tok, w): each term's idf×saturation double is scaled by its
    query weight INSIDE the e9 quantization, then the per-doc sum runs
    on exact integers (order-independent)."""
    m = (
        F.broadcast(q)
        .join(fr["tok"], ["tok"])
        .filter(F.col("doc_id") != F.col("pid"))
        .join(fr["dfreq"], ["tok"])
        .join(
            fr["dl"].withColumnRenamed("doc_id", "_d"),
            F.col("_d") == F.col("doc_id"),
        )
        .crossJoin(F.broadcast(fr["stats"]))
        .select(
            "pid",
            F.col("doc_id").alias("id"),
            bm25_term_e9_col().alias("e9"),
        )
    )
    return m.groupBy("pid", "id").agg(F.sum("e9").cast("bigint").alias(name))


# --------------------------------------------------------------------------
# L34b (round 11): pseudo-relevance feedback (RM3-style query
# expansion, Abdul-Jaleel et al. TREC '04): the base BM25 ranking's
# top-3 docs per probe nominate their 5 heaviest terms (summed tf,
# excluding terms the query already has), which join the query at half
# weight; the expanded weighted query is re-scored with the SAME
# shared-statistics BM25 chain.  Scale shape: the feedback term
# selection touches only 3 docs/probe; both scoring passes are the
# inverted-index postings join.  Weights 1.0 and 0.5 are exactly
# representable, so the weighted e9 quantization stays bit-identical
# across engines.
# --------------------------------------------------------------------------


@register(
    "bm25_rm3_expansion",
    oracle=_sql_bm25_core() + """,
fb AS (
  SELECT pid, id FROM (
    SELECT pid, id,
           ROW_NUMBER() OVER (PARTITION BY pid ORDER BY bm25_e9 DESC, id) AS rn
    FROM sc
  ) WHERE rn <= 3
),
expt AS (
  SELECT pid, tok FROM (
    SELECT fb.pid, t.tok,
           ROW_NUMBER() OVER (
             PARTITION BY fb.pid ORDER BY SUM(t.tf) DESC, t.tok
           ) AS rn
    FROM fb
    JOIN tok t ON t.doc_id = fb.id
    LEFT JOIN qt q ON q.pid = fb.pid AND q.tok = t.tok
    WHERE q.tok IS NULL
    GROUP BY fb.pid, t.tok
  ) WHERE rn <= 5
),
q2 AS (
  SELECT pid, tok, CAST(1.0 AS DOUBLE) AS w FROM qt
  UNION ALL
  SELECT pid, tok, CAST(0.5 AS DOUBLE) FROM expt
),
m2 AS (
  SELECT q.pid, t.doc_id AS id, """ + _sql_bm25_term_e9("q.w") + """ AS e9
  FROM q2 q
  JOIN tok t ON t.tok = q.tok AND t.doc_id <> q.pid
  JOIN dfreq f ON f.tok = q.tok
  JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
),
sc2 AS (SELECT pid, id, CAST(SUM(e9) AS BIGINT) AS rm3_e9 FROM m2 GROUP BY pid, id)
SELECT pid AS probe_id, id AS doc_id, rn, rm3_e9
FROM (
  SELECT pid, id, rm3_e9,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY rm3_e9 DESC, id) AS rn
  FROM sc2
)
WHERE rn <= 5
""",
    tags=("text", "llm", "topk", "rag"),
    doc=(
        "L34b: RM3 pseudo-relevance feedback — the base BM25 top-3 "
        "docs nominate 5 expansion terms (summed tf, query terms "
        "excluded) at half weight; the expanded weighted query is "
        "re-scored through the shared BM25 chain.  Fully "
        "oracle-replayed incl. the weighted e9 quantization."
    ),
)
def bm25_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = _bm25_frames(spark, sf_dir)
    qt = fr["qt"]
    base = _bm25_scores(fr, qt.withColumn("w", F.lit(1.0)), "bm25_e9")
    w_fb = Window.partitionBy("pid").orderBy(F.desc("bm25_e9"), F.asc("id"))
    fb = (
        base.withColumn("rn", F.row_number().over(w_fb))
        .filter(F.col("rn") <= 3)
        .select("pid", "id")
    )
    w_t = Window.partitionBy("pid").orderBy(F.desc("wsum"), F.asc("tok"))
    expt = (
        fb.join(
            fr["tok"].withColumnRenamed("doc_id", "id"), "id"
        )
        .groupBy("pid", "tok")
        .agg(F.sum("tf").alias("wsum"))
        .join(qt, ["pid", "tok"], "left_anti")
        .withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= 5)
        .select("pid", "tok")
    )
    q2 = qt.withColumn("w", F.lit(1.0)).unionByName(
        expt.withColumn("w", F.lit(0.5))
    )
    sc2 = _bm25_scores(fr, q2, "rm3_e9")
    w = Window.partitionBy("pid").orderBy(F.desc("rm3_e9"), F.asc("id"))
    return (
        sc2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("pid").alias("probe_id"),
            F.col("id").alias("doc_id"),
            "rn",
            "rm3_e9",
        )
    )
