"""T8k (round 12): the STANDING LEXICAL INDEX — streaming BM25 index
maintenance plus the served retrieval paths that read it.

VERDICT r11's #1: ``bm25_topk``/``bm25_rm3_expansion`` recompute
tokenization, tf, df, doc lengths and avglen from the raw corpus on
every query (``operators/textops.py::_bm25_frames``) — corpus-linear
per query.  This module converts the retrieval family from demo to
product, the same move the ANN family made in round 11
(``write_stream_ann_index_gate`` + ``ann_index_bucket_probe``):

- ``stream_bm25_index_ingest`` — the REAL ingest loop: documents
  arrive as ordered micro-batches; each epoch's tokenize+tf pass is
  appended to a standing ACID postings table partitioned by TOKEN
  BUCKET (md5(tok) % 16, engine-replayable), to a forward index
  partitioned by doc bucket, and to a stats ledger — all under ONE
  epoch txid.  Doc length is denormalized onto each posting row, so
  serving never joins a doc-side table; corpus N and avglen are
  derived by summing the tiny ledger, never stored as mutable scalars.
- ``bm25_topk_served`` / ``bm25_rm3_expansion_served`` — BM25 (and its
  RM3 expansion) SERVED from the standing artifacts: a query reads
  only its terms' token buckets (manifest-pruned, harness-audited) +
  the ledger; the RM3 feedback step reads only the top-3 docs' doc
  buckets of the forward index.  Scores share the in-plan path's
  op-sequence (``textops.bm25_term_e9_col``) and are additionally
  harness-asserted bit-identical against the full in-plan recompute;
  the driver's oracle is the UNCHANGED from-scratch SQL, so the hash
  gate independently pins served == recomputed.

Scale shape at 100 TB: the index build is the one-time corpus-linear
pass (streamed, per-epoch cost Θ(batch tokens), independent of index
size); a served query's cost is Θ(matched postings in its terms'
buckets) — probe-local, flat in corpus size for fixed query terms'
document frequencies (measured in ``scripts/retrieval_serving_regime``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.tables import table
from ..operators._helpers import md5_bucket16, sql_materialize, sql_md5_bucket16
from ..operators.similarity import _probe_topk, _retention, _sql_probe_topk, _sql_retention
from ..operators.textops import (
    _BM25_RM3_SQL,
    _BM25_TOPK_SQL,
    _bm25_frames,
    _bm25_scores,
    _rm3_query,
    _sql_bm25_core,
    _sql_bm25_scores,
    _sql_bm25_term_e9,
    bm25_term_e9_col,
)
from ..registry import register

# The ORACLE-REPLAYABLE layout: every driver fixture (sf ≤ 0.1) resolves
# to 16 buckets (the pow2_buckets lo clamp), so DuckDB oracles that hash
# the physical layout stay literal.  These constants never reach a
# standing-table write or read directly — the table's _config.json
# record does (core.bm25_table_layout / io/layout.py, VERDICT r13 #1).
_TOK_BUCKETS = 16
_FWD_BUCKETS = 16

# Corpus scaling for bulk-built indexes: ≈ this many corpus TOKENS per
# token bucket (len_sum is known before the postings pass; distinct
# postings ≤ tokens, so buckets err slightly wide).  At 16 buckets a
# ~100-word doc's tokens hash into EVERY bucket, so a takedown rewrote
# 16/16 postings buckets ∝ corpus (r13 tenth campaign); scaling the
# count with the corpus keeps per-doc bucket fan-out a shrinking
# fraction: ov-sf1 → 64, ov-sf10 → 512, ov-sf100 → 4096 (hi clamp).
_TOKENS_PER_BUCKET = 65_536


def _sql_tok_bucket(tok: str = "tok") -> str:
    return f"CAST(({sql_md5_bucket16(tok)}) % {_TOK_BUCKETS} AS INT)"


def _py_tok_bucket(tok: str, n_buckets: int) -> int:
    """Driver-side twin of ``_helpers.md5_bucket16 % n_buckets`` (first
    FOUR md5 hex chars — 16 bits, so corpus-scaled layouts up to the
    4096-bucket clamp actually populate every bucket) — the one place
    the serve paths hash a token on the driver to build a
    partition_filter's allowed-bucket set."""
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % int(n_buckets)


def _tok_layout(postings_root: str) -> int:
    """The postings table's persisted token-bucket count (reader side)."""
    from ..io.layout import read_table_config

    return int(read_table_config(postings_root)["tok_buckets"])


def _fwd_layout(forward_root: str) -> int:
    """The forward table's persisted doc-bucket count (reader side)."""
    from ..io.layout import read_table_config

    return int(read_table_config(forward_root)["fwd_buckets"])


def _bm25_ingest_oracle() -> str:
    return f"""
WITH d AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS MATERIALIZED (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS tok FROM d)
  GROUP BY doc_id, tok
)
SELECT CAST(doc_id % 3 AS INT) AS epoch,
       {_sql_tok_bucket()} AS tok_bucket,
       COUNT(*) AS n_postings,
       CAST(SUM(tf) AS BIGINT) AS tf_sum,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_toks,
       CAST(SUM(({sql_md5_bucket16('tok')}) * tf) AS BIGINT) AS tokh_sum
FROM tok
GROUP BY 1, 2
"""


@register(
    "stream_bm25_index_ingest",
    oracle=_bm25_ingest_oracle(),
    tags=("streaming", "text", "llm", "acid", "real-stream", "rag"),
    doc=(
        "T8k real stream: 3 ordered micro-batches of documents are "
        "tokenized once each and appended to the standing BM25 "
        "artifacts — token-bucketed postings (doc length denormalized "
        "onto the row), doc-bucketed forward index, stats ledger — "
        "under one epoch txid each.  Returns the per-(epoch, "
        "tok_bucket) rollup of the standing postings; oracle = full "
        "SQL replay of the tokenization, tf pass, and bucket layout."
    ),
)
def stream_bm25_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import read_table
    from .core import write_stream_bm25_index_gate
    from .windows import _ordered_epoch_stream, _run_gate

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="bm25gate_")
    try:
        roots = {
            nm: os.path.join(tmp, nm)
            for nm in ("postings", "forward", "stats", "tokstats")
        }
        sdf = _ordered_epoch_stream(spark, docs, tmp, key="doc_id")
        _run_gate(spark, lambda ck: write_stream_bm25_index_gate(
            sdf, roots["postings"], roots["forward"], roots["stats"],
            checkpoint=ck, tokstats_root=roots["tokstats"],
        ))

        ledger = {
            int(r["epoch"]): (
                int(r["n_docs"]), int(r["len_sum"]), int(r["doc_id_sum"]),
                int(r["n_postings"]), int(r["tf_sum"]),
            )
            for r in read_table(spark, roots["stats"]).collect()
        }
        # Loud determinism guard: ledger epoch membership must match the
        # doc_id % 3 split of the source table.
        want = {
            int(r["e"]): (int(r["n"]), int(r["lens"]), int(r["ids"]))
            for r in docs.select(
                F.pmod("doc_id", F.lit(3)).alias("e"),
                F.size(F.split("text", " ")).alias("len"),
                "doc_id",
            )
            .groupBy("e")
            .agg(
                F.count("*").alias("n"),
                F.sum("len").alias("lens"),
                F.sum("doc_id").alias("ids"),
            )
            .collect()
        }
        got = {e: (n, ls, ids) for e, (n, ls, ids, _, _) in ledger.items()}
        if got != want:
            raise RuntimeError(
                f"epoch membership drifted from the doc_id%3 split: {got} != {want}"
            )
        post = read_table(spark, roots["postings"]).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("tok").cast("string").alias("tok"),
            F.col("tf").cast("long").alias("tf"),
            F.col("tok_bucket").cast("int").alias("tok_bucket"),
            F.col("epoch").cast("int").alias("epoch"),
        )
        out = (
            post.groupBy("epoch", "tok_bucket")
            .agg(
                F.count("*").alias("n_postings"),
                F.sum("tf").alias("tf_sum"),
                F.countDistinct("tok").alias("n_toks"),
                F.sum(md5_bucket16("tok").cast("bigint") * F.col("tf")).alias(
                    "tokh_sum"
                ),
            )
            .localCheckpoint()
        )
        # CONSERVATION: standing postings reconcile with the ledger, and
        # the forward index holds exactly the same (doc, tok, tf) rows.
        tot = out.groupBy("epoch").agg(
            F.sum("n_postings").alias("np"), F.sum("tf_sum").alias("tfs")
        )
        got2 = {int(r["epoch"]): (int(r["np"]), int(r["tfs"])) for r in tot.collect()}
        want2 = {e: (np, tfs) for e, (_, _, _, np, tfs) in ledger.items()}
        if got2 != want2:
            raise RuntimeError(
                f"postings/ledger reconciliation failed: {got2} != {want2}"
            )
        fwd = read_table(spark, roots["forward"])
        fchk = fwd.agg(
            F.count("*").alias("n"),
            F.sum(F.col("tf").cast("long") * F.col("doc_id").cast("long")).alias("w"),
        ).collect()[0]
        pchk = post.agg(
            F.count("*").alias("n"),
            F.sum(F.col("tf") * F.col("doc_id")).alias("w"),
        ).collect()[0]
        if (int(fchk["n"]), int(fchk["w"])) != (int(pchk["n"]), int(pchk["w"])):
            raise RuntimeError("forward/postings index drifted apart")
        # tokstats deltas must SUM to the postings' global df per token
        ts = read_table(spark, roots["tokstats"]).groupBy("tok").agg(
            F.sum(F.col("df").cast("long")).alias("df")
        )
        want_df = post.groupBy("tok").agg(F.count("*").alias("wdf"))
        n_drift = (
            ts.join(want_df, "tok", "full")
            .filter(
                F.col("df").isNull()
                | F.col("wdf").isNull()
                | (F.col("df") != F.col("wdf"))
            )
            .count()
        )
        if n_drift:
            raise RuntimeError(
                f"tokstats df deltas drifted from the postings on {n_drift} tokens"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _build_standing_index(
    spark: SparkSession, sf_dir: str, tmp: str,
    tables: tuple[str, ...] = ("postings", "forward", "stats", "tokstats"),
) -> dict:
    """Batch twin of the gate's per-epoch work: the full documents table
    committed as the standing postings + forward + ledger artifacts
    under one txid (the serving queries' setup; the stream path is
    proven separately by ``stream_bm25_index_ingest``).

    ``tables`` names the artifacts to actually build — callers that
    serve from a subset (the hybrid lexical leg reads ONLY the
    postings) skip the other tables' shuffle+write passes
    (guide §1.2: don't compute things you throw away).  Postings are
    always built."""
    import os

    from ..io.acid_table import replace_partitions, replace_rows
    from ..io.layout import align_bucketed_write, pow2_buckets, write_parts
    from .core import bm25_index_batch_frames, bm25_table_layout

    roots = {
        nm: os.path.join(tmp, nm)
        for nm in ("postings", "forward", "stats", "tokstats")
    }
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Corpus-scaled layout, decided BEFORE the postings pass from the
    # cheap length aggregate (split+size, no explode), then persisted in
    # each table's _config.json so every later reader/delete/compaction
    # derives it from the table instead of a module constant.
    stats = docs.select(F.size(F.split("text", " ")).alias("len")).agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("len"), F.lit(0)).alias("len_sum"),
    ).collect()[0]
    want = pow2_buckets(int(stats["len_sum"]), _TOKENS_PER_BUCKET)
    tokb, fwdb = bm25_table_layout(
        roots["postings"], roots["forward"], roots["tokstats"],
        tok_buckets=want, fwd_buckets=want,
    )
    fr = bm25_index_batch_frames(docs, tokb, fwdb)
    # Align the shuffle with the hive layout before the write
    # (``align_bucketed_write``): range-partition on (tok_bucket, tok)
    # so a task covers a contiguous bucket span — total files ≈
    # max(parts, buckets) instead of parts × buckets — and splits
    # beyond the bucket count land INSIDE buckets as disjoint token
    # ranges, which is the per-file zone-map tier the serve reads prune
    # on.  parts scales with the corpus (rows / target-file-rows), so
    # file sizes hold steady across decades.
    # No cache on the sorted postings: the frame is consumed exactly
    # once by the write, and checkpointing ~Θ(corpus tokens) rows OOMed
    # the ov-sf100 build (measured) for zero reuse.
    parts = write_parts(int(stats["len_sum"]), tokb)
    postings = align_bucketed_write(
        fr["postings"].withColumn("epoch", F.lit(-1)),
        ["tok_bucket"], ["tok"], parts, n_buckets=tokb,
    )
    replace_partitions(postings, roots["postings"], ["tok_bucket"], "bulk-load")
    # Forward and tokstats DERIVE FROM THE JUST-WRITTEN POSTINGS TABLE,
    # not from the logical frame: re-reading committed columnar rows is
    # one cheap scan, while re-evaluating the frame would re-tokenize
    # the whole corpus once per downstream write (range-partitioned
    # writes evaluate their input twice — sample + shuffle — so the
    # lineage route costs ~4 extra corpus tokenizations per build).
    from ..io.acid_table import read_table

    if "forward" in tables or "tokstats" in tables:
        written = read_table(spark, roots["postings"]).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("tok").cast("string").alias("tok"),
            F.col("tf").cast("long").alias("tf"),
            F.col("tok_bucket").cast("int").alias("tok_bucket"),
        )
    if "forward" in tables:
        replace_partitions(
            align_bucketed_write(
                written.select(
                    "doc_id", "tok", "tf",
                    F.pmod("doc_id", F.lit(int(fwdb))).alias("doc_bucket"),
                ).withColumn("epoch", F.lit(-1)),
                ["doc_bucket"], ["doc_id"],
                write_parts(int(stats["len_sum"]), fwdb), n_buckets=fwdb,
            ),
            roots["forward"], ["doc_bucket"], "bulk-load",
        )
    # token-stats sidecar (round 13): per-token document frequency as a
    # standing table, Θ(vocab) rows — the long-query two-stage serve
    # ranks the query's terms by df WITHOUT touching any postings
    # bucket.  Token-range-sorted for the same file-level zone maps.
    if "tokstats" in tables:
        tokstats = align_bucketed_write(
            written
            .groupBy("tok", "tok_bucket")
            .agg(F.count("*").alias("df"))
            .withColumn("epoch", F.lit(-1)),
            ["tok_bucket"], ["tok"], tokb, n_buckets=tokb,
        )
        replace_partitions(
            tokstats, roots["tokstats"], ["tok_bucket"], "bulk-load"
        )
    if "stats" in tables:
        # one-row ledger: driver-side commit, no Spark job (guide §1.2)
        replace_rows(
            spark,
            [(-1, int(stats["n_docs"]), int(stats["len_sum"]))],
            "epoch int, n_docs long, len_sum long",
            roots["stats"], ["epoch"], "bulk-load",
        )
    return roots


def _probe_qt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probes' distinct-token queries (pid, tok) — tokenized from
    the QUERY TEXT (the documents rows with doc_id < 10), never read
    back out of the index: at serve time the query arrives with the
    request."""
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 10)
        .select(
            F.col("doc_id").alias("pid"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .distinct()
    )


def _keyword_probe(docs: DataFrame) -> DataFrame:
    """The deterministic 3-keyword probe (pid 0 — the short-query
    serving shape): the three smallest distinct tokens of the docs with
    doc_id < 5, materialized as (pid, tok)."""
    return (
        docs.filter(F.col("doc_id") < 5)
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .orderBy("tok")
        .limit(3)
        .select(F.lit(0).cast("long").alias("pid"), "tok")
        .localCheckpoint()
    )


def _term_range_filter(toks: list[str]):
    """Zone-map predicate over the postings' per-file footer stats:
    keep a file iff ANY query term falls inside its [min_tok, max_tok]
    range (conservative on missing stats).  ``toks`` must be sorted."""
    import bisect

    def f(stats: dict) -> bool:
        rng = stats.get("tok")
        if not rng or rng[0] is None or rng[1] is None:
            return True  # no stats → must read (conservative)
        i = bisect.bisect_left(toks, rng[0])
        return i < len(toks) and toks[i] <= rng[1]

    return f


def _ledger_snapshot(
    spark: SparkSession, roots: dict
) -> tuple[int, float, set[str]]:
    """Read the stats ledger at its current head and return
    ``(N, avglen, ledger_txids)`` — the corpus stats plus the set of
    txids the LEDGER has committed.

    The gate commits postings → forward → ledger as separate table
    commits under one txid; a crash between them leaves a window where
    postings hold an epoch the ledger's N/avglen excludes.  Serving
    therefore pins every other standing-artifact read to the newest
    version consistent with the ledger's txid set
    (``latest_consistent_version``): a txid present in the ledger was
    committed to postings and forward FIRST, so that version exists,
    and logically-neutral ``compact-*`` maintenance commits never block
    the pin."""
    from ..io.acid_table import current_manifest, read_table

    rows = read_table(spark, roots["stats"]).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("len_sum").cast("long").alias("len_sum"),
    ).collect()
    n = sum(int(r["n_docs"]) for r in rows)
    lens = sum(int(r["len_sum"]) for r in rows)
    txids = set(current_manifest(roots["stats"]).get("txids", []))
    if n == 0:
        # A ledger netting to zero docs is reachable: delete corrections
        # cancelling the corpus, or a first gate epoch that accepts
        # nothing (its stats row is appended even when n_accepted is 0).
        # Serving such a corpus returns no scores; avglen 0.0 is inert
        # because no posting row exists to score (ADVICE r13).
        return 0, 0.0, txids
    return n, lens / n, txids


def _ledger_frame(spark: SparkSession, roots: dict) -> tuple[DataFrame, set[str]]:
    """The ledger snapshot as the one-row (n, avglen) frame the served
    score join crosses with, plus the ledger's txids.  Python long/long
    division and Spark's double division of the same ints are the same
    IEEE double."""
    n_docs, avglen, led_txids = _ledger_snapshot(spark, roots)
    led = spark.createDataFrame([(int(n_docs), float(avglen))], "n long, avglen double")
    return led, led_txids


def read_pruned_postings(
    spark: SparkSession, postings_root: str, toks: list[str],
    version: int | None = None,
) -> DataFrame:
    """The serve-side read of a standing postings table for the query
    terms ``toks`` (sorted, driver-side — a serving query is tens of
    terms, KBs of strings), through THREE pruning tiers: token bucket
    at the manifest, per-file tok zone maps (files written
    token-range-sorted), and the pushed isin filter at the row group.
    ONE implementation shared by every served lexical read (BM25/RM3
    serving, the hybrid lexical leg, the chunk pipeline) so the
    pruning contract cannot drift between them.  Returns all columns
    the table holds for the matching rows (callers select/cast).  The
    bucket count comes from the TABLE's persisted layout record — never
    a module constant (VERDICT r13 #1)."""
    from ..io.acid_table import read_table

    tokb = _tok_layout(postings_root)
    allowed = {str(_py_tok_bucket(t, tokb)) for t in toks}
    return read_table(
        spark,
        postings_root,
        partition_filter=lambda kv: kv["tok_bucket"] in allowed,
        version=version,
        stats_filter=_term_range_filter(toks),
    ).filter(F.col("tok").isin(toks))


def _served_scores(
    spark: SparkSession, roots: dict, q: DataFrame, name: str
) -> DataFrame:
    """Per-(probe, doc) BM25 scores for the weighted query ``q``
    (pid, tok, w), READ FROM THE STANDING ARTIFACTS: postings pruned at
    the manifest to the query terms' token buckets, df counted inside
    those buckets, N/avglen summed from the ledger.  The postings read
    is PINNED to the newest version consistent with the ledger's txids
    (``_ledger_snapshot``) so a crash between the gate's postings and
    ledger commits can never serve a torn snapshot.  Scored by the
    in-plan score join, ``textops._bm25_scores``."""
    from ..io.acid_table import latest_consistent_version

    led, led_txids = _ledger_frame(spark, roots)
    pin = latest_consistent_version(roots["postings"], led_txids)
    # One driver round-trip for the query's term set (a serving query is
    # tens of terms, KBs of strings) — it feeds BOTH the pruned read's
    # driver-side bucket/zone-map filters and the pushed isin predicate,
    # so a separate qtoks frame (its checkpoint job + a broadcast join
    # that re-filtered rows the isin already restricted) added two jobs
    # and an exchange for nothing (guide §2.4).
    toks = sorted(r["tok"] for r in q.select("tok").distinct().collect())
    post_q = read_pruned_postings(
        spark, roots["postings"], toks, version=pin
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tok").cast("string").alias("tok"),
        F.col("tf").cast("long").alias("tf"),
        F.col("len").cast("long").alias("len"),
    ).localCheckpoint(eager=False)
    dfreq = post_q.groupBy("tok").agg(F.count("*").alias("df"))
    return _bm25_scores(
        {"tok": post_q, "dfreq": F.broadcast(dfreq), "stats": led}, q, name
    )


def _audit_bucket_pruning(spark: SparkSession, roots: dict, qt: DataFrame) -> None:
    """Serving-read audit: ONE query term's read must touch exactly its
    token's bucket — strictly fewer partitions than the postings table
    holds.  (A whole-document probe can legitimately touch every
    bucket; per-term locality is the property that makes the serving
    cost probe-local, so that is what the audit pins.)"""
    from ..io.acid_table import _part_values, current_manifest

    one_tok = qt.select("tok").orderBy("tok").limit(1).collect()[0]["tok"]
    one_bucket = {str(_py_tok_bucket(one_tok, _tok_layout(roots["postings"])))}
    all_parts = list(current_manifest(roots["postings"])["partitions"])
    one_parts = [
        p for p in all_parts
        if _part_values(p)["tok_bucket"] in one_bucket
    ]
    # Two REACHABLE failure modes: the term's bucket arithmetic drifted
    # between engines/build (≠ 1 partition selected), or the table
    # degenerated to a single partition so bucket pruning is vacuous
    # (e.g. a bucket-count change) — either breaks the probe-local
    # serving claim.
    if len(one_parts) != 1 or len(all_parts) <= 1:
        raise RuntimeError(
            f"token-bucket pruning ineffective: term {one_tok!r} touches "
            f"{len(one_parts)} of {len(all_parts)} partitions"
        )


def _assert_bit_parity(
    served: DataFrame, recomputed: DataFrame, name: str
) -> None:
    """The VERDICT-r11 parity criterion, in-harness: every (pid, id)
    score from the standing artifacts must equal the in-plan recompute
    EXACTLY (integer e9 scores — no tolerance), both directions."""
    bad = (
        served.withColumnRenamed(name, "a")
        .join(recomputed.withColumnRenamed(name, "b"), ["pid", "id"], "full")
        .filter(
            F.col("a").isNull() | F.col("b").isNull() | (F.col("a") != F.col("b"))
        )
    )
    n_bad = bad.count()
    if n_bad:
        raise RuntimeError(
            f"served BM25 diverged from the in-plan recompute on {n_bad} "
            f"(probe, doc) scores"
        )


@register(
    "bm25_topk_served",
    oracle=_BM25_TOPK_SQL,
    tags=("text", "llm", "topk", "rag", "acid"),
    doc=(
        "L34 SERVED: BM25 top-5 per probe read from the STANDING "
        "postings index — manifest-pruned to the query terms' token "
        "buckets (per-term pruning harness-audited), df counted inside "
        "the buckets, N/avglen summed from the ledger; scores "
        "harness-asserted bit-identical to the in-plan recompute, and "
        "the oracle is the unchanged from-scratch SQL, so the driver "
        "hash independently pins served == recomputed."
    ),
)
def bm25_topk_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bm25serve_")
    try:
        roots = _build_standing_index(spark, sf_dir, tmp, tables=("postings", "stats"))
        qt = _probe_qt(spark, sf_dir).localCheckpoint()
        _audit_bucket_pruning(spark, roots, qt)
        sc = _served_scores(
            spark, roots, qt.withColumn("w", F.lit(1.0)), "bm25_e9"
        ).localCheckpoint()
        fr = _bm25_frames(spark, sf_dir)
        _assert_bit_parity(
            sc,
            _bm25_scores(fr, fr["qt"].withColumn("w", F.lit(1.0)), "bm25_e9"),
            "bm25_e9",
        )
        out = _probe_topk(sc, 5, "pid", "bm25_e9", "id").select(
            F.col("pid").alias("probe_id"), F.col("id").alias("doc_id"), "rn", "bm25_e9"
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "bm25_rm3_expansion_served",
    oracle=_BM25_RM3_SQL,
    tags=("text", "llm", "topk", "rag", "acid"),
    doc=(
        "L34b SERVED: RM3 expansion from the standing artifacts — the "
        "base served ranking's top-3 docs per probe nominate expansion "
        "terms read from the FORWARD index (doc-bucket-pruned to ≤ 30 "
        "docs' buckets), and the expanded weighted query re-probes the "
        "postings; both scoring passes bit-parity-asserted against the "
        "in-plan chain, oracle = the unchanged from-scratch SQL."
    ),
)
def bm25_rm3_expansion_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..io.acid_table import latest_consistent_version, read_table

    tmp = tempfile.mkdtemp(prefix="rm3serve_")
    try:
        roots = _build_standing_index(
            spark, sf_dir, tmp, tables=("postings", "forward", "stats")
        )
        qt = _probe_qt(spark, sf_dir).localCheckpoint()
        _audit_bucket_pruning(spark, roots, qt)
        base = _served_scores(
            spark, roots, qt.withColumn("w", F.lit(1.0)), "bm25_e9"
        ).localCheckpoint()
        fb = (
            _probe_topk(base, 3, "pid", "bm25_e9", "id")
            .select("pid", F.col("id").alias("doc_id"))
            .localCheckpoint()
        )
        # FORWARD-INDEX read: the ≤ 30 feedback docs' buckets only,
        # pinned to the ledger-consistent version like the postings read.
        _, _, led_txids = _ledger_snapshot(spark, roots)
        fb_buckets = {
            str(r["b"])
            for r in fb.select(
                F.pmod("doc_id", F.lit(_fwd_layout(roots["forward"]))).alias("b")
            )
            .distinct()
            .collect()
        }
        fwd = read_table(
            spark,
            roots["forward"],
            partition_filter=lambda kv: kv["doc_bucket"] in fb_buckets,
            version=latest_consistent_version(roots["forward"], led_txids),
        ).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("tok").cast("string").alias("tok"),
            F.col("tf").cast("long").alias("tf"),
        )
        q2 = _rm3_query(qt, fb, fwd).localCheckpoint()
        sc2 = _served_scores(spark, roots, q2, "rm3_e9").localCheckpoint()
        # bit-parity vs the in-plan chain for BOTH scoring passes: the
        # base query against the in-plan base scores, and the expanded
        # weighted query (whose terms came off the FORWARD-index read)
        # re-scored through the in-plan statistics — a wrong tf/len/df
        # anywhere in either served read fails loudly here, while the
        # feedback SELECTION itself is pinned by the driver oracle.
        fr = _bm25_frames(spark, sf_dir)
        _assert_bit_parity(
            base,
            _bm25_scores(fr, fr["qt"].withColumn("w", F.lit(1.0)), "bm25_e9"),
            "bm25_e9",
        )
        _assert_bit_parity(sc2, _bm25_scores(fr, q2, "rm3_e9"), "rm3_e9")
        out = _probe_topk(sc2, 5, "pid", "rm3_e9", "id").select(
            F.col("pid").alias("probe_id"), F.col("id").alias("doc_id"), "rn", "rm3_e9"
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# Round 13 (VERDICT r12 missing #2): SORT-RESTORING COMPACTION for the
# standing postings index.  Each gate epoch appends its own generation
# per token bucket, so a keyword probe opens ~files-per-generation PER
# EPOCH — serve cost creeps linearly in epochs (ninth campaign measured
# 16 → 32 of 498 files).  The near-dup signature index already has the
# fix (stream_neardup_index_compaction_audit); this is the same move on
# the lexical index: merge each bucket's generations back into
# token-range-sorted files under a snapshot-guarded ``compact-*``
# maintenance txid (logically a no-op — same rows, tight zone maps),
# which the serving pin deliberately never blocks on
# (``latest_consistent_version``).
# --------------------------------------------------------------------------


def _compaction_oracle() -> str:
    """Dir-ledger replay for ALL THREE standing lexical tables: per
    epoch each table gains one generation dir per touched bucket, the
    compaction collapses each to one dir per live bucket, and row
    counts never change.  postings rows = (doc, tok) pairs; forward
    rows = the same pairs; tokstats rows = one df-delta row per
    (epoch, distinct tok)."""
    return f"""
WITH d AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS MATERIALIZED (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS tok FROM d)
  GROUP BY doc_id, tok
),
p AS MATERIALIZED (
  SELECT doc_id, tok, {_sql_tok_bucket()} AS tb,
         CAST(doc_id % {_FWD_BUCKETS} AS BIGINT) AS fb,
         CAST(doc_id % 3 AS INT) AS e
  FROM tok
),
pe AS (
  SELECT e,
         COUNT(*) AS rows_pf,
         COUNT(DISTINCT tb) AS dirs_t,
         COUNT(DISTINCT fb) AS dirs_f,
         COUNT(DISTINCT tok) AS rows_t
  FROM p GROUP BY e
),
cum AS (
  SELECT e,
         SUM(rows_pf) OVER (ORDER BY e) AS crows_pf,
         SUM(dirs_t) OVER (ORDER BY e) AS cdirs_t,
         SUM(dirs_f) OVER (ORDER BY e) AS cdirs_f,
         SUM(rows_t) OVER (ORDER BY e) AS crows_t
  FROM pe
),
tot AS (
  SELECT COUNT(*) AS rall, COUNT(DISTINCT tb) AS ball,
         COUNT(DISTINCT fb) AS fall
  FROM p
),
ttot AS (SELECT SUM(rows_t) AS tall FROM pe)
SELECT 'postings' AS tbl, CAST(e + 1 AS INT) AS version,
       CAST(cdirs_t AS BIGINT) AS n_dirs, CAST(crows_pf AS BIGINT) AS n_rows
FROM cum
UNION ALL SELECT 'postings', 4, CAST(ball AS BIGINT), CAST(rall AS BIGINT) FROM tot
UNION ALL
SELECT 'forward', CAST(e + 1 AS INT), CAST(cdirs_f AS BIGINT),
       CAST(crows_pf AS BIGINT)
FROM cum
UNION ALL SELECT 'forward', 4, CAST(fall AS BIGINT), CAST(rall AS BIGINT) FROM tot
UNION ALL
SELECT 'tokstats', CAST(e + 1 AS INT), CAST(cdirs_t AS BIGINT),
       CAST(crows_t AS BIGINT)
FROM cum
UNION ALL SELECT 'tokstats', 4, CAST(ball AS BIGINT),
       CAST(tall AS BIGINT) FROM tot, ttot
"""


@register(
    "bm25_index_compaction_audit",
    oracle=_compaction_oracle(),
    tags=("streaming", "text", "llm", "acid", "lakehouse", "real-stream", "rag"),
    doc=(
        "L34/L34d maintenance (extended round 14, VERDICT r13 #4): "
        "sort-restoring compaction of ALL THREE standing lexical tables "
        "— postings, forward index, AND the tokstats vocab sidecar — "
        "after 3 gate epochs append one generation per bucket each.  "
        "Returns the full commit history (tbl, version, n_dirs, "
        "n_rows): dirs accumulate per epoch, collapse to one per live "
        "bucket at each table's compact-* txid, rows never change.  "
        "Harness additionally asserts row checksums per table, a "
        "bit-identical keyword serve AND two-stage long-query serve "
        "across the compaction (the two-stage path reads all three "
        "tables), a reduced files-read count under the rebuilt zone "
        "maps, and txid-replay no-ops.  Oracle = full SQL replay of "
        "the tokenize pass, all three bucket layouts, and the three "
        "dir ledgers."
    ),
)
def bm25_index_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import (
        compact_partitions,
        files_selected,
        latest_consistent_version,
        read_table,
        table_history,
    )
    from .core import write_stream_bm25_index_gate
    from .windows import _ordered_epoch_stream, _run_gate

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="bm25compact_")
    try:
        roots = {
            nm: os.path.join(tmp, nm)
            for nm in ("postings", "forward", "stats", "tokstats")
        }
        sdf = _ordered_epoch_stream(spark, docs, tmp, key="doc_id")
        _run_gate(spark, lambda ck: write_stream_bm25_index_gate(
            sdf, roots["postings"], roots["forward"], roots["stats"],
            checkpoint=ck, tokstats_root=roots["tokstats"],
        ))

        def _chk(root: str, version=None, cols=("doc_id", "tok", "tf", "epoch")):
            df = read_table(spark, root, version=version)
            r = df.agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.sum(F.pmod(F.xxhash64(*cols), F.lit(10**12))),
                    F.lit(0),
                ).alias("h"),
            ).collect()[0]
            return int(r["n"]), int(r["h"])

        ts_cols = ("tok", "df", "epoch")

        def _serve(qk: DataFrame):
            rows = _served_scores(
                spark, roots, qk.withColumn("w", F.lit(1.0)), "bm25_e9"
            ).collect()
            return sorted((int(r["pid"]), int(r["id"]), int(r["bm25_e9"])) for r in rows)

        qk = _keyword_probe(docs)
        toks = sorted(r["tok"] for r in qk.collect())
        # the whole-doc probes: the TWO-STAGE serve reads all three
        # tables (tokstats stage 0, postings stage 1, forward stage 2)
        qt = _probe_qt(spark, sf_dir).localCheckpoint()

        def _ts_serve():
            rows = _two_stage_served(spark, roots, qt).collect()
            return sorted(
                (int(r["pid"]), int(r["id"]), int(r["rn"]), int(r["bm25_e9"]))
                for r in rows
            )

        def _files_read(version=None):
            audit = files_selected(
                roots["postings"], version=version,
                stats_filter=_term_range_filter(toks),
            )
            return sum(1 for v in audit.values() for _, keep in v if keep)

        chk_pre = _chk(roots["postings"])
        fchk_pre = _chk(roots["forward"])
        tchk_pre = _chk(roots["tokstats"], cols=ts_cols)
        serve_pre = _serve(qk)
        ts_pre = _ts_serve()
        files_pre = _files_read()

        # the maintenance pass: snapshot-guarded, logically a no-op on
        # EVERY table of the family (VERDICT r13 #4 — forward and
        # tokstats accumulate one generation per epoch too, and both
        # sit on the two-stage serving path)
        compact_partitions(
            spark, roots["postings"], "compact-postings-1",
            sort_by=["tok"],
        )
        compact_partitions(
            spark, roots["forward"], "compact-forward-1",
            sort_by=["doc_id"],
        )
        compact_partitions(
            spark, roots["tokstats"], "compact-tokstats-1",
            sort_by=["tok"],
        )

        # LOGICAL NO-OP + the serving pin now selects the compacted head
        _, _, led_txids = _ledger_snapshot(spark, roots)
        hists = {
            nm: {
                int(r["version"]): (int(r["n_dirs"]), r["txid"])
                for r in table_history(spark, roots[nm]).collect()
            }
            for nm in ("postings", "forward", "tokstats")
        }
        pin = latest_consistent_version(roots["postings"], led_txids)
        if pin != max(hists["postings"]) or hists["postings"][pin][1] != (
            "compact-postings-1"
        ):
            raise RuntimeError(
                f"serving pin {pin} is not the compacted head "
                f"{max(hists['postings'])}"
            )
        if (
            _chk(roots["postings"]) != chk_pre
            or _chk(roots["forward"]) != fchk_pre
            or _chk(roots["tokstats"], cols=ts_cols) != tchk_pre
        ):
            raise RuntimeError("compaction changed logical rows")
        if _serve(qk) != serve_pre:
            raise RuntimeError("keyword serve drifted across the compaction")
        if _ts_serve() != ts_pre:
            raise RuntimeError("two-stage serve drifted across the compaction")
        files_post = _files_read()
        if files_post > files_pre:
            raise RuntimeError(
                f"compaction worsened zone-map pruning: {files_pre} -> {files_post}"
            )
        # replaying a maintenance txid is an exactly-once no-op
        compact_partitions(
            spark, roots["postings"], "compact-postings-1", sort_by=["tok"]
        )
        compact_partitions(
            spark, roots["tokstats"], "compact-tokstats-1", sort_by=["tok"]
        )
        if (
            table_history(spark, roots["postings"]).count()
            != len(hists["postings"])
            or table_history(spark, roots["tokstats"]).count()
            != len(hists["tokstats"])
        ):
            raise RuntimeError("compaction txid replay created a new version")

        rows = []
        for nm in ("postings", "forward", "tokstats"):
            for v in sorted(hists[nm]):
                # the ledger row needs the COUNT only — the xxhash row
                # checksums are already pinned pre/post-compaction above,
                # so the per-version reads here skip the hash pass
                # (guide §1.2: don't compute things you throw away)
                n = read_table(spark, roots[nm], version=v).count()
                rows.append((nm, v, int(hists[nm][v][0]), int(n)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "tbl string, version int, n_dirs long, n_rows long"
    )


# --------------------------------------------------------------------------
# Round 13 (VERDICT r12 #5): RANK-SAFE TWO-STAGE SERVING for long
# queries.  A whole-document probe (~270 terms) is Θ(matched postings)
# at serve time — 105 s at ov-sf100 (ninth campaign) vs 1.9 s for
# keywords, because common terms' postings dominate.  The WAND-style
# static prefix was measured rank-UNSAFE (retention 0.04–0.56) and
# rejected in r12; this is the rank-safe alternative:
#
#   stage 0  read df for ALL query terms from the standing TOKSTATS
#            vocab table (Θ(vocab) rows, bucket+zone-map pruned — no
#            postings touched);
#   stage 1  CANDIDATE CUT — score only the query's _TS_TERMS rarest
#            terms (df asc = idf desc; the terms that concentrate the
#            BM25 mass) through the normal pruned postings read, and
#            keep the top _TS_OVERFETCH·k docs per probe by partial
#            score;
#   stage 2  EXACT RE-RANK — read the candidates' full term vectors
#            from the FORWARD index (≤ candidates' doc buckets), score
#            every query term with the ledger N/avglen and tokstats df
#            (bit-identical op-sequence to the in-plan chain), and
#            emit the top-k.
#
# Serve cost: Θ(rare-term postings) + Θ(candidates · doc length) —
# independent of the common terms' posting lists.  The ranking is NOT
# guaranteed identical to exact BM25 (a doc scoring purely on common
# terms can be cut), so the retention gate pins the measured trade on
# the driver fixture and the campaign measures it on the 92k-word zipf
# ov fixtures (the honest fixture, per the r12 verdict).
# --------------------------------------------------------------------------

# Operating point measured on the 92k-word zipf ov fixtures (tenth
# campaign, m swept WITH one shared ov-sf100 build): the m dial trades
# candidate recall against the selected terms' summed posting-list
# length — m=32 serves 34 s but retains only 0.80 of the exact top-5
# (the cut misses discriminative medium-df terms); m=64 retains 1.0
# but the 41st-64th rarest terms of a zipf doc drag mid-frequency
# lists in (167 s — slower than exact); m=40 is the knee: retention
# 0.911/0.956/0.911 across ov-sf1/10/100 with the ov-sf100 serve at
# 49 s vs exact's 98 s.  Overfetch is cheap (stage 2 ∝ pool·doclen);
# 10 beats 4 on recall for free.
_TS_TERMS = 40       # rarest query terms entering the candidate cut
_TS_OVERFETCH = 10   # candidate pool = overfetch × k
_TS_K = 5


def _two_stage_ctes() -> str:
    """Oracle CTE chain for the two-stage serve over the in-scope BM25
    core CTEs (tok/dfreq/dl/stats/qt): term selection → partial scores
    → candidate cut → exact re-rank → ``ts_top``.  The re-rank joins
    the candidate pool on (doc, tok), so it keeps its own term join."""
    pool = _TS_OVERFETCH * _TS_K
    return sql_materialize(f"""qsel AS (
  SELECT pid, tok FROM (
    SELECT q.pid, q.tok,
           ROW_NUMBER() OVER (
             PARTITION BY q.pid ORDER BY f.df ASC, q.tok
           ) AS trn
    FROM qt q JOIN dfreq f ON f.tok = q.tok
  ) WHERE trn <= {_TS_TERMS}
),
psc AS ({_sql_bm25_scores("qsel", "p9")}),
tcand AS (
  {_sql_probe_topk("psc", pool, "pid", "p9", "id", "crn", "pid, id")}
),
tm2 AS (
  SELECT q.pid, t.doc_id AS id, {_sql_bm25_term_e9()} AS e9
  FROM qt q
  JOIN tcand c ON c.pid = q.pid
  JOIN tok t ON t.doc_id = c.id AND t.tok = q.tok
  JOIN dfreq f ON f.tok = q.tok
  JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
),
tsc AS (SELECT pid, id, CAST(SUM(e9) AS BIGINT) AS bm25_e9 FROM tm2 GROUP BY pid, id),
ts_top AS (
  {_sql_probe_topk("tsc", _TS_K, "pid", "bm25_e9", "id", cols="pid, id, rn, bm25_e9")}
)""", ("tcand",))


def _query_dfreq(
    spark: SparkSession, roots: dict, toks: list[str], led_txids: set[str]
) -> DataFrame:
    """STAGE 0 of every df-aware serve: per-token corpus df for the
    query terms, summed from the standing TOKSTATS vocab table —
    bucket- and zone-map-pruned to the query's terms, pinned to the
    ledger-consistent snapshot, NO postings bucket touched.  The vocab
    table shares the postings' persisted token-bucket layout
    (``bm25_table_layout``)."""
    from ..io.acid_table import latest_consistent_version, read_table
    from ..io.layout import read_table_config

    ts_tokb = int(read_table_config(roots["tokstats"])["tok_buckets"])
    allowed = {str(_py_tok_bucket(t, ts_tokb)) for t in toks}
    return (
        read_table(
            spark, roots["tokstats"],
            partition_filter=lambda kv: kv["tok_bucket"] in allowed,
            version=latest_consistent_version(roots["tokstats"], led_txids),
            stats_filter=_term_range_filter(toks),
        )
        .filter(F.col("tok").isin(toks))
        .groupBy(F.col("tok").cast("string").alias("tok"))
        .agg(F.sum(F.col("df").cast("long")).alias("df"))
        # a token whose df deltas NET TO ZERO (every holder deleted —
        # propagate_retrieval_delete's negative corrections) is no
        # longer in the corpus: it must not occupy a rarest-term slot
        # in the stage-1 cut, exactly as a from-scratch dfreq omits it
        .filter(F.col("df") > 0)
        .localCheckpoint()
    )


def _two_stage_served(
    spark: SparkSession, roots: dict, qt: DataFrame,
    n_terms: int = _TS_TERMS, overfetch: int = _TS_OVERFETCH,
) -> DataFrame:
    """The two-stage serve against the standing artifacts: returns the
    per-probe top-k (pid, id, rn, bm25_e9).  Every read is pinned to
    the ledger-consistent snapshot."""
    from ..io.acid_table import latest_consistent_version, read_table

    led, led_txids = _ledger_frame(spark, roots)
    # stage 0: df for ALL query terms from the standing vocab table
    toks = sorted(r["tok"] for r in qt.select("tok").distinct().collect())
    dfreq = _query_dfreq(spark, roots, toks, led_txids)
    # stage 1: rarest-terms candidate cut
    w_t = Window.partitionBy("pid").orderBy(F.asc("df"), F.asc("tok"))
    qsel = (
        qt.join(F.broadcast(dfreq), "tok")
        .withColumn("trn", F.row_number().over(w_t))
        .filter(F.col("trn") <= n_terms)
        .select("pid", "tok")
        .localCheckpoint()
    )
    sel_toks = sorted({r["tok"] for r in qsel.collect()})
    pin = latest_consistent_version(roots["postings"], led_txids)
    idx = read_pruned_postings(
        spark, roots["postings"], sel_toks, version=pin
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tok").cast("string").alias("tok"),
        F.col("tf").cast("long").alias("tf"),
        F.col("len").cast("long").alias("len"),
    )
    pm = _bm25_scores(
        {"tok": idx, "dfreq": F.broadcast(dfreq), "stats": led},
        qsel.withColumn("w", F.lit(1.0)),
        "p9",
    )
    cand = (
        _probe_topk(pm, overfetch * _TS_K, "pid", "p9", "id", "crn")
        .select("pid", "id")
        .localCheckpoint()
    )
    # stage 2: exact re-rank off the FORWARD index (len = Σtf per doc);
    # it joins the candidate pool on (doc, tok), not the score join's
    # postings on tok, so it keeps its own term join
    cand_buckets = {
        str(r["b"])
        for r in cand.select(
            F.pmod("id", F.lit(_fwd_layout(roots["forward"]))).alias("b")
        ).distinct().collect()
    }
    fwd = (
        read_table(
            spark, roots["forward"],
            partition_filter=lambda kv: kv["doc_bucket"] in cand_buckets,
            version=latest_consistent_version(roots["forward"], led_txids),
        )
        .select(
            F.col("doc_id").cast("long").alias("id"),
            F.col("tok").cast("string").alias("tok"),
            F.col("tf").cast("long").alias("tf"),
        )
        .join(F.broadcast(cand.select("id").distinct()), "id", "left_semi")
        .localCheckpoint(eager=False)
    )
    dlen = fwd.groupBy("id").agg(F.sum("tf").alias("len"))
    m2 = (
        F.broadcast(cand)
        .join(qt.withColumn("w", F.lit(1.0)), "pid")
        .join(fwd, ["id", "tok"])
        .join(F.broadcast(dfreq), "tok")
        .join(dlen, "id")
        .crossJoin(F.broadcast(led))
        .select("pid", "id", bm25_term_e9_col().alias("e9"))
        .groupBy("pid", "id")
        .agg(F.sum("e9").cast("bigint").alias("bm25_e9"))
    )
    return _probe_topk(m2, _TS_K, "pid", "bm25_e9", "id").select(
        "pid", "id", "rn", "bm25_e9"
    )


def _two_stage_oracle() -> str:
    return f"""{_sql_bm25_core()},
{_two_stage_ctes()}
SELECT pid AS probe_id, id AS doc_id, rn, bm25_e9 FROM ts_top
"""


@register(
    "bm25_longdoc_two_stage_served",
    oracle=_two_stage_oracle(),
    tags=("text", "llm", "topk", "rag", "acid"),
    doc=(
        "L34c (round 13): rank-safe two-stage serving for LONG queries "
        "— the probe's 40 rarest terms (df from the standing tokstats "
        "vocab table, no postings touched) nominate a 10k-overfetched "
        "candidate pool through the pruned postings read, then an "
        "exact re-rank off the forward index scores EVERY query term "
        "with ledger N/avglen.  Serve cost Θ(rare-term postings) + "
        "Θ(candidates·doclen), independent of the common terms' "
        "posting lists.  Oracle = full SQL replay of both stages."
    ),
)
def bm25_longdoc_two_stage_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bm25ts_")
    try:
        roots = _build_standing_index(spark, sf_dir, tmp)
        qt = _probe_qt(spark, sf_dir).localCheckpoint()
        _audit_bucket_pruning(spark, roots, qt)
        out = (
            _two_stage_served(spark, roots, qt)
            .select(
                F.col("pid").alias("probe_id"),
                F.col("id").alias("doc_id"),
                "rn",
                "bm25_e9",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _two_stage_retention_oracle() -> str:
    return f"""{_sql_bm25_core()},
{_two_stage_ctes()},
extop AS (
  {_sql_probe_topk("sc", _TS_K, "pid", "bm25_e9", "id", cols="pid, id")}
)
{_sql_retention("ts_top", "extop")}"""


@register(
    "bm25_two_stage_retention_check",
    oracle=_two_stage_retention_oracle(),
    tags=("text", "llm", "quality-gate", "rag", "acid"),
    doc=(
        "L34c quality gate: retention of the exact BM25 top-5 by the "
        "two-stage serve's top-5 (recall_e4), driver-hash-PINNED — the "
        "candidate cut going rank-unsafe fails the gate.  The harness "
        "additionally hard-fails below 0.9 (the VERDICT-r12 bar the "
        "rejected WAND prefix missed at 0.04–0.56)."
    ),
)
def bm25_two_stage_retention_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bm25tsr_")
    try:
        roots = _build_standing_index(spark, sf_dir, tmp)
        qt = _probe_qt(spark, sf_dir).localCheckpoint()
        fr = _bm25_frames(spark, sf_dir)
        exact = _probe_topk(
            _bm25_scores(fr, fr["qt"].withColumn("w", F.lit(1.0)), "bm25_e9"),
            _TS_K, "pid", "bm25_e9", "id",
        )
        out = _retention(_two_stage_served(spark, roots, qt), exact).localCheckpoint()
        rec = out.collect()[0]
        if int(rec["recall_e4"]) < 9000:
            raise RuntimeError(
                f"two-stage serve went rank-unsafe: retention "
                f"{int(rec['recall_e4']) / 1e4:.4f} < 0.9"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# Round 14 (VERDICT r13 #3): COST-BASED SERVE DISPATCH.  The tenth
# campaign measured the two-stage serve LOSING to exact below ~1M docs
# (11.5 vs 7.0 s at ov-sf1) and winning 2.0x at 5M (49 vs 98 s at
# ov-sf100): exact serve cost is ~ the query's total matched postings
# (Σ df over its terms), while the two-stage pays a near-fixed overhead
# (stage-0 vocab read + 3 extra jobs) plus only the RAREST terms'
# postings.  The dispatcher picks per probe, off nothing but the
# standing artifacts the serve already reads: the stage-0 tokstats df
# (summed per probe = that probe's matched-postings load) against a
# cutoff calibrated from the measured crossover.  Rank safety: the
# exact leg IS exact, and the two-stage leg fires only at loads where
# its retention gate pinned the trade.
# --------------------------------------------------------------------------

# Calibrated from the r14 campaign (BASELINE.md): whole-doc probes
# carry ~0.44M matched postings at ov-sf1 (exact wins) and ~44M at
# ov-sf100 (two-stage wins 2x); the crossover sits between ov-sf10's
# and ov-sf100's loads, and 10M splits it on the measured decades.
_DISPATCH_CUTOFF = 10_000_000


def _dispatched_serve(
    spark: SparkSession, roots: dict, qt: DataFrame, cutoff: int
) -> DataFrame:
    """Per-probe cost-based dispatch between the exact served BM25 and
    the two-stage serve: a probe whose summed term df (its matched-
    postings load, from the stage-0 tokstats read) exceeds ``cutoff``
    takes the two-stage path; the rest take exact.  Returns
    (pid, id, rn, bm25_e9, leg)."""
    toks = sorted(r["tok"] for r in qt.select("tok").distinct().collect())
    _, _, led_txids = _ledger_snapshot(spark, roots)
    dfreq = _query_dfreq(spark, roots, toks, led_txids)
    load = {
        int(r["pid"]): int(r["sdf"])
        for r in qt.join(F.broadcast(dfreq), "tok")
        .groupBy("pid")
        .agg(F.sum("df").alias("sdf"))
        .collect()
    }
    ts_pids = sorted(p for p, sdf in load.items() if sdf > cutoff)
    ex_pids = sorted(p for p in load if p not in set(ts_pids))
    parts = []
    if ex_pids:
        sc = _served_scores(
            spark, roots,
            qt.filter(F.col("pid").isin(ex_pids)).withColumn("w", F.lit(1.0)),
            "bm25_e9",
        )
        parts.append(
            _probe_topk(sc, _TS_K, "pid", "bm25_e9", "id").withColumn(
                "leg", F.lit("exact")
            )
        )
    if ts_pids:
        parts.append(
            _two_stage_served(
                spark, roots, qt.filter(F.col("pid").isin(ts_pids))
            ).withColumn("leg", F.lit("two_stage"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _dispatch_oracle() -> str:
    return f"""{_sql_bm25_core()},
{_two_stage_ctes()},
qload AS (
  SELECT q.pid, CAST(SUM(f.df) AS BIGINT) AS sdf
  FROM (SELECT DISTINCT pid, tok FROM qt) q
  JOIN dfreq f ON f.tok = q.tok
  GROUP BY q.pid
),
extop AS (
  {_sql_probe_topk("sc", _TS_K, "pid", "bm25_e9", "id", cols="pid, id, rn, bm25_e9")}
),
dials AS (SELECT * FROM (VALUES (0), ({_DISPATCH_CUTOFF})) AS d(dial)),
pick AS (
  SELECT d.dial, l.pid,
         CASE WHEN l.sdf > d.dial THEN 'two_stage' ELSE 'exact' END AS leg
  FROM dials d CROSS JOIN qload l
)
SELECT p.dial AS dial, p.pid AS probe_id, e.id AS doc_id,
       CAST(e.rn AS INT) AS rn, e.bm25_e9, p.leg
FROM pick p JOIN extop e ON e.pid = p.pid AND p.leg = 'exact'
UNION ALL
SELECT p.dial, p.pid, t.id, CAST(t.rn AS INT), t.bm25_e9, p.leg
FROM pick p JOIN ts_top t ON t.pid = p.pid AND p.leg = 'two_stage'
"""


@register(
    "bm25_serve_dispatch",
    oracle=_dispatch_oracle(),
    tags=("text", "llm", "topk", "rag", "acid"),
    doc=(
        "L34e (round 14): cost-based dispatch between the exact served "
        "BM25 and the two-stage serve — each probe's matched-postings "
        "load (summed term df from the stage-0 tokstats read) is "
        "compared against the campaign-calibrated cutoff; heavy probes "
        "take the two-stage path, light ones exact.  The query runs "
        "the dispatcher at TWO dials — the production cutoff and 0 "
        "(forcing every probe onto the two-stage leg) — so the driver "
        "hash pins the load computation, the decision rule, AND both "
        "serve legs.  Oracle = full SQL replay of both dials."
    ),
)
def bm25_serve_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bm25disp_")
    try:
        roots = _build_standing_index(spark, sf_dir, tmp)
        qt = _probe_qt(spark, sf_dir).localCheckpoint()
        parts = []
        for dial in (0, _DISPATCH_CUTOFF):
            served = _dispatched_serve(spark, roots, qt, cutoff=dial)
            parts.append(served.withColumn("dial", F.lit(dial)))
        out = parts[0].unionByName(parts[1])
        # at driver scales every probe's load sits far below the
        # production cutoff — the dial=cutoff pass must be all-exact and
        # the dial=0 pass all-two-stage, or the load computation drifted
        legs = {
            (int(r["dial"]), r["leg"])
            for r in out.select("dial", "leg").distinct().collect()
        }
        if legs != {(0, "two_stage"), (_DISPATCH_CUTOFF, "exact")}:
            raise RuntimeError(f"dispatch legs drifted: {sorted(legs)}")
        out = out.select(
            "dial",
            F.col("pid").alias("probe_id"),
            F.col("id").alias("doc_id"),
            F.col("rn").cast("int").alias("rn"),
            "bm25_e9",
            "leg",
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
