"""Query registry — the engine's public query surface.

Every operator from SURVEY.md §2 lands here as a named query: a pure
function ``(SparkSession, sf_dir) -> DataFrame`` plus (when expressible)
an ANSI-SQL oracle string that DuckDB runs on the same parquet tables.
``__spark_entry__.py`` re-exports this registry to the driver.

Contract notes (SURVEY.md §5.2):
- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name before hashing);
- float aggregates are rounded *inside both* query and oracle so the
  order-insensitive value hash is stable across engines;
- temporal outputs are emitted as strings (``yyyy-MM-dd ...``) in both
  engines to dodge timestamp-representation mismatches.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import.
_QUERY_MODULES = (
    "data_engineer_coder_spark.operators.relational",
    "data_engineer_coder_spark.operators.joins",
    "data_engineer_coder_spark.operators.aggregates",
    "data_engineer_coder_spark.operators.windows",
    "data_engineer_coder_spark.operators.setops",
    "data_engineer_coder_spark.operators.scalar_functions",
    "data_engineer_coder_spark.operators.airquality",
    "data_engineer_coder_spark.operators.misc",
    "data_engineer_coder_spark.operators.udfs",
    "data_engineer_coder_spark.operators.analytics",
    "data_engineer_coder_spark.operators.multijoin",
    "data_engineer_coder_spark.operators.tpch_extra",
    "data_engineer_coder_spark.operators.dedup",
    "data_engineer_coder_spark.operators.graph",
    "data_engineer_coder_spark.operators.similarity",
    "data_engineer_coder_spark.operators.retrieval_served",
    "data_engineer_coder_spark.operators.retrieval_delete",
    "data_engineer_coder_spark.operators.textops",
    "data_engineer_coder_spark.operators.multimodal",
    "data_engineer_coder_spark.operators.sampling",
    "data_engineer_coder_spark.operators.packing",
    "data_engineer_coder_spark.operators.fileformats",
    "data_engineer_coder_spark.operators.pipelines",
    "data_engineer_coder_spark.operators.cdc",
    "data_engineer_coder_spark.sources.custom",
    "data_engineer_coder_spark.streaming.windows",
    "data_engineer_coder_spark.streaming.curation",
    "data_engineer_coder_spark.streaming.ann_ingest",
    "data_engineer_coder_spark.streaming.bm25_ingest",
    "data_engineer_coder_spark.streaming.stateful",
    "data_engineer_coder_spark.streaming.joins",
)

_loaded = False

# Names whose implementation or oracle changed AFTER the driver recorded a
# row for them: always re-checked first, regardless of recorded status.
# Prune when the post-change round records a fresh green row.
_FORCE_RECHECK: tuple[str, ...] = (
    # (round-13 cohort — rag_chunk_pipeline rank-normalization + the
    # nprobe=12 served re-pin — pruned: all 5 re-proven green in
    # CORRECTNESS_r13.  Round-14 cohort — compaction/delete audits,
    # two-stage serves, layout-from-metadata serves, adaptive nprobe —
    # pruned: all 10 re-proven green in CORRECTNESS_r14 and r15.)
    # round 16: every ingest-gate drill now runs through one gate runner
    # (shuffle-partition conf scope, loud timeout, checkpoint cleanup),
    # and the gates share one contaminated-id probe, one fused epoch
    # stats job, one eval-index build and one epoch-membership guard.
    # Round 17: every ACID sink commits through one epoch transaction
    # (pinned reads, aligned appends, ledgers last).
    "stream_rollup_matview",
    "stream_neardup_ingest",
    "stream_neardup_ingest_capped",
    "stream_neardup_ingest_cms",
    "stream_neardup_probe_prune_audit",
    "stream_neardup_index_compaction_audit",
    "stream_decontaminate_ingest",
    "stream_ann_index_ingest",
    "stream_bm25_index_ingest",
    "bm25_index_compaction_audit",
    "stream_curation_ingest",
    "stream_curation_searchable",
    "retrieval_lifecycle_audit",
    # round 16: run_to_memory scopes its shuffle partitions through the
    # shared conf scope and deletes its checkpoint.
    "streaming_tumbling_events",
    "stream_dedup_within_watermark",
    "stream_trending_topk",
    "streaming_user_counters",
    "streaming_sequence_packing",
    "stream_stream_join",
    "stream_stream_left_outer_join",
    "stream_static_enrich",
    # round 18: the near-dup SQL replay is one set of CTE fragments in
    # operators/dedup.py, and the batch MinHash prep reuses the shared
    # shingle-hash and signature helpers.
    "minhash_lsh_neardup",
    "dedup_clusters_minhash",
    "minhash_estimate_audit",
    "minhash_lsh_recall_check",
    "quality_dup_interaction",
    # round 19: the ANN probe (quantized cosine, probe-cell ranking,
    # bucket-pruned cell read, exact re-rank) is written once per engine
    # in operators/similarity.py; the served oracles derive nprobe from
    # their centroid count; the exact-Jaccard chain is one fragment.
    # (minhash_lsh_recall_check, retrieval_lifecycle_audit,
    # stream_ann_index_ingest and stream_curation_searchable are listed
    # above.)
    "ann_index_bucket_probe",
    "ann_lsh_multiprobe_topk",
    "ann_lsh_topk",
    "contrastive_pair_mining",
    "cosine_topk",
    "csls_bitext_mining",
    "embedding_neardup",
    "hybrid_recall_check",
    "hybrid_rrf_retrieval",
    "hybrid_rrf_retrieval_served",
    "hybrid_served_recall_check",
    "ivf_ann_topk",
    "ivf_index_upsert_audit",
    "ivf_kmeans_topk",
    "mmr_diversified_topk",
    "mmr_diversified_topk_served",
    "mmr_diversity_check",
    "mutual_knn_clusters",
    "pq_ann_rerank_topk",
    "rag_chunk_pipeline",
    "rag_context_pack",
    "retrieval_index_delete_audit",
    "retrieval_rank_metrics",
    "retrieval_rank_metrics_served",
    "semdedup_greedy_keep_first",
    "semdedup_prune",
    "ngram_jaccard_pairs",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_clusters_bigstar",
    "cluster_aware_split",
    "neardup_triangles",
    "neardup_jaccard_histogram",
    # carried over from VERDICT r15
    "embedding_covariance_topk",
    # round 20: every word window (n-grams, 8-word segments, exact-substring
    # spans, RAG chunks) is cut by one helper per engine in
    # operators/textops.py, and the eval 8-gram probe is one SQL fragment.
    # Changed: these oracle strings and Spark plans (the bigram, trigram,
    # segment and chunk transforms, plus the short-doc guard that
    # dedup._shingles now carries).  The other changed oracles (the MinHash
    # and Jaccard chains through _SH_CTE, the gate and curation replays,
    # rag_chunk_pipeline) are listed above.
    "boilerplate_ngram_density",
    "containment_decontaminate",
    "containment_sketch_audit",
    "curation_funnel_v2",
    "decontaminate_overlap",
    "doc_chunk_windows",
    "doc_dup_ngram_coverage",
    "exact_substring_dedup",
    "exact_substring_dedup_rewrite",
    "ngram_decontaminate",
    "pretraining_corpus_build",
    "repetition_ratio",
    "segment_dedup_keep_first",
    "segment_dedup_report",
    "source_overlap_matrix",
    # round 21: every io/acid_table.py write verb stages through one tail
    # and publishes through one manifest writer, and merge_into is one
    # body; exact_substring_dedup_rewrite (listed above) lost its
    # redundant short-doc filter.
    "acid_compaction_audit",
    "acid_merge_upsert_audit",
    "acid_delete_audit",
    "acid_partition_move_audit",
    "ann_index_retrain_swap_audit",
    # round 22: the hybrid retrieval family (per-probe rank, vector leg,
    # lexical leg, RRF fuse, retention aggregate) is written once per
    # engine in operators/similarity.py, and the Spark ground truth ranks
    # only embeddings that have a document, as the oracles do.  The eight
    # hybrid queries and the probe searches whose oracle now ends in the
    # widened _sql_probe_topk (cosine_topk, ann_lsh_topk,
    # ann_lsh_multiprobe_topk, ivf_ann_topk, ivf_kmeans_topk,
    # pq_ann_rerank_topk) are all listed in the round-19 cohort above.
    # round 23: the BM25 chain (corpus statistics, score join, RM3
    # expansion, per-probe rank) is written once per engine in
    # operators/textops.py, and each served query's oracle is its batch
    # query's string.  (retrieval_index_delete_audit,
    # retrieval_lifecycle_audit and stream_curation_searchable are listed
    # above.)
    "bm25_topk",
    "bm25_rm3_expansion",
    "bm25_topk_served",
    "bm25_rm3_expansion_served",
    "bm25_longdoc_two_stage_served",
    "bm25_two_stage_retention_check",
    "bm25_serve_dispatch",
    # round 24: no scan infers its schema.  ACID reads and compaction take
    # the manifest's schema of record (the add-column union of every
    # commit), fixture reads and stream sources reuse the schema inferred
    # once, the served BM25 builds stage only the tables they read, and
    # the capped near-dup oracle materializes its exclusion CTEs in exact
    # mode too.  Every query that reads an ACID table not listed above:
    "acid_change_data_feed",
    "acid_table_history",
    "acid_zone_map_skipping",
    "cdf_incremental_rollup",
    "pq_ann_recall_check",
    "pq_ann_topk",
    "pq_codebook_drift_audit",
)

# (The round-3/4 _CHECK_FIRST backlog queue is gone: every registered query
# now has a green CORRECTNESS row, so the never-checked tier is empty except
# for genuinely new queries, which sort ahead automatically.)


def _driver_checked(root: str | None = None) -> dict[str, int]:
    """name → last round whose CORRECTNESS_r*.json recorded a *green* row.

    Green means the value hash actually matched (``hash_match`` true) — a
    row that ran but mismatched must NOT retire the query from the check
    prefix, or a known-failing query would be hidden from every future
    round; such names map to ``-1`` (reached but never green).  Rows with
    ``err == "no_oracle"`` are rows-only by design (approximate/stateful):
    the driver can never hash-match them, so they count as green rather
    than permanently occupying prefix slots.

    The round number drives the staleness rotation in ``_check_order``.
    """
    import glob
    import json
    import os
    import re

    repo_root = root or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = row.get("hash_match") is True or row.get("err") == "no_oracle"
            if ok:
                seen[name] = max(seen.get(name, -1), rnd)
            else:
                seen.setdefault(name, -1)
    return seen


def _check_order(names: list[str]) -> list[str]:
    """Order queries for the external driver's 50-slot correctness prefix.

    Tiers (earlier = checked sooner):
      0. _FORCE_RECHECK — implementation/oracle changed after its last green
         row, so that row is stale; always re-verify first.
      1. never reached by any driver gate (new queries).
      2. reached but never green (must stay visible until a green lands).
      3. green — STALENESS ROTATION: oldest last-green round first, so with
         313 queries and a 50-slot gate every query gets re-proven roughly
         every 7 rounds even with zero manual curation.  Ties (same round)
         break by registration order, which interleaves modules.
    """
    force = {n: i for i, n in enumerate(_FORCE_RECHECK)}
    reg = {n: i for i, n in enumerate(names)}
    seen = _driver_checked()

    def key(n: str):
        if n in force:
            return (0, 0, force[n])  # changed post-green — always re-verify
        if n not in seen:
            return (1, 0, reg[n])  # never reached by the driver gate
        if seen[n] < 0:
            return (2, 0, reg[n])  # reached but errored — needs a fresh row
        return (3, seen[n], reg[n])  # green: oldest round first

    return sorted(names, key=key)


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tuple(tags), doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _loaded = True


def all_queries() -> dict[str, QuerySpec]:
    load_all()
    return {name: _REGISTRY[name] for name in _check_order(list(_REGISTRY))}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items() if spec.oracle}
