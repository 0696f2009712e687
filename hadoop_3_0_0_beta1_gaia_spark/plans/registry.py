"""Registry of inventory queries.

Every operator from SURVEY §2 that we claim as implemented is declared here as
an ``InventoryEntry``: a Spark builder ``(spark, sf_dir) -> DataFrame`` plus,
where SQL-expressible, an equivalent DuckDB oracle SQL string. The driver runs
both sides at sf=0.01 and hash-compares (order-insensitive, columns sorted by
name) — so every computed column is aliased identically on both sides and
floating-point aggregates are rounded identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class InventoryEntry:
    name: str
    build: SparkBuilder
    oracle: str | None  # DuckDB SQL over pre-registered views; None => rows-only check
    ref: str  # reference file:line citation (SURVEY §2)


_REGISTRY: dict[str, InventoryEntry] = {}


def register(name: str, oracle: str | None = None, ref: str = ""):
    """Decorator: add a Spark builder to the inventory."""

    def deco(fn: SparkBuilder) -> SparkBuilder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate inventory entry {name!r}")
        _REGISTRY[name] = InventoryEntry(name, fn, oracle, ref)
        return fn

    return deco


# The driver's CORRECTNESS check covers the first 50 entries; history in NOTES.md.
_WINDOW: list[str] = [
    # anchors (driver-green r1-r10)
    "q1_pricing_summary",
    "join_inner_nway",
    # one representative per 100 TB capped config
    "dedup_minhash_lsh_capped",
    "dedup_ngram_jaccard_capped",
    "dedup_simhash64_hamming_capped",
    "dedup_components_capped",
    # first contact: round-11 additions (IVF-pruned bitext mining twin;
    # geometric-mechanism DP count release; JL projection recall gate;
    # broadcast cross-side near-dup decontamination; decayed trending)
    "bitext_margin_mining_capped",
    "dp_count_release",
    "jl_projection_recall",
    "decontaminate_near_dup",
    "trending_decay_topk",
    # changed-semantics / changed-plan re-validation (round 11)
    "k_anonymity_release",
    "prf_rm3_search",
    "hybrid_rrf_search",
    "set_except",
    # recency cohort: last driver green r4 (34 alphabetically-first + the
    # decode-path-changed video_frames_sample)
    "asof_tolerance_purchase",
    "bloom_filter_probe",
    "bm25_search_topk",
    "cdc_upsert_orders",
    "copurchase_pagerank",
    "corpus_filter_pipeline",
    "corpus_global_shuffle",
    "corpus_split_assign",
    "customer_rfm_segments",
    "decontaminate_eval_overlap",
    "dedup_containment",
    "dedup_incremental_exact",
    "dedup_incremental_minhash",
    "dedup_simhash_hamming",
    "doc_chunk_tokens",
    "doc_repetition",
    "domain_quota_filter",
    "dsir_importance_select",
    "embed_quantize_int8",
    "events_daily_gapfill",
    "fuzzy_match_customers",
    "hll_rollup_grains",
    "image_decode_roundtrip",
    "incremental_agg_maintenance",
    "ivf_topk_multiprobe",
    "jpeg_decode_blocks",
    "kmeans_lloyd_refine",
    "knn_filtered_topk",
    "large_volume_customers",
    "lsh_recall_vs_exact",
    "mix_domain_weights",
    "orc_roundtrip_scan",
    "pq_topk_search_adc",
    "price_qty_corr_by_flag",
    "video_frames_sample",
]


def all_entries() -> dict[str, InventoryEntry]:
    # Import query modules lazily so registration happens on first use.
    from . import (  # noqa: F401
        dedup_sim,
        index_sketch,
        llm_quality,
        media_stream,
        mrops,
        relational,
        subquery,
        textops,
        tpch_rest,
        tpch_shapes,
    )

    ordered: dict[str, InventoryEntry] = {}
    for name in _WINDOW:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, entry in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = entry
    return ordered


def queries() -> dict[str, SparkBuilder]:
    return {name: e.build for name, e in all_entries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in all_entries().items() if e.oracle}
