"""Aggregated query registry for the driver contract (__spark_entry__).

Every entry pairs a Spark DataFrame implementation with a DuckDB-runnable
ANSI-SQL oracle (or None for genuinely non-SQL-expressible operators, which
get the driver's weaker rows-only check)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The `__spark_entry__` correctness gate samples the FIRST 50 entries:
# `_PRIORITY` names come first, in order, then the rest in module order;
# keep never-checked and just-changed queries at its head (CHANGES.md).
_PRIORITY: tuple[str, ...] = (
    # (a) never-driver-checked residue, r01-r05
    "rel_market_share", "rel_product_profit", "rel_part_supplier_counts",
    "rel_dominant_suppliers", "rel_event_transitions", "rel_twap",
    "rel_interval_coverage", "rel_json_props", "rel_range_join",
    "rel_gapfill_locf", "rel_moments_corr", "rel_local_supplier_volume",
    "rel_skew_salted_join", "rel_large_orders", "rel_priority_class",
    "rel_order_count_hist", "mm_audio_fingerprint", "mm_media_dedup",
    "cur_universe_sample", "cur_keep_best", "cur_score_normalize",
    "cur_url_dedup", "stream_static_enrich", "rel_min_price_supplier",
    "rel_region_trade",
    # (b) re-certification of code paths changed in round 6
    "pipe_extract_orc_roundtrip", "pipe_extract_jsonl_roundtrip",
    "pipe_extract_csv_roundtrip", "stream_late_data",
    "stream_session_window", "stream_join_attribution",
    "dedup_lsh_recall", "dedup_prefix_jaccard", "ta_containment",
    "dedup_semantic", "dedup_embedding_cosine",
    "ann_lsh_topk", "ann_filtered_topk",
    "pipe_extract_catalyst", "pipe_extract_arrow", "pipe_extract_skew",
    "pipe_extract_ocr_fast",
    "ext_glyph_clean",
    "dedup_minhash_lsh", "dedup_embedding_cosine_lsh",
    "ann_bruteforce_topk", "ta_quality", "rel_pricing_summary",
    "cur_fuzzy_decontaminate", "cur_corpus_build",
    # ---- 50-slot window boundary ----
)


def all_queries() -> dict[str, tuple[QueryFn, str | None]]:
    # imports fail LOUDLY: a broken operator module must surface as a
    # driver error, not silently shrink the query surface
    import importlib

    from . import extraction_ops
    raw: dict[str, tuple[QueryFn, str | None]] = {}
    raw.update(extraction_ops.QUERIES)
    for mod_name in ("dedup", "ann", "text_analysis", "relational",
                     "multimodal", "pipeline_ops", "curation", "stream_ops"):
        mod = importlib.import_module(f".{mod_name}", __package__)
        raw.update(mod.QUERIES)
    missing = [n for n in _PRIORITY if n not in raw]
    if missing:  # a renamed/removed query must fail loudly, not silently
        raise KeyError(f"_PRIORITY names not in registry: {missing}")
    out: dict[str, tuple[QueryFn, str | None]] = {
        n: raw[n] for n in _PRIORITY}
    out.update((n, q) for n, q in raw.items() if n not in out)
    return out
