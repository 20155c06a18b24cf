"""Query registry: every operator as (Spark DataFrame fn, DuckDB oracle SQL).

Definitions live in the domain modules under ``westa_ocr_spark/queries/``
(reference ops, text analysis, dedup, similarity, TPC-H, extended
analytics, streaming, multimodal); this module is ONLY the assembler.
``MANIFEST`` is the single ordered list the grading driver reads
top-down — the driver's correctness sweep covers the first 50 entries
of ``queries()`` in insertion order, so the manifest is load-bearing.

Float discipline (so order-insensitive hashing can't be broken by
summation order):
* sums of money/rates go through DECIMAL (exact, order-independent),
  then cast to double and round;
* sums of whole-number doubles (quantities, counts) are exact in
  binary64 regardless of order;
* per-row double arithmetic (cosine, ratios) is identical expression
  trees on both sides, rounded to 6 dp.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from westa_ocr_spark.queries import (
    analytics_q,
    dedup_q,
    multimodal_q,
    reference_ops,
    similarity_q,
    streaming_q,
    text_q,
    tpch_q,
)

_DEFS: dict[str, tuple[Callable, str | None]] = {}
for _mod in (
    reference_ops, text_q, dedup_q, similarity_q, tpch_q,
    analytics_q, streaming_q, multimodal_q,
):
    for _name, _entry in _mod.DEFS.items():
        if _name in _DEFS:  # pragma: no cover - assembly guard
            raise ValueError(f"duplicate query name across modules: {_name}")
        _DEFS[_name] = _entry


# The order of queries(): the driver's correctness window is
# MANIFEST[:50], top-down. The guards below hold MANIFEST to exactly
# the names the query modules define, each once; a query added to a
# module must be placed here too.
MANIFEST: list[str] = [
    "charset_extract",
    "extract_pages_job",
    "warc_ingest",
    "simhash64",
    "media_features",
    "dedup_incremental",
    "stream_stream_join",
    "split_pdf_payloads",
    "duplicated_spans",
    "curation_pipeline",
    "host_pagerank",
    "rollup_counts",
    "pivot_event_types",
    "set_ops",
    "simhash16",
    "embedding_topk",
    "lsh_topk",
    "ivf_topk",
    "deterministic_sample",
    "top_terms",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q10",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q22",
    "asof_join",
    "range_join",
    "value_quantiles",
    "group_zscore",
    "running_range_window",
    "duplicate_groups",
    "dedup_keep_canonical",
    "line_dedup",
    "exact_dedup",
    "minhash_signatures",
    "ngram_jaccard",
    "gopher_quality",
    "pii_redaction",
    "decontamination",
    "lang_id",
    "quality_scores",
    "parse_pages",
    # ======================= driver window boundary ==================
    "stratified_sample",
    "embedding_dup_pairs",
    "lsh_dup_candidates",
    "embedding_dup_pairs_lsh",
    "stream_windowed_counts",
    "stream_session_windows",
    "stream_first_seen",
    "hypertable_rollup",
    "cms_estimates",
    "frame_sampling",
    "split_pages_udtf",
    "audio_features",
    "merge_upsert",
    "domain_stats",
    "tpch_q12",
    "sequence_packing",
    "url_normalize",
    "sequence_packing_strict",
    "tpch_q2",
    "tpch_q9",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    "tpch_q21",
    "bm25_search",
    "parse_details",
    "tpch_q1",
    "tpch_q3",
    "embedding_knn",
    "sessionize",
    "filter_pending",
    "filter_errors",
    "filter_nonempty",
    "filter_min_columns",
    "project_rename",
    "join_assembly",
    "join_broadcast",
    "resume_anti_join",
    "semi_join",
    "manifest_counters",
    "count_totals",
    "status_rollup",
    "page_numbering",
    "recent_topk",
    "ring_buffer_topk",
    "pagination_count",
    "regex_header_extract",
    "split_pages_explode",
    "csv_detail_parse",
    "token_mask",
    "ts_format",
    "deterministic_ids",
    "props_extract",
    "token_counts",
    "fingerprints",
    "drive_id_normalize",
    "prompt_assembly",
    "base64_roundtrip",
]

if set(MANIFEST) != set(_DEFS):  # pragma: no cover - assembly guard
    raise ValueError(
        "MANIFEST drift: missing="
        f"{sorted(set(_DEFS) - set(MANIFEST))} "
        f"stale={sorted(set(MANIFEST) - set(_DEFS))}"
    )
if len(MANIFEST) != len(set(MANIFEST)):  # pragma: no cover
    raise ValueError("MANIFEST has duplicate names")

QUERIES: dict[str, tuple[Callable, str | None]] = {
    name: _DEFS[name] for name in MANIFEST
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_, sql) in QUERIES.items() if sql is not None
    }
