"""The benchmark's workloads: which registry queries each one runs.

Every name in ``queries.QUERIES`` belongs to exactly one workload, either in
its ``queries`` (measured on every run) or in its ``left_out`` (assigned to
the workload but not run, because one run of the whole set does not fit the
benchmark's time budget). The run sets keep one query for each layer the
workload is meant to stress where one fits: ``sketch_merge_suite`` reaches
the Bloom filters, ``sampling_split_suite`` the samplers,
``dedup_cluster_canonical`` connected components, ``mm_pipeline`` the
multimodal decoders and ``join_membership_suite`` the global row
numbering. The corpus store and the k-means clustering do not fit: the only
query that writes the store, ``corpus_store_suite``, costs 22-33 s a run
(a 16-23 s warm run and a 5-8 s timed one), and the cheapest clustering
query about 10 s.
``test_workloads.py`` enforces the partition.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    left_out: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "marts",
            "many short analyst queries, where driver plan construction and per-job scheduling are most of the wall time",
            (
                "q1_pricing_summary",
                "rank_suite",
                "duplicate_key_detector",
                "join_membership_suite",
                "temporal_join_suite",
                "fx_text_suite",
                "merge_strategies",
                "sessionization",
                "skew_salted_agg",
                "dbt_dim_games_suite",
                "dbt_fact_reviews",
                "dbt_quality_report",
            ),
            left_out=(
                "filter_suite",
                "dim_star_denorm",
                "quality_metrics_fanout",
                "window_suite",
                "crawl_state_registry",
                "time_filter_suite",
                "set_ops_suite",
                "fx_price_suite",
                "fx_time_suite",
                "quality_suite",
                "dbt_game_quality_metrics",
            ),
        ),
        Workload(
            "corpus",
            "read-side LLM-corpus operators: dedup, ANN, text statistics, PII, sampling and multimodal decoding, with Python UDFs, shuffles and jobs run during build",
            (
                "dedup_exact_docs",
                "sketch_merge_suite",
                "ann_exact_suite",
                "text_repetition_docs",
                "sampling_split_suite",
                "dedup_cluster_canonical",
                "text_pii_redaction",
                "mm_pipeline",
            ),
            left_out=(
                "dedup_ngram_jaccard_docs",
                "dedup_minhash_lsh_docs",
                "dedup_simhash_docs",
                "dedup_corpus_lines",
                "ann_lsh_suite",
                "ann_ivf_topk",
                "dedup_embedding_cosine",
                "text_profile_docs",
                "dedup_cross_corpus",
                "corpus_pipeline_e2e",
            ),
        ),
        Workload(
            "ingest",
            "the write path: a checkpointed foreachBatch upsert stream, CDC, Kafka frames and source readers",
            (
                "streaming_review_upsert",
                "cdc_suite",
                "kafka_frame_roundtrip",
                "src_csv_suite",
                "src_json_corrupt_recovery",
                "rest_fetch_appdetails",
            ),
            left_out=(
                "streaming_state_suite",
                "streaming_windowed_stats",
                "corpus_store_suite",
            ),
        ),
    )
}
