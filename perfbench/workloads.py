"""The benchmark's workloads: fixed, named sequences of registry steps.

Each step is a key of ``__spark_entry__.queries()``; a pass runs the steps
in the order listed here, never in registry order. ``scale`` multiplies the
sf0.01 row counts of the generated tables, and ``tables`` names the tables
the steps read (their rows and bytes are the workload's input size).

Two workloads, so that every optimization has one workload that exercises
it and one that bypasses it: ``analytics`` has no Python boundary and few
jobs per step; ``curation_stateful`` crosses the Arrow/Python boundary and
is bound by per-job scheduling, eager pins, checkpoints and state writes.
Each pass is long (about 10 s on 4 cores) because run-to-run noise of the
JVM falls with the amount of distinct work a run measures.
"""

from __future__ import annotations

WORKLOADS = {
    "analytics": {
        "why": (
            "functions and operators: windows, jalali, sessions, funnel, "
            "retention, joins, quantiles, profile; no Python boundary, few "
            "jobs per step"
        ),
        "scale": 3.0,
        "tables": ["customer", "events", "lineitem", "orders"],
        "steps": [
            "percent_by_returnflag",
            "cumulative_revenue_by_shipdate",
            "moving_average_revenue",
            "median_acctbal_by_segment",
            "jalali_orders_by_month",
            "session_count_by_user",
            "funnel_counts_events",
            "retention_weekly_events",
            "asof_last_purchase",
            "range_join_error_clicks",
            "salted_join_revenue",
            "quantiles_events",
            "profile_orders",
        ],
    },
    "curation_stateful": {
        "why": (
            "llm curation over planted near-duplicates (Arrow/Python boundary, "
            "hash and vector expressions) plus incremental, streaming-sink and "
            "iterative graph steps bound by per-job scheduling"
        ),
        "scale": 1.0,
        "tables": ["documents", "embeddings", "events", "lineitem", "orders"],
        "steps": [
            "text_clean_documents",
            "pii_scrub_documents",
            "minhash_pairs_documents",
            "cosine_topk",
            "cdc_chunks_documents",
            "bpe_encode_documents",
            "incremental_exact_batches",
            "cms_sink_stream_batch",
            "label_propagation_purchases",
        ],
    },
}
