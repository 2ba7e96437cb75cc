"""The benchmark's workloads: which keys run, on which corpus, and why.

Every key of a workload runs once per pass, one after another, in an order
the run seed permutes.  ``corpus`` names a directory built by corpus.py.
"""

from __future__ import annotations

WORKLOADS = {
    "sql_x10": {
        "corpus": "x10",
        "why": "data-bound operators/catalog/functions work on a 10x "
        "FK-preserving replica; query build is a small share of the pass",
        "keys": (
            "q_agg_pricing_summary",
            "q_join_star_multiway",
            "q_seq_user_signature",
            "q_fingerprint_by_month",
            "q_str_split_explode",
            "q_rep_bigram_census",
        ),
    },
    "ml_stream": {
        "corpus": "base",
        "why": "overhead-bound ml and streaming work: eager jobs while a query "
        "builds, micro-batch triggers, state-store commits and sink writes",
        "keys": (
            "q_dedup_clusters",
            "q_stream_watermark_tumble",
            "q_io_orc_text_roundtrip",
        ),
    },
}

ALL_KEYS = tuple(k for w in WORKLOADS.values() for k in w["keys"])
