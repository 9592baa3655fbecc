"""The benchmark's op lists. Owned here, so later edits to the repo's own
bench scripts leave the benchmark unchanged.

``headline`` runs at sf0.01, where an op's time is mostly fixed cost:
driver plan construction, catalog loads, build-phase jobs (eager
checkpoints, bounded fits collected to the driver), Python-worker dispatch
and per-job overhead. Ops that write to fixed ``/tmp`` paths (the
persisted-index resume ops, the avro/xml sources) are left out so that a
run writes only inside its checkout.

A run pays a session start (about 8 s on a 4-core host), a cold pass that
also checks every output (about 27 s), and two timed passes (about 9 s
each). Heavier headline ops would not fit the benchmark's time budget:
dedup_jaccard_stop_shingles, text_bpe_tokenize and merge_scd6 took 7-14 s
on their first call, and text_langid_hashgram 6 s cold plus 4 s warm.
"""

HEADLINE = [
    # relational and merge ops: many short fixed-cost ops; all have a
    # DuckDB oracle
    "agg_group_sums",
    "scan_filter_pushdown",
    "join_star_multiway",
    "merge_scd1",
    "merge_scd2_close",
    "dedup_keep_latest",
    "window_topn_per_group",
    "topk_order_limit",
    "agg_grouping_rollup",
    "stream_session_agg",
    "text_tokenize_counts",
    "text_top_terms_per_lang",
    "multimodal_doc_join",
    "composite_shipping_priority",
    # build-phase heavy: an iterative graph loop of short jobs
    "graph_hits",
    # Python-worker layer: Arrow batches into a pandas/numpy sketch kernel
    "agg_tdigest_quantile_merge",
]

QUERY_WORKLOADS = {"headline": HEADLINE}
WORKLOADS = ("headline", "store_roundtrip")
#: timed passes a run makes at least, whatever --seconds asks
MIN_PASSES = {"headline": 2, "store_roundtrip": 1}
