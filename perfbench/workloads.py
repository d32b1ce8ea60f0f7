"""The workloads: their ops, each with the engine module it calls.

The engine's `core` module does the work in `wordcount` and none in
`queries`; `rel`, `pipeline` and `streaming` do theirs in `queries` and
none in `wordcount`. Each workload is the other's bypass: a change to one
side's layers should move its own workload and leave the other unchanged.
"""

WORKLOADS = {
    # The reference MapReduce job through the spec path, plus the
    # algebraic (map-side combine) variant on the same corpus.
    "wordcount": {"wc_spec": "core", "wc_algebraic": "core"},
    # Short decision-support queries (aggregate, subquery, as-of join),
    # where per-query fixed cost dominates; near-duplicate detection and
    # token statistics over documents, reading the session's shared
    # artifacts (shuffle-heavy, CPU-dense per byte); and one stateful
    # streaming drain (tumbling window, Trigger.AvailableNow), the
    # checkpointed write path. The spans name each op's module, so the
    # trace splits this workload's time by layer.
    "queries": {
        "q01_pricing_summary": "rel", "q148_rich_inactive": "rel", "q158_asof_native": "rel",
        "q17_minhash_lsh": "pipeline", "q22_token_stats": "pipeline",
        "q82_tumbling_stream_final": "streaming",
    },
}

# Untimed passes after the cold one, while the JIT is still compiling.
# A word-count pass is short, so its JIT settles over more passes: with
# one warm-up pass its ten-run spread of pass_s and cpu_s was about twice
# that with two. A second pass for queries would cost 5 s of the run
# budget per run and did not make its runs agree better.
WARMUP_PASSES = {"wordcount": 2, "queries": 1}

# Word-count input: shards x tokens, R output files, split size.
WORDCOUNT = {"shards": 4, "tokens_per_shard": 80000, "r": 4, "map_kb": 1024}
