"""The workloads: fixed query lists and the vector stream's shape.

The query lists are fixed stride samples of the engine's declared
queries, so every run of a workload measures the same calls and the
seed only orders them. A full pass over the 120 (or 130) queries takes
minutes on a 4-core box; a stride sample keeps a pass to a few seconds
while still drawing from every module of the workload.
"""

# star_olap: every 12th query (from the 4th) of the 120 declared by
# Relational, Analytics, Events, Temporal, Lakehouse, Contracts,
# Diagnostics, Reconcile and sql.ModelRunner, sorted by query number.
STAR_OLAP = [
    "q4_semi_join_exists", "q16_string_funcs", "q40_percentiles",
    "q96_distinct_sketch", "q108_lateral_top_orders", "q123_time_weighted",
    "q142_erasure_audit", "q163_ab_ztest", "q176_rhythm_matrix",
    "q203_corrupt_record_audit",
]

# corpus_llm: six of the 130 queries declared by Dedup, Similarity,
# TextAnalysis, Corpus, Selection, Graphs, Multimodal and Resolution.
# Four of them build SessionMemo entries on first touch in a fresh
# session (q131, q148, q222, q226: five builds); two build none. With
# this mix the per-query median falls between two memo-building
# queries; adding cheap queries moved it onto the slowest cheap one, a
# single noisy order statistic. A stride sample does not work here: a
# third of these queries have DuckDB oracles that take minutes at
# sf0.1, and the output check runs in every run. All six oracles finish
# in under 2 s.
CORPUS_LLM = [
    "q66_frame_sample", "q131_bm25_topk", "q148_phrase_search",
    "q222_graph_churn", "q226_ivf_recall", "q228_kappa_agreement",
]

WORKLOADS = {
    "star_olap": {
        "kind": "queries",
        "unit_s": 15,           # nominal seconds of one warm pass on 4 cores
        "queries": STAR_OLAP,
        "fresh_session": False,
    },
    "corpus_llm": {
        "kind": "queries",
        "unit_s": 15,
        "queries": CORPUS_LLM,
        "fresh_session": True,
    },
    "vector_ingest": {
        "kind": "stream",
        "unit_s": 20,           # nominal seconds of one episode on 4 cores
        # batch sizes: the bootstrap batch (the first re-policy rebuild),
        # an incremental batch, then one that doubles the corpus past 1024
        # admitted vectors (the second re-policy rebuild)
        "sizes": [512, 128, 448],
        "planted_per_batch": 24,
        "panel": 64,
        "k": 10,
        "max_cos": 0.92,
        "warmup_batches": 1,      # the bootstrap batch, untimed
    },
}
