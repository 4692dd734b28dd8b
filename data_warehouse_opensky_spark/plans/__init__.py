from .catalog import QUERIES, Query, get_queries, get_oracles, query, reorder

# Importing these modules populates the registry via the @query decorator.
from . import relational  # noqa: E402,F401
from . import windows  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import opensky  # noqa: E402,F401
from . import streaming_queries  # noqa: E402,F401
from . import udfs  # noqa: E402,F401
from . import extended  # noqa: E402,F401
from . import corpus  # noqa: E402,F401
from . import marts  # noqa: E402,F401
from . import stats  # noqa: E402,F401
from . import graph  # noqa: E402,F401
from . import reports  # noqa: E402,F401
from . import sketches  # noqa: E402,F401

# The external correctness driver checks only the FIRST 50 queries in
# registration order, so the front of the registry is rotated each round
# to cycle driver coverage across the whole catalog. Round-12 front
# (VERDICT r11 directive #3, as queued in the r11 rotation note): the
# window leads with the 18 round-6-cohort LEFTOVERS — the oldest
# latest-driver-check tier remaining; after this round no catalog
# entry's latest external check is older than round 7 — then the 4
# queries ADDED in round 12 (never driver-checked: the MERGE INTO
# replay that puts the latest-wins upsert under the oracle harness,
# VERDICT r11 #2, the two line-grain Gopher gate families, VERDICT
# r11 #5, and the cross-document boilerplate-line profile), then the
# one plan whose operator CODE changed in round 12
# (dedup_fuzzy_levenshtein: capped_block_self_pairs now
# releases the previous invocation's persisted relations, ADVICE r11),
# then streaming_dedup_latest (the r11 recorded bench flag, adjudicated
# in SCALE.md §48 — a fresh driver green rides along), then 26 of the
# 50 round-7-cohort greens (alphabetical). The 24 r7 leftovers
# (the round-7 cohort minus the 27 named below, mart_skyline_revenue_qty
# through window_sliding_2h) lead the round-13 window, followed by any
# round-13 additions and the round-8 cohort. Queries displaced past
# slot 50 stay covered by tests/test_oracle.py, which runs ALL of them
# vs DuckDB at sf0.001 AND asserts every result against the committed
# pin table (tests/oracle_pins.json), and by the per-session full
# driver-contract sweep at sf0.01.
DRIVER_WINDOW_PRIORITY = [
    # ==== 18 round-6-cohort leftovers (oldest external check) =============
    "stats_corr_qty_price",
    "stats_cusum_changepoint",
    "stats_histogram_price",
    "stats_linear_regression",
    "stats_pmi_cells",
    "stats_poisson_bootstrap",
    "stats_profile_orders",
    "stats_welch_ttest",
    "streaming_session_windows",
    "streaming_stateful_running_agg",
    "streaming_stream_stream_join",
    "text_bm25_topk",
    "text_bpe_merges",
    "udf_grouped_agg_spend",
    "udf_grouped_map_share",
    "udtf_token_positions",
    "sql_pipe_syntax_summary",
    "sql_session_variables",
    # ==== 4 queries added in round 12 (never driver-checked) ==============
    "merge_upsert_replay",
    "text_gopher_symbol_lines",
    "text_gopher_dup_lines",
    "corpus_boilerplate_lines",
    # ==== 1 plan whose operator code changed in round 12 ==================
    "dedup_fuzzy_levenshtein",
    # ==== 1 adjudicated r11 bench flag — driver re-confirmation ===========
    "streaming_dedup_latest",
    # ==== 26 re-confirmations: oldest remaining (round-7) cohort ==========
    "agg_minmax_by",
    "agg_salted_hot_keys",
    "ann_binary_hamming_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_lsh_recall",
    "ann_rrf_fusion",
    "asof_click_before_purchase",
    "corpus_chunking",
    "corpus_decontaminate",
    "corpus_pack_sequences",
    "corpus_pii_redact",
    "corpus_repetition_signals",
    "corpus_stratified_sample",
    "dedup_components_canonical",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "embedding_neardup_pairs",
    "filter_predicates",
    "hof_array_funcs",
    "join_anti",
    "join_left_outer",
    "join_semi",
    "join_skew_salted_hot_users",
    "join_star_revenue",
    "latest_event_per_user",
]

reorder(DRIVER_WINDOW_PRIORITY)

__all__ = [
    "QUERIES",
    "Query",
    "get_queries",
    "get_oracles",
    "query",
    "reorder",
    "DRIVER_WINDOW_PRIORITY",
]
