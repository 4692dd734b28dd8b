#!/usr/bin/env python
"""Regenerate OPERATORS.md from the live query catalog.

Run from the repo root: python scripts/gen_operators_md.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_warehouse_opensky_spark.plans import QUERIES  # noqa: E402

#: SURVEY.md §2 row → where it lives in this repo. Query names refer to
#: the catalog table below; module paths are the non-query (ETL/ingest)
#: surface with their tests.
SURVEY_MATRIX: list[tuple[str, str, str]] = [
    ("T1.1", "REST API source (OAuth2)",
     "`sources/opensky_api.py::get_access_token/fetch_states/extract_job`; Spark 4 "
     "Python DataSource `sources/opensky_datasource.py` (`format(\"opensky\")`, "
     "bbox tiled into one InputPartition per latitude strip, executor-side fetch) "
     "— tests/test_ingest.py"),
    ("T1.2", "JSON→tabular decode",
     "`sources/opensky_api.py::decode_states` (positional decode, the one shared by "
     "`states_to_dataframe` and both `format(\"opensky\")` readers; explicit RAW_SCHEMA)"),
    ("T1.3", "CSV sink, raw zone",
     "`sources/opensky_api.py::write_landing_csv` + `landing_file_name` (timestamped)"),
    ("T1.4", "Directory scan + glob filter",
     "`schemas.py::LANDING_GLOB`, matched by `warehouse/etl.py::discover_new_files` and used as "
     "the `pathGlobFilter` of the streaming twin `streaming/ingest.py::stream_landing_source`"),
    ("T1.5", "Incremental-set anti-join",
     "`warehouse/etl.py::discover_new_files` (set difference against one `FileLog.current()` "
     "read, inside `register_new`); subsumed by stream checkpoint"),
    ("T1.6", "Idempotent keyed insert",
     "`warehouse/control.py::FileLog.register_new` (one `current()` read, one driver-side "
     "append of the unseen names); test_ingest idempotency, tests/test_control.py"),
    ("T1.7", "Keyed UPDATE",
     "`warehouse/control.py::FileLog.record` / `JobLog.end` (event-log + latest-wins + `compact()`); data-plane MERGE INTO: "
     "`streaming/sink.py::upsert_latest` (latest-wins merge, append, then delete of the stale files) — "
     "query `merge_upsert_replay`, tests/test_streaming.py"),
    ("T1.8", "Point-lookup scan", "query `point_lookup`"),
    ("T1.9", "Predicate scan", "queries `filter_predicates`, `case_when_buckets`"),
    ("T1.10", "Chunked CSV scan",
     "native partitioned scan (`spark.sql.files.maxPartitionBytes`, session.py)"),
    ("T1.11", "Derived-column addition",
     "`transform.py::clean_state_vectors` (load_timestamp; file_source from `source_file_name`, "
     "the file's exact on-disk name); `transform.py::to_silver` (+ event_date) for both ingest "
     "paths; query `opensky_clean_parity`"),
    ("T1.12", "Numeric coercion cast ×7",
     "`functions/casts.py` try_cast set; query `opensky_clean_parity`; ANSI guard in tests/test_transform.py"),
    ("T1.13", "Nullable-int cast", "`functions/casts.py`; `opensky_clean_parity`"),
    ("T1.14", "Epoch-seconds→timestamp", "`functions/casts.py::ts_seconds`; `opensky_clean_parity`, `datetime_funcs`"),
    ("T1.15", "Strict boolean parse",
     "`functions/casts.py::strict_bool` (when-chain, NOT cast) ; `opensky_clean_parity`"),
    ("T1.16", "Projection + reorder + NULL back-fill",
     "`transform.py::clean_state_vectors` (CLEAN_SCHEMA order); `projection_pruning`"),
    ("T1.17", "Append sink (staging)",
     "`warehouse/etl.py::stage_files` → bronze: the landing CSV hard-linked (byte copy across "
     "filesystems) into `ingest_date=<UTC date>/`, raw and append-only; optional JDBC raw "
     "append `warehouse/export.py::write_staging_jdbc`"),
    ("T1.18", "CSV append sink, header-once",
     "`warehouse/etl.py::stage_files` clean-zone per-file overwrite write"),
    ("T1.19", "Row count aggregate", "`FileLog.record(row_count=…)`; `count_distinct_users`"),
    ("T1.20", "Audit-log append w/ generated key", "`warehouse/control.py::JobLog.start` (uuid)"),
    ("T1.21", "String truncation", "`JobLog.end` (left(msg,500)); query `string_funcs`"),
    ("T1.22", "Per-file fault isolation",
     "`warehouse/etl.py::stage_files` (one silver write per tick; if it fails, per-file "
     "retry: FAILED row + continue); row-level twin "
     "`quarantine_split` (violation-tagged rejects frame); tests/test_ingest.py"),
    ("T1.23", "Transaction commit/rollback",
     "atomic parquet dir commit per write (each reference txn wraps one statement)"),
    ("T1.24", "Config parse", "`sources/opensky_api.py::JobConfig`; `session.py` conf contract"),
    ("T2.1", "Filter / predicates", "`filter_predicates`, `case_when_buckets`, bbox in `opensky_latest_position`"),
    ("T2.2", "Projection / pruning", "`projection_pruning` (+ plan test: ReadSchema ≤ 6 cols)"),
    ("T2.3", "Inner/left/right/full joins",
     "`join_star_revenue`, `join_left_outer`, `join_right_outer`, `join_full_outer`"),
    ("T2.4", "Semi / anti join", "`join_semi`, `join_anti`, `subquery_exists_urgent`"),
    ("T2.5", "As-of / latest-per-key",
     "`latest_event_per_user`, `asof_click_before_purchase`, `opensky_latest_position`"),
    ("T2.6", "Hash aggregation",
     "`pricing_summary`, `agg_rollup` base, `pivot_status_by_priority`, `date_spine_daily_orders`"),
    ("T2.7", "COUNT(DISTINCT) / approx",
     "`count_distinct_users`, `approx_count_distinct_users`"),
    ("T2.8", "Rollup / cube / grouping sets",
     "`agg_rollup`, `agg_cube`, `grouping_sets`, `unpivot_nation_metrics`"),
    ("T2.9", "Window functions",
     "`window_lag_delta`, `window_rolling_avg`, `window_rank_dense_ntile`, `window_value_functions`, `rank_topn_per_group`"),
    ("T2.10", "Sort / LIMIT / top-k", "`topk_orders`, `rank_topn_per_group`"),
    ("T2.11", "Set ops", "`set_ops_union`, `set_ops_intersect`, `set_ops_except`"),
    ("T2.12", "String functions", "`string_funcs`"),
    ("T2.13", "Date/time functions", "`datetime_funcs`, `date_spine_daily_orders`"),
    ("T2.14", "Math / geo functions", "`math_funcs`, `opensky_trajectory_km` (haversine)"),
    ("T2.15", "NULL handling", "`null_handling`"),
    ("T2.16", "Streaming (windows, watermark, state)",
     "`streaming_tumbling_counts`, `window_sliding_2h`, `streaming_session_windows`, "
     "`streaming_dedup_latest`, `streaming_stateful_running_agg`, `session_window_stats`"),
    ("T3.1", "Exact dedup", "`dedup_exact`, `dedup_components_canonical` (cluster → canonical keep-list)"),
    ("T3.2", "Near-dup / similarity",
     "`dedup_minhash_lsh`, `dedup_ngram_jaccard`, `dedup_simhash`, `dedup_simhash_pairs`, "
     "`embedding_neardup_pairs`, `ann_brute_force_topk`, `ann_lsh_buckets`, `ann_lsh_topk`, "
     "`ann_ivf_topk`, `ann_lsh_recall`"),
    ("T3.3", "Multimodal columns",
     "`multimodal_decode_meta`, `multimodal_features`, `multimodal_resize`, "
     "`multimodal_frame_sample`, `multimodal_audio_meta`"),
    ("T3.4", "Text analysis",
     "`text_lang_id`, `text_quality_score`, `text_token_count`, `text_fingerprint`, `text_tfidf_topk`"),
    ("T3.5", "UDF/UDAF/UDTF surface",
     "`udf_scalar_token_count`, `udf_grouped_agg_spend`, `udf_grouped_map_share`, `udtf_token_positions`"),
    ("—", "Beyond-survey additions (SURVEY §2 'add only if needed' list, "
     "added because mart/report shapes use them)",
     "`subquery_scalar_above_avg`, `subquery_correlated_above_cust_avg`, "
     "`pivot_status_by_priority`, `unpivot_nation_metrics`, `json_extract_props`, "
     "`map_funcs`, `sample_hash_5pct`, `percentile_disc_price`, `point_lookup`"),
]

HEADER = """\
# OPERATORS — catalog coverage map

One row per registered query in
`data_warehouse_opensky_spark/plans/` (the `queries()` /
`oracle_sql()` surface of `__spark_entry__.py`). Tier refers to
SURVEY.md §2: T1 = operators coded in the reference, T2 = the SQL
surface the reference delegates to PostgreSQL, T3 = north-star
LLM-data-pipeline extensions. "oracle" = exact DuckDB twin checked by
the driver at sf0.01 (rows-only check otherwise).

This file is generated: `python scripts/gen_operators_md.py`.

| query | tier | oracle | what it covers |
|---|---|---|---|
"""


def render() -> str:
    """OPERATORS.md as generated from the catalog and the matrix."""
    rows = []
    for name in sorted(QUERIES):
        q = QUERIES[name]
        doc = " ".join(q.doc.split())
        rows.append(
            f"| `{name}` | {q.tier} | {'exact' if q.oracle else 'rows-only'} | {doc} |"
        )
    # Sanity: every query named in the matrix must exist in the catalog.
    import re

    # (T1 rows reference module functions; only T2/T3 rows name queries.)
    for rid, _, impl in SURVEY_MATRIX:
        if rid.startswith("T1"):
            continue
        for qname in re.findall(r"`(\w+)`", impl):
            assert qname in QUERIES, f"matrix names unknown query {qname}"
    matrix = "\n".join(
        f"| {rid} | {cap} | {impl} |" for rid, cap, impl in SURVEY_MATRIX
    )
    return (
        HEADER
        + "\n".join(rows)
        + "\n\n## SURVEY §2 coverage matrix\n\n"
        + "Every SURVEY.md §2 inventory row → its implementation here "
        + "(catalog queries in backticks; module paths for the ETL/ingest "
        + "surface, which the driver gate exercises via tests rather than "
        + "`queries()`).\n\n"
        + "| SURVEY row | capability | implemented by |\n|---|---|---|\n"
        + matrix
        + "\n"
    )


def main() -> None:
    Path("OPERATORS.md").write_text(render())
    print(f"wrote OPERATORS.md with {len(QUERIES)} queries and {len(SURVEY_MATRIX)} matrix rows")


if __name__ == "__main__":
    main()
