"""Physical-plan quality gates (the 100 TB design assertions).

Correctness says WHAT we compute; these tests pin HOW Catalyst executes
it, because at 1000 executors the difference between a broadcast join
and a shuffled join, or a pushed filter and a post-scan filter, IS the
product. Each assertion inspects `explain(formatted)` output of a real
catalog query — if a refactor silently regresses the plan shape (e.g.
a dim join stops broadcasting), these fail even though results match.
"""

from __future__ import annotations

from data_warehouse_opensky_spark.plans import QUERIES
from data_warehouse_opensky_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def explain_str(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_of(spark, name: str) -> str:
    return explain_str(QUERIES[name].fn(spark, SF))


def test_star_join_broadcasts_dims(spark):
    """Dims (region/nation/customer) must broadcast — the fact side
    never shuffles for a dim join at any scale."""
    plan = plan_of(spark, "join_star_revenue")
    assert "BroadcastHashJoin" in plan
    # The big fact (lineitem) must NOT be exchanged for the dim joins:
    # no shuffle exchange before the first join on the fact side.
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_parquet(spark):
    plan = plan_of(spark, "filter_predicates")
    assert "PushedFilters: [" in plan
    # At least one real predicate pushed (not an empty list).
    assert "PushedFilters: []" not in plan


def test_projection_pruning_reads_narrow_schema(spark):
    """A 2-column projection must not scan all 9 lineitem columns."""
    plan = plan_of(spark, "projection_pruning")
    start = plan.index("ReadSchema")
    read_schema = plan[start : plan.index("\n", start)]
    # lineitem has 16 columns; the query touches a handful.
    n_cols = read_schema.count(",") + 1
    assert n_cols <= 6, read_schema


def test_aggregation_is_partial(spark):
    """groupBy aggs must map-side combine (two HashAggregate nodes)."""
    plan = plan_of(spark, "pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject, never a
    global sort of the full table."""
    plan = plan_of(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_rank_topn_pushes_window_group_limit(spark):
    """Top-n-per-group must use WindowGroupLimit (Spark 3.5+) so each
    partition keeps only n rows before the full window sort."""
    plan = plan_of(spark, "rank_topn_per_group")
    assert "WindowGroupLimit" in plan


def test_latest_per_key_single_shuffle(spark):
    """The latest-per-key window must shuffle exactly once (hash
    partition by user_id)."""
    import re

    plan = plan_of(spark, "latest_event_per_user")
    # Count physical Exchange nodes (detail headers), not text mentions;
    # one exchange for the window + one range exchange for the final
    # orderBy — fail on 3+.
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges <= 2, plan


def test_brute_force_topk_no_fact_shuffle(spark):
    """ANN brute force: broadcast the 1-row query side, TakeOrdered for
    the top-k — the embedding table itself must never be exchanged by
    hash/range partitioning."""
    plan = plan_of(spark, "ann_brute_force_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_active(spark):
    """The relational hot path must run inside whole-stage codegen.

    The formatted AQE plan doesn't annotate WSCG spans pre-execution,
    so use codegen explain mode, which reports the compiled subtrees.
    """
    # Build the DataFrame first (configure_runtime re-enables AQE),
    # then disable AQE before the physical plan is lazily compiled.
    df = QUERIES["pricing_summary"].fn(spark, SF)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jvm = df.sparkSession._jvm
        plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    assert "Found 0 WholeStageCodegen" not in plan


def test_scan_is_columnar_parquet(spark):
    """Scans must be the vectorized parquet reader (Batched: true)."""
    df = load_table(spark, SF, "lineitem").select("l_orderkey")
    plan = explain_str(df)
    assert "Scan parquet" in plan


def test_partition_pruning_on_silver(spark, tmp_path):
    """The silver zone is partitioned by event_date; a date filter must
    prune partitions at the scan (PartitionFilters), not post-filter."""
    import csv

    import pyspark.sql.functions as F

    from data_warehouse_opensky_spark.schemas import RAW_COLUMNS, RAW_SCHEMA
    from data_warehouse_opensky_spark.transform import clean_state_vectors

    # Two crawl rows on different days (2025-11-13 and 2025-11-14 11:00 UTC).
    landing = tmp_path / "states_pruning.csv"
    with open(landing, "w", newline="") as f:
        w = csv.DictWriter(f, RAW_COLUMNS)
        w.writeheader()
        w.writerow({"icao24": "abc123", "last_contact": "1763031600"})
        w.writerow({"icao24": "abc124", "last_contact": "1763118000"})
    raw = spark.read.csv(str(landing), header=True, schema=RAW_SCHEMA)
    silver = str(tmp_path / "silver")
    clean_state_vectors(raw).withColumn(
        "event_date", F.to_date(F.coalesce("last_contact", "load_timestamp"))
    ).write.partitionBy("event_date").parquet(silver)

    df = (
        spark.read.parquet(silver)
        .filter(F.col("event_date") == "2025-11-13")
        .select("icao24", "velocity")
    )
    plan = explain_str(df)
    assert "PartitionFilters" in plan
    start = plan.index("PartitionFilters")
    pf = plan[start : plan.index("\n", start)]
    assert "event_date" in pf, pf


def test_tfidf_vocab_join_strategies(spark):
    """TF-IDF's tf⨝df join: broadcast by default, shuffle join on
    `term` when spark.data_warehouse.tfidf.broadcastVocab=false (the
    web-scale-vocabulary fallback, SCALE.md §7). Both shapes must
    compile; the fallback must NOT broadcast the vocabulary."""
    plan_b = plan_of(spark, "text_tfidf_topk")
    assert "BroadcastHashJoin" in plan_b or "BroadcastExchange" in plan_b

    spark.conf.set("spark.data_warehouse.tfidf.broadcastVocab", "false")
    try:
        # Build the DataFrame first (load_table's configure_runtime
        # resets autoBroadcastJoinThreshold to 64MB), THEN disable
        # size-based broadcast before the plan is lazily compiled, so
        # the assertion is about OUR hint gate, not sf0.001 sizes.
        df = QUERIES["text_tfidf_topk"].fn(spark, SF)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_s = explain_str(df)
        assert "SortMergeJoin" in plan_s or "ShuffledHashJoin" in plan_s, plan_s
    finally:
        spark.conf.unset("spark.data_warehouse.tfidf.broadcastVocab")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


# ---------------------------------------------------------------------------
# Round-2 additions: corpus prep, mart shapes, HOFs
# ---------------------------------------------------------------------------


def test_chunking_is_shuffle_free(spark):
    """Chunking is a row-local flat-map: sequence+explode inside the
    scan stage, zero exchanges before the (presentation-only) sort."""
    import re

    plan = plan_of(spark, "corpus_chunking")
    body = plan.split("== Physical Plan ==")[-1]
    # Only the final orderBy's range exchange is allowed.
    n_hash = len(re.findall(r"hashpartitioning", body))
    assert n_hash == 0, plan
    assert "Generate" in plan  # the explode


def test_repetition_signals_two_aggs_no_join(spark):
    """Tokens and bigrams ride ONE tagged explode; the per-entry and
    per-doc aggregations are hash aggregates with no join anywhere."""
    plan = plan_of(spark, "corpus_repetition_signals")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2


def test_stratified_sample_broadcasts_rates(spark):
    """The per-stratum rate lookup must be a broadcast join — the
    documents side never shuffles."""
    plan = plan_of(spark, "corpus_stratified_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_join_broadcasts_bands(spark):
    """The band dimension must broadcast (nested-loop over 5 rows);
    orders must not be exchanged for the join."""
    plan = plan_of(spark, "range_join_price_bands")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_chain_reaggregates_not_rescans(spark):
    """The hour→day→month chain must scan events exactly once — the
    day and month grains aggregate the previous grain's output."""
    import re

    plan = plan_of(spark, "rollup_time_grains")
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))
    assert n_scans == 1, plan


def test_scd2_single_shuffle(spark):
    """The SCD2 lead() window shuffles once on user_id (plus the final
    presentation sort's range exchange)."""
    import re

    plan = plan_of(spark, "scd2_intervals")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges <= 2, plan


def test_minmax_by_partial_agg(spark):
    """min_by/max_by must map-side combine like any decomposable agg."""
    plan = plan_of(spark, "agg_minmax_by")
    assert plan.count("HashAggregate") >= 2


def test_hof_array_funcs_stay_jvm_side(spark):
    """Higher-order array functions must not fall back to Python: no
    Arrow/Python eval nodes, no shuffles before the presentation sort."""
    import re

    plan = plan_of(spark, "hof_array_funcs")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    body = plan.split("== Physical Plan ==")[-1]
    assert len(re.findall(r"hashpartitioning", body)) == 0, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must BROADCAST (eval sets are small); the
    training side must never sort-merge against it. The per-doc hit
    count and the final doc join are hash aggregates/joins on doc_id."""
    plan = plan_of(spark, "corpus_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack_sequences_single_shard_window(spark):
    """Packing's cumsum window is partitioned by shard — the plan must
    hash-partition on shard (parallel across shards), and the span
    explode (Generate) must be row-local between window and re-agg."""
    import re

    plan = plan_of(spark, "corpus_pack_sequences")
    body = plan.split("== Physical Plan ==")[-1]
    assert re.search(r"hashpartitioning\(shard", body), plan
    assert "Generate" in plan
    assert "Join" not in plan, plan


def test_contiguous_ids_no_global_window(spark):
    """ID assignment must never serialize into a single-partition
    global sort (THE scale trap it exists to avoid): no Exchange
    SinglePartition anywhere; the window keys on the bucket."""
    plan = plan_of(spark, "corpus_contiguous_ids")
    body = plan.split("== Physical Plan ==")[-1]
    assert "SinglePartition" not in body, plan
    assert "hashpartitioning(_bkt" in body, plan


def test_salted_agg_two_phase(spark):
    """The salted agg must show BOTH phases: a partial exchange on
    (key, salt) that spreads the hot key, then a final exchange on the
    key alone (tiny: one row per key x salt)."""
    import re

    plan = plan_of(spark, "agg_salted_hot_keys")
    body = plan.split("== Physical Plan ==")[-1]
    assert re.search(r"hashpartitioning\(event_type[^)]*__salt", body), plan
    assert re.search(r"hashpartitioning\(event_type#\d+, 32\)", body) or \
        re.search(r"hashpartitioning\(event_type#\d+L?, \d+\)", body), plan


def test_domain_cap_window_group_limit(spark):
    """rank<=k must compile to Spark's WindowGroupLimit rewrite: map
    tasks pre-truncate each partition to its local top-k BEFORE the
    shuffle, so the exchange carries O(k·partitions) rows per domain
    instead of a hot domain's full row count."""
    plan = plan_of(spark, "corpus_domain_cap")
    body = plan.split("== Physical Plan ==")[-1]
    assert "WindowGroupLimit" in body, plan
    assert "Join" not in body, plan


def test_length_buckets_single_scan_partial_agg(spark):
    """One scan + one agg keyed on ~7 buckets: partial HashAggregate
    before the exchange (map-side combine → #buckets rows per task),
    no joins, no windows."""
    plan = plan_of(spark, "corpus_length_buckets")
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("HashAggregate") >= 2, plan
    assert "Join" not in body, plan
    assert "Window" not in body, plan


def test_quality_funnel_one_scan_no_shuffle_keys(spark):
    """The staged funnel is ONE scan with conditional sums: a single
    global aggregate (partial → final), no joins, no generate/explode
    blowup of the text column."""
    plan = plan_of(spark, "corpus_quality_funnel")
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("HashAggregate") >= 2, plan
    assert "Join" not in body, plan
    assert "Generate" not in body, plan


def test_duplicated_spans_hash_prefilter_then_broadcast(spark):
    """Span mining is two-phase: an int-only hash df-count picks the
    hot set, which BROADCASTS back over the position stream — span
    strings are built only for survivors. The plan must show the
    broadcast join and no sort-merge join (a shuffled string join
    would mean the prefilter isn't doing its job)."""
    plan = plan_of(spark, "corpus_duplicated_spans")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Generate" in body, plan
    assert "BroadcastHashJoin" in body, plan
    assert "SortMergeJoin" not in body, plan
    assert "xxhash64" in plan, plan  # hash phase is int-only


def test_mixture_weights_single_pass_broadcast_targets(spark):
    """One corpus scan with partial counts; the targets dimension joins
    as a broadcast (never a shuffle of the counts), and the only window
    runs on the #strata-row aggregate (post-agg, scale-safe)."""
    plan = plan_of(spark, "corpus_mixture_weights")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body, plan
    assert "SortMergeJoin" not in body, plan
    assert body.count("HashAggregate") >= 2, plan


def test_hll_mart_merges_sketches_from_cache(spark):
    """The rollup row must come from hll_union_agg over the CACHED
    day-grain sketch table (InMemoryTableScan), not from re-scanning
    the facts — that is the mergeable-sketch mart contract."""
    plan = plan_of(spark, "approx_distinct_hll_mart")
    assert "hll_sketch_agg" in plan, plan
    assert "hll_union_agg" in plan, plan
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan


def test_cdc_diff_preaggregates_both_sides(spark):
    """Both snapshot sides reduce to one row per key BEFORE the diff
    join (partial+final HashAggregate each), and the join is keyed —
    never a nested-loop/cartesian shape."""
    plan = plan_of(spark, "cdc_snapshot_diff")
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("HashAggregate") >= 4, plan
    assert "CartesianProduct" not in body, plan
    assert "BroadcastNestedLoopJoin" not in body, plan


def test_bigram_logprob_scoring_is_row_local(spark):
    """Scoring happens row-locally against the constant-folded model
    literal: the final plan has NO join and NO per-doc aggregation
    exchange — one projection over the doc scan (the model pass ran
    eagerly, bounded by charset²). The join fallback for
    literal-exceeding charsets is exercised separately below."""
    plan = plan_of(spark, "text_bigram_logprob")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in body, plan
    assert "aggregate" in body  # the HOF fold over the bigram array


def test_bigram_logprob_join_fallback_matches(spark):
    """Force the broadcast-join scoring path (the >_MODEL_LITERAL_MAX
    fallback for full-unicode corpora) and check it returns the exact
    same rows as the literal path, with the model broadcast — never a
    sort-merge join of the exploded stream against the model."""
    from data_warehouse_opensky_spark.operators import text as X

    docs = load_table(spark, SF, "documents")
    lit_rows = {
        r["doc_id"]: (r["n_bigrams"], r["sum_logp_e6"], r["avg_logp_e6"])
        for r in X.bigram_logprob(docs).collect()
    }
    old = X._MODEL_LITERAL_MAX
    X._MODEL_LITERAL_MAX = 0
    try:
        jdf = X.bigram_logprob(docs)
        plan = explain_str(jdf)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        join_rows = {
            r["doc_id"]: (r["n_bigrams"], r["sum_logp_e6"], r["avg_logp_e6"])
            for r in jdf.collect()
        }
    finally:
        X._MODEL_LITERAL_MAX = old
    assert join_rows == lit_rows


def test_funnel_single_pass_no_joins(spark):
    """The ordered funnel is ONE shuffle on user_id with a row-local
    sequence fold — the oracle needs three chained joins for the same
    answer; the Spark plan must contain NO join at all."""
    plan = plan_of(spark, "mart_event_funnel")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in body, plan
    assert "ObjectHashAggregate" in body, plan  # collect_list agg


def test_retention_cohorts_keyed_join_partial_aggs(spark):
    """Cohort triangle: first-day agg and the activity join are both
    keyed on user_id (never nested-loop), and every aggregate is
    partial+final (map-side combined)."""
    plan = plan_of(spark, "mart_retention_cohorts")
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body, plan
    assert "BroadcastNestedLoopJoin" not in body, plan
    assert body.count("HashAggregate") >= 4, plan


def test_streaming_static_enrich_broadcasts_dim(spark):
    """The static dimension must broadcast into the stream (stateless
    for the join — no state store on the dim side); the only stateful
    operator is the windowed aggregate."""
    from data_warehouse_opensky_spark.plans.streaming_queries import (
        static_enrich_windowed,
    )

    df = static_enrich_windowed(spark, SF)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "StateStore" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_anomaly_zscore_broadcasts_stats(spark):
    """The per-type sufficient-statistics side (≤ #event_types rows)
    must broadcast back onto the fact scan — the fact never shuffles
    for the flag pass; both aggs are partial+final."""
    plan = plan_of(spark, "stats_anomaly_zscore")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body, plan
    assert "SortMergeJoin" not in body, plan
    assert body.count("HashAggregate") >= 2, plan


def test_histogram_single_scan_single_agg(spark):
    """Equi-width histogram is one scan + one map-side-combined agg on
    ≤10 integer keys — no joins, no window, nothing else."""
    plan = plan_of(spark, "stats_histogram_price")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in body, plan
    assert "Window" not in body, plan
    assert "partial_count" in body, plan  # map-side combine
    assert body.count("HashAggregate") >= 2, plan  # partial + final


def test_gapfill_windows_run_on_aggregated_series(spark):
    """The unpartitioned fill windows must sit ABOVE the daily
    aggregation (day-count rows), never over the raw fact: the plan's
    Window nodes appear after the HashAggregate pair."""
    plan = plan_of(spark, "stats_gapfill_interpolate")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Window" in body, plan
    agg_pos = body.rfind("HashAggregate")
    win_pos = body.find("Window")
    # explain(formatted) prints operators top-down (output first), so
    # the window consuming the agg appears BEFORE it in the text.
    assert win_pos < agg_pos, plan


def test_split_assign_is_scan_local(spark):
    """Split assignment is a deterministic hash over the scan — no
    joins or windows; one agg on 3 keys."""
    plan = plan_of(spark, "corpus_split_assign")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in body, plan
    assert "Window" not in body, plan


def test_rolling_median_partitions_by_user(spark):
    """The rolling-median window must partition by user_id (shuffles
    once on the natural key) — never a single-partition global window
    over the fact."""
    plan = plan_of(spark, "stats_rolling_median")
    body = plan.split("== Physical Plan ==")[-1]
    assert "hashpartitioning(user_id" in body, plan


def test_heavy_hitters_verify_is_broadcast_semi(spark):
    """The verify pass must broadcast the candidate set into a semi
    join over the token stream — the long tail never shuffles before
    the threshold filter."""
    plan = plan_of(spark, "text_heavy_hitters")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body and "LeftSemi" in body, plan
    assert "SortMergeJoin" not in body, plan


def test_lateral_decorrelates_to_window_group_limit(spark):
    """The LATERAL ORDER BY+LIMIT subquery must de-correlate into
    WindowGroupLimit (per-partition top-k pruning) + a broadcast of
    the tiny distinct-segment side — never a per-group re-execution
    or a cartesian."""
    plan = plan_of(spark, "lateral_top3_per_segment")
    body = plan.split("== Physical Plan ==")[-1]
    assert "WindowGroupLimit" in body, plan
    assert "BroadcastExchange" in body, plan
    assert "CartesianProduct" not in body, plan


def test_runtime_bloom_filter_prunes_smj_fact_side(spark):
    """When a dim side is selective but too big to broadcast, Spark's
    runtime bloom filter must inject a BloomFilterMightContain on the
    fact side of the sort-merge join — at 100 TB this is the knob
    that keeps a non-broadcastable selective join from scanning the
    whole fact through the shuffle. Thresholds are dropped to force
    injection at test scale."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    # Load BEFORE overriding confs: load_table's configure_runtime()
    # re-applies the session defaults (incl. the broadcast threshold).
    fact = load_table(spark, SF, "lineitem")
    dim = load_table(spark, SF, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        joined = fact.join(dim, fact.l_orderkey == dim.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = explain_str(joined)
        assert "SortMergeJoin" in plan, plan
        assert "bloom_filter" in plan or "BloomFilter" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_driver_window_is_front_of_registry(spark):
    """The rotation contract: DRIVER_WINDOW_PRIORITY must be exactly 50
    names and exactly the first 50 keys of the registry in order —
    the external driver checks only that slice."""
    from data_warehouse_opensky_spark.plans import DRIVER_WINDOW_PRIORITY, QUERIES

    assert len(DRIVER_WINDOW_PRIORITY) == 50
    assert list(QUERIES)[:50] == DRIVER_WINDOW_PRIORITY


def test_reservoir_uses_window_group_limit(spark):
    """Fixed-k-per-group sampling must prune to ≤k rows per group on
    the map side (WindowGroupLimit) before the shuffle."""
    plan = plan_of(spark, "corpus_reservoir_per_source")
    assert "WindowGroupLimit" in plan, plan


def test_profile_is_single_scan(spark):
    """The table profile must be ONE pass: a single parquet scan node
    feeding expand/aggregate — never one scan per statistic."""
    body = plan_of(spark, "stats_profile_orders").split("== Physical Plan ==")[-1]
    assert body.count("Scan parquet") == 2, body  # tree + detail line
    assert "Join" not in body, body


def test_weekly_top_gainer_windows_ride_aggregated_rows(spark):
    """Both windows (lag per customer, rank per week) must sit above
    the (custkey, week) aggregation — the raw orders scan feeds ONE
    HashAggregate pair, and no join appears anywhere."""
    body = plan_of(spark, "mart_weekly_top_gainer").split("== Physical Plan ==")[-1]
    assert "Join" not in body, body
    assert "partial_sum" in body, body  # map-side combined weekly agg
    assert body.count("Window") >= 2, body


def test_kmeans_assignment_is_row_local(spark):
    """The returned k-means plan (final assignment + cluster agg) must
    contain NO join: assignment evaluates against driver-literal
    centroids row-locally; the only shuffle is the k-row cluster
    aggregation."""
    body = plan_of(spark, "embedding_kmeans").split("== Physical Plan ==")[-1]
    assert "Join" not in body, body
    assert "partial_count" in body, body  # map-side combined final agg


def test_expectations_suite_is_single_scan(spark):
    """Six constraints must cost ONE scan: a single parquet scan into
    expand/aggregate (distinct-count rewrite), stack() row-local above
    it, and no join anywhere."""
    body = plan_of(spark, "audit_expectations").split("== Physical Plan ==")[-1]
    assert body.count("Scan parquet") == 2, body  # tree + detail line
    assert "Join" not in body, body
    assert "Generate" in body, body  # stack() unpivot is row-local


def test_weighted_sample_uses_window_group_limit(spark):
    """Efraimidis–Spirakis top-k per group must prune to ≤k rows per
    group map-side (WindowGroupLimit) — the sample must never
    materialize whole groups through the shuffle."""
    plan = plan_of(spark, "corpus_weighted_sample")
    assert "WindowGroupLimit" in plan, plan


def test_inverted_index_single_scan_no_join(spark):
    """Posting-list build = explode → distinct-agg → token-agg: one
    scan, two aggregation pairs, zero joins."""
    body = plan_of(spark, "text_inverted_index").split("== Physical Plan ==")[-1]
    assert "Join" not in body, body
    assert body.count("Scan parquet") == 2, body


def test_fuzzy_levenshtein_blocks_are_equi_join(spark):
    """The levenshtein kernel must run only inside (len_bucket, prefix)
    blocks — an equi hash/sort-merge join, never a cartesian or
    nested-loop pairing of the corpus with itself."""
    body = plan_of(spark, "dedup_fuzzy_levenshtein").split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body, body
    assert "BroadcastNestedLoopJoin" not in body, body
    assert ("SortMergeJoin" in body) or ("ShuffledHashJoin" in body) or (
        "BroadcastHashJoin" in body
    ), body


def test_incremental_minhash_probe_is_equi_join(spark):
    """Batch-vs-corpus probe must equi-join on (band, band_sig) with
    map-side-combined per-doc aggregation of the collisions."""
    body = plan_of(spark, "dedup_incremental_minhash").split(
        "== Physical Plan =="
    )[-1]
    assert "CartesianProduct" not in body, body
    assert "BroadcastNestedLoopJoin" not in body, body
    assert "partial_min" in body, body


def test_phash_dedup_no_join_one_python_hop(spark):
    """Fingerprint assembly must stay JVM-side above a single
    mapInPandas decode hop; the dedup core is agg-only (no joins)."""
    body = plan_of(spark, "multimodal_phash_dedup").split("== Physical Plan ==")[-1]
    assert "Join" not in body, body
    assert body.count("MapInPandas") <= 2, body  # tree + detail line
    assert "partial_count" in body, body


def test_pagerank_iterates_on_cached_edges_no_cartesian(spark):
    """PageRank rounds must re-join the cached edge/degree tables —
    never rescan the facts per round, never degrade to a nested-loop
    or cartesian pairing; |V| rides the control plane as a literal."""
    body = plan_of(spark, "graph_pagerank").split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body, body
    assert "BroadcastNestedLoopJoin" not in body, body
    assert "InMemoryTableScan" in body, body


def test_sq8_quantization_is_row_local(spark):
    """Quantize/encode/reconstruct must all be row-local HOFs — no
    join, no shuffle before the single 1-row summary aggregate."""
    body = plan_of(spark, "embedding_quantize_sq8").split("== Physical Plan ==")[-1]
    assert "Join" not in body, body
    assert body.count("Exchange") <= 2, body  # single-agg exchange only


def test_sequence_patterns_single_shuffle(spark):
    """Collapse-then-mine: one shuffle on user_id builds the sequence
    string; all regex mining is row-local above it."""
    body = plan_of(spark, "mart_sequence_patterns").split("== Physical Plan ==")[-1]
    assert "Join" not in body, body
    assert "partial" in body, body  # map-side combined collect


def test_cdc_apply_reduces_both_sides_before_join(spark):
    """Snapshot and log must each reduce to one row per key (max_by
    aggs) BEFORE the single full-outer merge join."""
    body = plan_of(spark, "cdc_apply_log").split("== Physical Plan ==")[-1]
    assert body.count("SortMergeJoin FullOuter") + body.count(
        "ShuffledHashJoin FullOuter"
    ) >= 1, body
    assert "partial_max_by" in body, body


def test_rolling_distinct_semi_join_broadcasts_days(spark):
    """The day-spine clip must broadcast (tiny side); the grain
    dedup + cover-day count are the only real shuffles."""
    body = plan_of(spark, "mart_rolling_distinct_7d").split(
        "== Physical Plan =="
    )[-1]
    assert "BroadcastHashJoin" in body and "LeftSemi" in body, body


def test_markov_single_user_shuffle(spark):
    """Transition counting must shuffle the fact once (user_id for the
    lag window); transition cells and row sums are tiny aggregates."""
    body = plan_of(spark, "mart_markov_transitions").split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body, body  # row totals broadcast
    assert body.count("Window") >= 2, body  # lag window (tree + detail)


def test_gini_windows_aggregated_series(spark):
    """The rank window must run over the per-customer AGGREGATED series
    (partial_sum present before it), never the raw fact."""
    body = plan_of(spark, "mart_gini_concentration").split("== Physical Plan ==")[-1]
    assert "partial_sum" in body, body
    assert "Join" not in body, body


def test_asof_nearest_no_range_join(spark):
    """Both directional passes must be window-based (union + last over
    user partitions) — no nested-loop/cartesian range join anywhere."""
    body = plan_of(spark, "join_asof_nearest").split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body, body
    assert "BroadcastNestedLoopJoin" not in body, body
    assert body.count("Window") >= 2, body


def test_supplier_churn_single_fact_join(spark):
    """The fact-sized work is ONE lineitem⋈orders broadcast join into
    the grain distinct; the year-shift self-join rides the deduped
    grain table."""
    body = plan_of(spark, "mart_supplier_churn").split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body, body
    assert "CartesianProduct" not in body, body


def test_covariance_cached_scan_two_codegen_aggs(spark):
    """The 153 sufficient statistics ride TWO codegen-sized aggregates
    (one 153-field agg falls out of whole-stage codegen — see the
    in-function note) over one CACHED quantized scan; their 1-row
    outputs cross-join and cells expand row-locally (Generate)."""
    body = plan_of(spark, "embedding_covariance_audit").split(
        "== Physical Plan =="
    )[-1]
    assert "InMemoryTableScan" in body, body  # both aggs reuse the cache
    assert "SortMergeJoin" not in body, body  # only the 1-row crossJoin
    assert "Generate" in body, body


# ---------------------------------------------------------------------------
# Round-4 additions: un-pinned fact broadcasts, co-partitioned pagerank,
# dedup-verify join strategies (VERDICT r3 #2/#4/#5)
# ---------------------------------------------------------------------------


def test_pagerank_no_forced_rank_broadcast(spark):
    """PageRank must not HINT a broadcast of the |V|-row rank table —
    at 100 TB that table is the customer∪supplier universe and a
    per-round broadcast is a driver OOM. With size-based broadcast
    disabled the whole iteration must compile to shuffled joins (the
    co-partitioned shape: cached deg/ed partitioning reused, one
    dst-space exchange per round); at default conf AQE is still free
    to broadcast from runtime sizes (next test)."""
    from data_warehouse_opensky_spark.plans.graph import PR_ITERS

    df = QUERIES["graph_pagerank"].fn(spark, SF)
    # No HARD hint anywhere in the query: the analyzed logical plan
    # carries a ResolvedHint node for every F.broadcast() — pagerank
    # must have zero (size-based/AQE broadcast stays allowed).
    # (join_star_revenue keeps its dim hints, proving the probe sees
    # hints when present.)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    control = (
        QUERIES["join_star_revenue"]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" in control  # probe validity
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # With size-based broadcast off, every per-round join
        # (ed⋈ranks inner + deg⋈acc left, ×PR_ITERS) compiles to a
        # shuffled join — the co-partitioned 100 TB shape. (Exact
        # BroadcastExchange counts are untestable here: formatted
        # explain re-expands persisted subtrees at every reference.)
        body = explain_str(df).split("== Physical Plan ==")[-1]
        n_shuffled = body.count("SortMergeJoin") + body.count(
            "ShuffledHashJoin"
        )
        assert n_shuffled >= 2 * PR_ITERS, body
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.catalog.clearCache()


def test_pagerank_bench_scale_still_broadcasts(spark):
    """Dropping the F.broadcast hints must NOT change the bench-scale
    plan: the size-based threshold (64 MB) still broadcasts the
    2-column orders projection for the edge build (VERDICT r3 #4
    'done' criterion)."""
    body = plan_of(spark, "graph_pagerank").split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body, body
    spark.catalog.clearCache()


def test_jaccard_verify_join_strategies(spark):
    """attach_pair_shingles: size-based broadcast attach at bench
    scale (default adds NO hint — doc-cardinality frames never pin);
    with
    broadcast_docs=False and size-based broadcast off, BOTH attaches
    must be shuffled joins on the doc id — the 100 TB path where the
    arrays cannot broadcast (VERDICT r3 #5)."""
    from data_warehouse_opensky_spark.operators import dedup as D

    docs = load_table(spark, SF, "documents")
    sigs = D.minhash_signatures_arrays(docs, n=5, num_hashes=16)
    cand = D.bucket_pairs(D.band_signatures(sigs, 16, 4))

    plan_b = explain_str(D.jaccard_verify_arrays(sigs, cand))
    assert "BroadcastExchange" in plan_b, plan_b

    df_s = D.jaccard_verify_arrays(sigs, cand, broadcast_docs=False)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        body = explain_str(df_s).split("== Physical Plan ==")[-1]
        assert "BroadcastExchange" not in body, body
        assert "SortMergeJoin" in body or "ShuffledHashJoin" in body, body
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_distributed_cumsum_two_phase_shape(spark):
    """The fact-scan running total must be the two-phase parallel scan:
    a RangePartitioning exchange on the total order, a Window
    partitioned by the physical partition id (parallel local scans —
    never an unpartitioned window over the fact), and a broadcast of
    the per-partition offsets."""
    body = plan_of(spark, "mart_cumulative_revenue_scan").split(
        "== Physical Plan =="
    )[-1]
    assert "rangepartitioning" in body.lower(), body
    assert "windowspecdefinition(_pid" in body, body
    assert "BroadcastHashJoin" in body or "BroadcastExchange" in body, body
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# Round-4 additions
# ---------------------------------------------------------------------------


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    """Catalyst's InjectRuntimeFilter must be reachable with our session
    confs: a selective dim filter joined to a pre-aggregated fact (the
    shape whose fact-side shuffle a bloom filter prunes) injects
    might_contain(bloom_filter_agg(...)) into the fact scan. At 100 TB
    this is the optimizer sending the dim predicate to the fact BEFORE
    the shuffle — rows that can't join never leave the mappers. The
    rule requires (a) a probable shuffle join (broadcast disabled here
    to force it at sf0.001), (b) a shuffle below the application side,
    (c) scan sizes past thresholds (application-side threshold lowered
    — test data is small; defaults apply in production)."""
    from pyspark.sql import functions as F

    li = load_table(spark, SF, "lineitem").groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("q")
    )
    o = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1KB",
    )
    try:
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
        assert "bloom_filter_agg" in opt, opt
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_equidepth_histogram_uses_distributed_prefix_sum(spark):
    """The equi-depth histogram's running count must ride the two-phase
    prefix sum: a RangePartitioning exchange, and NO SinglePartition
    exchange anywhere (the global-window trap on near-unique prices)."""
    plan = plan_of(spark, "stats_equidepth_histogram")
    assert "rangepartitioning" in plan.lower(), plan
    assert "SinglePartition" not in plan, plan


def test_hard_negatives_broadcasts_anchors_only(spark):
    """Anchor side (5 rows) broadcasts; the corpus scan is never
    exchanged before scoring; top-3 per anchor rides a window group
    limit, not a global sort of all scored pairs."""
    plan = plan_of(spark, "embedding_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan, plan


def test_attribution_single_shuffle_on_user(spark):
    """Last-touch attribution: exactly one exchange, keyed on user_id
    (the window's partition key) — the scan prunes to two event types
    before the shuffle."""
    plan = plan_of(spark, "mart_attribution_last_touch")
    hash_args = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hash_args) == 1, plan
    assert "user_id" in hash_args[0], hash_args
    # Pruned scan: only the two touched event types reach the shuffle.
    assert "In(event_type, [click,purchase])" in plan, plan


def test_longest_streak_single_user_partitioning(spark):
    """Gaps-and-islands: every hashpartitioning exchange keys on
    user_id — the distinct, the island window, and both aggs reuse one
    partitioning; no date self-join anywhere."""
    plan = plan_of(spark, "mart_longest_streak")
    hash_args = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert hash_args, plan
    assert all("user_id" in l for l in hash_args), hash_args
    assert "Join" not in plan, plan


def test_hierarchy_rollup_recursion_is_linear(spark):
    """The recursive CTE must compile to a loop over UnionLoop/CTE
    iterations with NO join inside the recursive step (upward
    out-degree 1 ⇒ each level is a projection of the previous)."""
    plan = plan_of(spark, "graph_hierarchy_rollup")
    assert "UnionLoop" in plan or "CTERelation" in plan or "Loop" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Join-driven partition pruning: a fact partitioned on the join
    key, joined to a dim with a selective NON-key filter, must carry
    `dynamicpruningexpression` in its PartitionFilters — at 100 TB
    this is the dim predicate skipping fact PARTITIONS (files never
    opened), the join-time complement of static partition pruning
    (test_partition_pruning_on_silver) and of the bloom filter's
    row-level pruning (test_runtime_bloom_filter_injected...)."""
    import pyspark.sql.functions as F

    o = load_table(spark, SF, "orders").withColumn(
        "mon", F.date_format("o_orderdate", "yyyy-MM")
    )
    o.write.partitionBy("mon").parquet(str(tmp_path / "fact"))
    # The dim must be an independent source (not fact-lineage) with a
    # selective filter on a non-key column, else DPP has nothing to
    # prune with.
    o.groupBy("mon").agg(F.count("*").alias("n_orders")).write.parquet(
        str(tmp_path / "dim")
    )
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.read.parquet(str(tmp_path / "dim")).filter(
        F.col("n_orders") > 100
    )
    plan = explain_str(fact.join(dim, "mon").select("o_orderkey", "n_orders"))
    assert "dynamicpruningexpression" in plan, plan


def test_pq_adc_scan_is_takeordered_no_shuffle(spark):
    """The ADC scan must be row-local lookups + TakeOrderedAndProject:
    no hash exchange of the encoded corpus, no window over it (the
    query-side LUT is a literal; ranking stops at k rows)."""
    plan = plan_of(spark, "ann_pq_adc_topk")
    assert "TakeOrderedAndProject" in plan, plan
    hash_args = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert not hash_args, hash_args


def test_report_star_joins_broadcast_all_dims(spark):
    """The Q5-analog 6-way star join must broadcast every dim (no
    sort-merge anywhere) and push the order-date window into the
    orders scan."""
    plan = plan_of(spark, "report_local_supplier_volume")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "o_orderdate" in plan[plan.index("PushedFilters") :].split("\n")[0] or \
        "1996" in plan, plan


def test_report_returned_items_aggregates_before_dim_join(spark):
    """Q10 analog: the customer dim joins the AGGREGATED per-customer
    frame, never the raw fact fan-out — in the printed tree the
    per-customer HashAggregate must sit UNDER the first customer-dim
    BroadcastHashJoin (deeper indentation, within its subtree), the
    returnflag equality must reach the lineitem scan, and top-20 must
    be TakeOrdered."""
    plan = plan_of(spark, "report_returned_items")
    assert "TakeOrderedAndProject" in plan, plan
    # Pushed predicate on the scan, not a post-join filter.
    assert "EqualTo(l_returnflag,R)" in plan, plan
    # Tree prints parents above children: the first BroadcastHashJoin
    # (customer dim) must have a HashAggregate BELOW it and no
    # HashAggregate ABOVE it before the top-k (i.e. the agg is on the
    # join's input side, not its output).
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    bc_line = next(
        i for i, l in enumerate(lines) if "BroadcastHashJoin" in l
    )
    agg_lines = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    assert agg_lines, plan
    assert all(i > bc_line for i in agg_lines), (
        "aggregate above the dim join — fact fan-out joined the dim",
        plan,
    )


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's skew-join split must actually FIRE under our session confs
    — a hot key that dwarfs the median partition gets split into
    multiple tasks at runtime (SortMergeJoin(skew=true) +
    'AQEShuffleRead coalesced and skewed' in the executed plan). This
    is the runtime half of the skew story; operators/skew.py's
    deterministic salting is the planned half for keys so hot that
    even split partitions overwhelm one executor. Thresholds are
    lowered to make sf-test data exhibit 'skew'; production uses the
    defaults with real partition sizes.

    AQE judges skew in shuffle bytes, not rows: a partition is split
    only when its size exceeds skewedPartitionFactor x the median
    partition size AND the byte threshold. The shuffle is compressed,
    so the hot rows must not repeat with a short period: a periodic `v`
    such as `id*17 % 1003` compresses the hot partition to 1.75x the
    median bytes at 4 shuffle partitions (13x in rows), and no split
    fires. A hashed `v` makes the bytes skew like the rows. The split
    can fire only with 3 or more shuffle partitions: with 2, the median
    is the mean of both sizes, and no size exceeds twice it."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(400000).select(
            F.when(F.col("id") < 300000, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            (F.xxhash64("id") % 1000003).alias("v"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("w")
        )
        j = (
            fact.join(dim, "k")
            .groupBy()
            .agg(F.sum(F.col("v") + F.col("w")).alias("s"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_prefix_filter_vocab_has_no_window(spark):
    """The prefix-filter join's rarity order must be windowless
    (VERDICT r4 directive #2): the old plan ranked the vocabulary with
    row_number() over an UNPARTITIONED window — at billions of
    web-text shingles that serializes the dictionary onto one task.
    The de-exempted plan sorts struct(df, tok) row-locally after a
    distributed df join, so the whole plan must contain NO Window node
    of any kind (and the candidate join must stay a real join)."""
    plan = plan_of(spark, "dedup_prefix_filter_jaccard")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Window" not in body, plan
    assert "Join" in body, plan


def test_weighted_median_fused_scan_shape(spark):
    """stats_weighted_median must run the FUSED small-group scan
    (VERDICT r4 directive #3): one RangePartitioning exchange, local
    scans windowed ONLY by the physical partition id (never by the
    3-value flag — that serializes onto 3 cores), and a single
    broadcast join back (the general grouped scan's totals shuffle +
    second join must be gone)."""
    plan = plan_of(spark, "stats_weighted_median")
    body = plan.split("== Physical Plan ==")[-1]
    assert "rangepartitioning" in body.lower(), body
    specs = [
        seg.split(")")[0]
        for seg in body.split("windowspecdefinition(")[1:]
    ]
    assert specs and all(s.startswith("_pid") for s in specs), specs
    assert "BroadcastHashJoin" in body, body
    assert "SortMergeJoin" not in body, body
    assert "ShuffledHashJoin" not in body, body
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# Round-5 additions
# ---------------------------------------------------------------------------


def test_interval_overlap_is_equi_join_not_nested_loop(spark):
    """The interval-overlap join must run as the bin-bucketed EQUI join
    (broadcast of the exploded promo side), never as the
    BroadcastNestedLoopJoin/CartesianProduct an inequality-only
    condition would force — that nested loop is O(|A|·|B|) at scale."""
    plan = plan_of(spark, "join_interval_overlap")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" not in body, plan
    assert "CartesianProduct" not in body, plan
    assert "BroadcastHashJoin" in body, plan


def test_power_iteration_single_data_scan(spark):
    """Power iteration touches the embeddings ONCE (the second-moment
    aggregate); the 3 matrix-vector rounds are 1-row projections with
    no further scans, joins, or exchanges of data."""
    plan = plan_of(spark, "embedding_power_iteration")
    body = plan.split("== Physical Plan ==")[-1]
    # formatted plans print each node twice (tree + detail): 2 == one scan
    assert body.count("Scan parquet") == 2, plan
    assert "Join" not in body, plan


def test_repeat_interval_median_windowless(spark):
    """The per-customer cadence profile must stay windowless: one
    groupBy on the high-cardinality customer key + row-local array
    math — no Window node (a per-customer lag window would add a
    second sort of the same shuffle)."""
    plan = plan_of(spark, "mart_repeat_interval_median")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Window" not in body, plan
    assert body.count("HashAggregate") >= 2 or "ObjectHashAggregate" in body, plan


def test_poisson_bootstrap_single_scan_partial_agg(spark):
    """All 32 bootstrap replicas ride ONE scan: explode-by-B then a
    map-side-combined agg on B keys — no joins, no windows, no
    per-replica passes."""
    plan = plan_of(spark, "stats_poisson_bootstrap")
    body = plan.split("== Physical Plan ==")[-1]
    # formatted plans print each node twice (tree + detail): 2 == one scan
    assert body.count("Scan parquet") == 2, plan
    assert "Join" not in body, plan
    assert "Window" not in body, plan
    assert body.count("HashAggregate") >= 2, plan


def test_dsir_bucket_table_broadcasts(spark):
    """The 512-row DSIR bucket/ratio table must broadcast back onto
    the doc-bucket counts — it is the control plane; shuffling the
    doc side against it would move the corpus for a dictionary."""
    plan = plan_of(spark, "corpus_dsir_weights")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body, plan


# ---------------------------------------------------------------------------
# Round-5 additions: runtime filters, attribution window reuse, LPA/BPE
# ---------------------------------------------------------------------------


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    """Spark-first runtime filtering: on a shuffled fact⨝filtered-dim
    join, Catalyst's InjectRuntimeFilter must plant a bloom filter
    (bloom_filter_agg on the creation side, might_contain on the fact
    scan) — the engine-owned equivalent of a hand-rolled semi-join
    prefilter. At 100 TB this is what keeps a selective probe from
    scanning the full fact shuffle: the fact side drops non-candidate
    rows BEFORE the exchange. The app-side size threshold defaults to
    10 GB, so the gate is conf-lowered here to prove the rewrite fires
    with our session settings; production relies on the same default-on
    rule at real sizes."""
    from pyspark.sql import functions as F

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_returnflag")
    o = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .count()
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    try:
        plan = explain_str(j)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan


def test_attribution_linear_window_reuses_join_partitioning(spark):
    """mart_attribution_linear's touch-count window partitions by
    (user_id, purchase_id); the preceding shuffled join already hash-
    distributes on user_id, which CLUSTERS those keys — so the window
    must add a sort only, never an Exchange on (user_id, purchase_id).
    Pinned in the shuffled-join regime (size-based broadcast off; at
    sf0.001 stats would otherwise broadcast the click side and the
    window would legitimately need its own exchange)."""
    import re

    df = QUERIES["mart_attribution_linear"].fn(spark, SF)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(df)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Window" in body, plan
    assert not re.search(
        r"Exchange hashpartitioning\([^)]*purchase_id", body
    ), plan


def test_label_propagation_mode_is_single_agg_no_window(spark):
    """LPA's mode-with-tie-break must collapse into max(struct(c,
    -nlbl)) aggregation — no row_number window over the candidate
    label set (a window would re-sort every (node, label) group per
    round)."""
    plan = plan_of(spark, "graph_label_propagation")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Window" not in body, plan


def test_bpe_pair_count_is_partial_agg_no_shuffle_per_word(spark):
    """Each BPE round's pair count must be ONE map-side-combined agg
    over the persisted vocab (partial+final HashAggregate), with the
    pair explosion row-local (Generate feeding the partial agg in the
    same stage — no exchange between Generate and the first
    HashAggregate)."""
    import re

    from pyspark.sql import functions as F

    from data_warehouse_opensky_spark.plans.text import text_bpe_merges  # noqa: F401

    d = load_table(spark, SF, "documents")
    vocab = (
        d.select(
            F.explode(
                F.expr("regexp_extract_all(text, '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            F.regexp_replace("word", "(.)", " $1 ").alias("seq"), "freq"
        )
    )
    pairs = F.expr(
        "filter(zip_with(tok, slice(tok, 2, size(tok)), "
        "(a, b) -> struct(a AS l, b AS r)), s -> s.r IS NOT NULL)"
    )
    counted = (
        vocab.select(F.split(F.trim(F.col("seq")), "  ").alias("tok"), "freq")
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy("p.l", "p.r")
        .agg(F.sum("freq").alias("c"))
    )
    plan = explain_str(counted)
    body = plan.split("== Physical Plan ==")[-1]
    assert "Generate" in body, plan
    # Two HashAggregate pairs: word count (partial+final) and pair
    # count (partial+final) — at least 4 detail blocks total.
    assert len(re.findall(r"^\(\d+\) HashAggregate", body, re.MULTILINE)) >= 4, plan
    # The Generate->partial-agg edge is intra-stage: the only exchanges
    # are the two agg shuffles (word, pair), nothing between Generate
    # and its downstream partial HashAggregate.
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", body, re.MULTILINE))
    assert n_exchanges <= 2, plan


def test_cusum_one_scan_two_running_sums_no_global_window(spark):
    """stats_cusum_changepoint computes prefix revenue AND the day
    index in ONE multi-column distributed scan: exactly one Window
    node (pid-partitioned — never a global window), one range
    exchange, and both 1-row control frames broadcast back."""
    import re

    plan = plan_of(spark, "stats_cusum_changepoint")
    body = plan.split("== Physical Plan ==")[-1]
    # Every Window node (the persisted scan subtree prints once per
    # consuming query stage) must be the ONE fused pid-partitioned
    # window computing BOTH running sums — no global window, no
    # second scan for the day index.
    windows = re.findall(
        r"^\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)$", body, re.MULTILINE
    )
    assert windows, plan
    for args in windows:
        assert "_pid" in args, plan  # pid-partitioned, never global
        assert "_local0" in args and "_local1" in args, plan  # fused
    n_range = len(re.findall(r"Exchange rangepartitioning", body))
    assert n_range <= 2, plan  # scan + final orderBy


def test_snm_rank_is_distributed_no_global_window(spark):
    """dedup_sorted_neighborhood's global sort position comes from the
    two-phase distributed scan: every Window node is pid-partitioned
    (never a global row_number), and the w-neighborhood is an
    equi-join on the rank key."""
    import re

    plan = plan_of(spark, "dedup_sorted_neighborhood")
    body = plan.split("== Physical Plan ==")[-1]
    windows = re.findall(
        r"^\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)$", body, re.MULTILINE
    )
    assert windows, plan
    for args in windows:
        assert "_pid" in args, plan
    # The neighborhood join is an equi-join (SortMergeJoin or hash) on
    # t — never a nested-loop range join.
    assert "NestedLoop" not in body, plan


def test_rfm_thresholds_broadcast_scoring_rowlocal(spark):
    """mart_rfm_segments: the quartile thresholds are a 1-row frame
    broadcast back onto the per-customer aggregate (never a window
    ntile over all customers), so the plan has zero Window nodes and
    the two crossJoins are both BroadcastNestedLoopJoin of 1-row
    control frames."""
    plan = plan_of(spark, "mart_rfm_segments")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Window" not in body, plan
    assert "BroadcastNestedLoopJoin" in body, plan


def test_registry_keys_match_function_names():
    """Every catalog entry's fn must be the function registered under
    that name — catches the decorator-displacement class of bug where
    a helper inserted between @query(...) and its def silently takes
    over the registration (found once during round 5: _lpa_labels
    briefly became graph_label_propagation and returned a tuple)."""
    bad = [
        (k, q.fn.__name__)
        for k, q in QUERIES.items()
        if q.fn.__name__ != k
    ]
    assert not bad, bad


def test_bpe_encode_vocab_attach_broadcasts_at_small_scale(spark):
    """corpus_bpe_encode's trained-vocab attach is the dictionary-join
    shape: size-gated broadcast at test scale (the vocab is tiny), no
    hint pinning it — at 100 TB the same code degrades to a shuffled
    word-key join when the size gate fails."""
    plan = plan_of(spark, "corpus_bpe_encode")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body, plan
    # No forced hint anywhere in the query (degradation path stays open).
    assert "ResolvedHint" not in plan, plan


def test_shortlist_rerank_prunes_with_window_group_limit(spark):
    """ann_shortlist_rerank's stage-1 shortlist must push
    WindowGroupLimit (per-partition top-N pruning before the window
    sort) — at scale this is what keeps the full corpus from being
    sorted per query."""
    plan = plan_of(spark, "ann_shortlist_rerank")
    body = plan.split("== Physical Plan ==")[-1]
    assert "WindowGroupLimit" in body, plan


def test_skew_salted_join_is_sort_merge_on_salt(spark):
    """The salted JOIN query must actually exercise the salting path:
    a SortMergeJoin keyed on (k, salt) — never a broadcast (which
    would make the salt decorative; at 100 TB the dim can't
    broadcast)."""
    import re

    plan = plan_of(spark, "join_skew_salted_hot_users")
    body = plan.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" in body, plan
    assert "BroadcastHashJoin" not in body, plan
    assert re.search(r"SortMergeJoin.*salt", body, re.S), plan


def test_skyline_scan_has_no_global_window(spark):
    """The skyline's dominance scan must ride the two-phase
    distributed running max — no single-partition exchange anywhere
    in the plan (the all-pairs/global-window trap it exists to
    avoid)."""
    plan = plan_of(spark, "mart_skyline_revenue_qty")
    body = plan.split("== Physical Plan ==")[-1]
    assert "SinglePartition" not in body, plan


def test_mann_whitney_no_global_window(spark):
    """Rank mass comes from the distributed prefix sum over the value
    grain — never a fact-wide single-partition rank window. The final
    1-row statistic merge IS a SinglePartition exchange (one partial
    row per task — map-side combined, legal), so the pin is: every
    Window in the plan keys on the scan's _pid, and the only
    SinglePartition exchange feeds the final HashAggregate merge, not
    a Sort/Window."""
    import re

    plan = plan_of(spark, "stats_mann_whitney_u")
    body = plan.split("== Physical Plan ==")[-1]
    # No window/sort may run single-partition: a Window node never
    # appears without a _pid partition key in this plan.
    for wm in re.finditer(r"\(\d+\) Window\n(?:.*\n)*?Arguments: ([^\n]*)", body):
        assert "_pid" in wm.group(1), plan
    # partial aggregation precedes the lone SinglePartition merge.
    assert "partial_sum" in body, plan


def test_chi_square_margins_broadcast(spark):
    """Margins and the grand total join back to the cell table as
    broadcasts of tiny aggregates — no shuffle join anywhere."""
    plan = plan_of(spark, "stats_chi_square_independence")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body or "BroadcastNestedLoopJoin" in body
    assert "SortMergeJoin" not in body, plan


def test_rrf_rankings_no_global_window(spark):
    """Both retriever rankings ride the chained distributed rank —
    no single-partition row_number over the corpus. (The final top-10
    is a TakeOrdered, not a sort.)"""
    plan = plan_of(spark, "ann_rrf_fusion")
    body = plan.split("== Physical Plan ==")[-1]
    assert "SinglePartition" not in body, plan
    assert "TakeOrderedAndProject" in body, plan


def test_binary_hamming_scan_stays_jvm_side(spark):
    """Bit-pack + Hamming must be whole-stage-codegen integer ops:
    no python UDF evaluation anywhere; the per-dim means enter as a
    broadcast (1-row aggregate), and the candidate scan ends in a
    TakeOrdered shortlist."""
    plan = plan_of(spark, "ann_binary_hamming_topk")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body
    assert "TakeOrderedAndProject" in body, plan
    assert "BroadcastNestedLoopJoin" in body or "BroadcastExchange" in body


def test_bh_fdr_ranks_distributed_and_topk(spark):
    """Significance ranks come from the distributed rank on the
    integer key; m and the BH cutoff are broadcast 1-row aggregates;
    the final top-20 is a TakeOrdered, not a global sort."""
    plan = plan_of(spark, "stats_bh_fdr")
    body = plan.split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in body, plan
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body


def test_ivfpq_probed_lists_only_and_topk(spark):
    """The ADC scan joins candidates against a BROADCAST per-probed-
    list lookup table (inner join = non-probed lists pruned), the
    assignment/encode kernels are the sanctioned Arrow pandas UDFs,
    and the final top-k is a TakeOrdered."""
    plan = plan_of(spark, "ann_ivfpq_topk")
    body = plan.split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in body, plan
    assert "BroadcastHashJoin" in body, plan
    assert "BatchEvalPython" not in body, plan  # row-at-a-time: banned


# ---------------------------------------------------------------------------
# Round-7 additions: sketches, batch retrieval, survival, CUPED, nDCG,
# substring spans, IRLS
# ---------------------------------------------------------------------------
def test_bloom_filter_words_broadcast(spark):
    """The Bloom word table is control-plane sized by construction
    (547 int64 words whatever the build side); the probe join must be
    a broadcast — a shuffled probe would defeat the structure's whole
    purpose as a pre-filter."""
    plan = plan_of(spark, "sketch_bloom_membership")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body, plan
    assert "SortMergeJoin" not in body, plan
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body


def test_countmin_grid_join_broadcasts(spark):
    """The CMS grid (<=1,024 rows) and the top-20 probe set are both
    control-plane sized; nothing in the plan may shuffle-sort a join,
    and the estimate path stays JVM-side integer arithmetic."""
    plan = plan_of(spark, "sketch_countmin_frequency")
    body = plan.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" not in body, plan
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body


def test_batch_range_search_broadcasts_queries(spark):
    """The 5-row query batch broadcasts onto the corpus scan
    (BroadcastNestedLoopJoin); the corpus itself must never exchange
    before scoring — the only shuffle is the small-result sort."""
    plan = plan_of(spark, "ann_batch_range_search")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" in body, plan
    assert "SortMergeJoin" not in body, plan


def test_ndcg_single_fact_shuffle(spark):
    """lineitem x orders is the ONLY sort-merge join (fact-fact);
    customer/nation dims and the dcg/idcg join-back must broadcast.
    The explain string counts each SMJ twice (tree line + detail
    block), so one fact-fact join = count 2."""
    plan = plan_of(spark, "mart_ndcg_ranking_quality")
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("(") and body.count("SortMergeJoin") <= 2, plan
    assert "BroadcastHashJoin" in body, plan


def test_kaplan_meier_scans_are_distributed(spark):
    """Both cumulative passes (at-risk mass, log-survival) ride the
    two-phase distributed scan — no single-partition global window
    (a `Window` with a non-empty partition spec is fine; an empty
    one serializes the duration domain onto one task)."""
    import re

    plan = plan_of(spark, "stats_kaplan_meier_churn")
    body = plan.split("== Physical Plan ==")[-1]
    # The two-phase scan's signature (same proxy assertion as the
    # other prefix-scan consumers): every Window node is partitioned
    # by the physical partition id — a regression to a global window
    # would print an empty/non-_pid partition spec here.
    windows = re.findall(
        r"^\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)$", body, re.MULTILINE
    )
    assert windows, plan
    for args in windows:
        assert "_pid" in args, plan
    assert "BatchEvalPython" not in body
    assert "CartesianProduct" not in body, plan


def test_cuped_is_one_pass_no_python(spark):
    """Nine sufficient statistics from map-side-combined aggregation;
    every join in the readout is a broadcast of a 1-2 row aggregate;
    no Python anywhere."""
    plan = plan_of(spark, "stats_cuped_ab_lift")
    body = plan.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" not in body, plan
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body
    assert "HashAggregate" in body, plan


def test_substring_spans_islands_window_is_pair_scoped(spark):
    """The gaps-and-islands row_number partitions by (pair, diagonal)
    — match-structure grain. An empty partition spec would serialize
    every matched window onto one task."""
    plan = plan_of(spark, "dedup_exact_substring_spans")
    body = plan.split("== Physical Plan ==")[-1]
    assert "row_number" in body, plan
    # the windowspecdefinition's partition key must carry the pair
    # columns (da, db, diag) before the ordering spec
    import re

    w = re.search(r"row_number\(\) windowspecdefinition\(([^)]*)", body)
    assert w, plan
    spec = w.group(1)
    assert "da#" in spec and "db#" in spec and "diag#" in spec, spec


def test_irls_iterations_broadcast_the_beta_row(spark):
    """Each IRLS pass re-joins the 1-row beta aggregate onto the fact
    via broadcast; the fact itself is never exchanged for it, and the
    sigmoid stays whole-stage JVM code (no Python)."""
    plan = plan_of(spark, "stats_logistic_regression_irls")
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" in body, plan
    assert "SortMergeJoin" not in body, plan
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body


# ---------------------------------------------------------------------------
# Round-10 pins (VERDICT r9 #7): the load-bearing plan features of the
# round-9 additions, so a regression shows up as a plan diff, not just
# a scale-curve surprise.
# ---------------------------------------------------------------------------

def test_winnowing_pairs_is_bucket_equi_join(spark):
    """The fingerprint pair stage must be a hash-disjoint EQUI-join on
    fp (the LSH band-join shape) with a map-side-combinable pair
    count — never a nested-loop/cartesian all-pairs, which is the
    failure mode when a join condition stops being an equi-key."""
    plan = plan_of(spark, "dedup_winnowing_pairs")
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body, plan
    assert "BroadcastNestedLoopJoin" not in body, plan
    # the fp bucket join survives as a HASH equi-join physical op (at
    # sf0.001 the build side broadcasts; at scale AQE picks SMJ/SHJ —
    # all three are the equi-key shape, unlike a nested loop)
    assert (
        "SortMergeJoin" in body
        or "ShuffledHashJoin" in body
        or "BroadcastHashJoin" in body
    ), plan
    # pair-count agg partials (per-partition combine before exchange)
    assert body.count("HashAggregate") >= 2, plan


def test_neighbor_jaccard_broadcasts_degree_table(spark):
    """Both degree attach joins (dx, dz) must broadcast — the wedge
    table (data-sized) is never exchanged for a node-sized dim — and
    the final top-20 must TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, "graph_neighbor_jaccard")
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in body, plan
    assert "CartesianProduct" not in body, plan


def test_recursive_hierarchy_compiles_to_union_loop(spark):
    """The recursive CTE must execute as Spark 4's UnionLoop (iterative
    frontier expansion), not be silently rewritten into something
    non-recursive."""
    plan = plan_of(spark, "sql_recursive_hierarchy")
    assert "UnionLoop" in plan, plan


def test_fuzzy_levenshtein_pair_stage_is_equi_join(spark):
    """The capped_block_self_pairs rewrite (VERDICT r9 #1) must keep
    the pair stage an equi-join — a regression to a non-equi condition
    would resurface as a nested-loop join over the corpus. At sf0.001
    no block exceeds the cap, so the control-plane gate must have
    returned the PLAIN plan: exactly one join, no explode cells."""
    plan = plan_of(spark, "dedup_fuzzy_levenshtein")
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body, plan
    assert "BroadcastNestedLoopJoin" not in body, plan
    assert (
        "SortMergeJoin" in body
        or "ShuffledHashJoin" in body
        or "BroadcastHashJoin" in body
    ), plan
    # unskewed regime: the gate chose the plain single-join plan (the
    # triangle machinery would show as Generate + a Union)
    assert "Generate" not in body, plan
    assert "Union" not in body, plan


def test_cdc_chunks_expression_tree_stays_compact(spark):
    """Pin for the round-10 codegen lesson (SCALE.md §41, VERDICT r10
    #7): corpus_cdc_chunks' first implementation inlined the chunk-
    bounds array into every consumer (Catalyst project-collapse
    duplicates, not shares, subtrees), and the duplicated jumbo
    expression cost ~8.6 MINUTES of OPTIMIZER time on first run. The
    shipped plan folds the window hash inside one let-bound lambda and
    its optimized plan string measures ~4.6k chars; a refactor that
    reintroduces duplicated jumbo subtrees blows past any generous
    ceiling (the broken version measured orders of magnitude larger
    and, more to the point, took minutes to even reach toString)."""
    from data_warehouse_opensky_spark.plans import QUERIES

    df = QUERIES["corpus_cdc_chunks"].fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(opt) < 25_000, f"optimized plan ballooned: {len(opt)} chars"
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert len(phys) < 30_000, f"physical plan ballooned: {len(phys)} chars"


def test_prefix_filter_broadcast_gate_both_branches(spark):
    """The r11 sf3 probe found dedup_prefix_filter_jaccard OOM'ing the
    driver at 30x: compressed-size broadcast selection under-estimates
    array<string>-payload relations by 20-50x in-heap. The fix is a
    control-plane token-count gate. Pin BOTH branches: at test scale
    the plan keeps its all-broadcast shape (no regression from the
    gate itself); with the ceiling forced to 0 every join must be
    shuffle-hash — the driver never builds a broadcast relation."""
    from data_warehouse_opensky_spark.plans import dedup as DD
    from data_warehouse_opensky_spark.plans import QUERIES

    def body(df):
        return explain_str(df).split("== Physical Plan ==")[-1]

    small = body(QUERIES["dedup_prefix_filter_jaccard"].fn(spark, SF))
    assert "BroadcastHashJoin" in small, small

    # drop the first call's persisted subtrees: CacheManager otherwise
    # substitutes them by plan-equality into the second call, and the
    # explain would show the cached (broadcast-era) child plan
    spark.catalog.clearCache()
    orig = DD.PREFIX_BROADCAST_TOKEN_CEIL
    DD.PREFIX_BROADCAST_TOKEN_CEIL = 0
    try:
        big = body(QUERIES["dedup_prefix_filter_jaccard"].fn(spark, SF))
    finally:
        DD.PREFIX_BROADCAST_TOKEN_CEIL = orig
        spark.catalog.clearCache()
    assert "BroadcastHashJoin" not in big, big
    assert "ShuffledHashJoin" in big, big
    assert "CartesianProduct" not in big, big


def test_gopher_line_grain_fixture(spark, tmp_path):
    """The driver's synthetic documents are single-line and
    symbol-free, so the line-grain Gopher gates (r12: symbol ratios,
    bullet/ellipsis line fractions, duplicate line/paragraph
    fractions) are degenerate there. This fixture is the
    non-degenerate gate: multi-line docs with bullets, ellipses,
    hashes, and duplicated lines/paragraphs, checked BOTH against the
    DuckDB oracle (engine parity on real newlines) and against
    hand-computed expectations (so a shared bug in both programs
    can't self-confirm)."""
    import duckdb
    import pandas as pd

    from data_warehouse_opensky_spark.plans import QUERIES
    from .oracle_harness import compare

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                # 4 lines: 2 bullets, 1 ellipsis-ending; words with # and ...
                "• alpha beta\n- gamma delta #tag\nplain words here...\nend line",
                # dup lines: 'same line' x3 of 4 lines; dup paragraph: 'para one' x2 of 3
                "same line\nsame line\nsame line\nunique",
                "para one\n\npara one\n\npara two",
                # docs 4/5 share ONE line ACROSS documents (boilerplate)
                "footer line\nunique four",
                "footer line\nunique five",
            ],
            "lang": ["en"] * 5,
            "source": ["t"] * 5,
            "n_chars": [0] * 5,
        }
    )
    fixture = tmp_path / "gopher_fixture"
    fixture.mkdir()
    docs.to_parquet(fixture / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{fixture / 'documents.parquet'}'"
    )

    for name in (
        "text_gopher_symbol_lines",
        "text_gopher_dup_lines",
        "corpus_boilerplate_lines",
    ):
        q = QUERIES[name]
        r = compare(name, q.fn(spark, str(fixture)), q.oracle, con)
        assert r.ok, (name, r.errors)

    # corpus-level boilerplate: the line shared by docs 4 and 5 is
    # boilerplate (cross-DOCUMENT); doc 2's thrice-repeated line is
    # NOT (one document — the countDistinct(doc_id) semantics)
    boiler = {
        row["doc_id"]: row
        for row in QUERIES["corpus_boilerplate_lines"]
        .fn(spark, str(fixture))
        .collect()
    }
    assert boiler[4]["boiler_lines"] == 1
    assert boiler[5]["boiler_lines"] == 1
    assert boiler[4]["boiler_chars"] == len("footer line")
    assert boiler[4]["kept_chars"] == len("footer line\nunique four") - len(
        "footer line"
    )
    assert boiler[2]["boiler_lines"] == 0
    assert boiler[1]["boiler_lines"] == 0

    sym = {
        row["doc_id"]: row
        for row in QUERIES["text_gopher_symbol_lines"]
        .fn(spark, str(fixture))
        .collect()
    }
    # doc 1: 9 ws-words (split on ' ' only — newlines don't separate),
    # 1 '#', 1 '...'; 4 lines, 2 bullet, 1 ellipsis-ending
    assert sym[1]["n_words"] == 9
    assert sym[1]["n_lines"] == 4
    assert sym[1]["hash_word_ppm"] == 1_000_000 // 9
    assert sym[1]["ellipsis_word_ppm"] == 1_000_000 // 9
    assert sym[1]["bullet_line_ppm"] == 500_000
    assert sym[1]["ellipsis_line_ppm"] == 250_000
    # 1 hash / 9 words = 111111 ppm > the 0.1 Gopher bound — the
    # symbol gate FIRES; line-shape gates hold (50% bullets <= 90%)
    assert sym[1]["gate_symbol"] == 0 and sym[1]["gate_bullet"] == 1
    assert sym[1]["passes_symbol_gates"] == 0
    # docs 2/3 are symbol- and bullet-free — all gates pass
    assert sym[2]["passes_symbol_gates"] == 1
    assert sym[3]["passes_symbol_gates"] == 1
    assert sym[3]["n_lines"] == 5  # '\n\n' splits into an empty middle line

    dup = {
        row["doc_id"]: row
        for row in QUERIES["text_gopher_dup_lines"]
        .fn(spark, str(fixture))
        .collect()
    }
    # doc 2: 4 lines, 'same line' x3 -> 2 duplicates; chars 9*3+6=33,
    # dup chars 18 -> 545454 ppm; fails both line gates
    assert dup[2]["n_lines"] == 4
    assert dup[2]["dup_line_ppm"] == 2 * 1_000_000 // 4
    assert dup[2]["dup_line_char_ppm"] == 18 * 1_000_000 // 33
    assert dup[2]["passes_dup_gates"] == 0
    # doc 3: 3 paragraphs, 'para one' x2 -> 1 dup para (33%), chars
    # 8*2+8=24, dup 8 -> 333333 ppm; at LINE grain the 5 lines hold 2
    # duplicates ('para one' repeat + the '' between-paragraph repeat)
    assert dup[3]["n_paras"] == 3
    assert dup[3]["dup_para_ppm"] == 1_000_000 // 3
    assert dup[3]["dup_para_char_ppm"] == 8 * 1_000_000 // 24
    assert dup[3]["dup_line_ppm"] == 2 * 1_000_000 // 5
    assert dup[3]["passes_dup_gates"] == 0
    # doc 1: everything clean -> passes
    assert dup[1]["passes_dup_gates"] == 1
