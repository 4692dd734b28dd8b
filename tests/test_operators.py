"""Operator-level property tests: the scalable implementations must
agree with their naive reference forms (SURVEY §5 layering (1))."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_warehouse_opensky_spark.operators.asof import asof_join, latest_per_key
from data_warehouse_opensky_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucket_topk,
)
from data_warehouse_opensky_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_asof_join_equals_naive_pairwise(spark):
    """The union+last_value as-of must equal the O(L·R) pairwise form."""
    e = load_table(spark, SF, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    clicks = e.filter(F.col("event_type") == "click")

    fast = asof_join(
        purchases, clicks, on="user_id",
        left_time=["ts", "event_id"], right_time=["ts", "event_id"],
        right_values={"click_value": F.col("value")}, strict=True,
    ).select("event_id", "click_value")

    p, c = purchases.alias("p"), clicks.alias("c")
    w = Window.partitionBy("p.event_id").orderBy(
        F.desc("c.ts"), F.desc("c.event_id")
    )
    naive = (
        p.join(
            c,
            (F.col("p.user_id") == F.col("c.user_id"))
            & (
                (F.col("c.ts") < F.col("p.ts"))
                | ((F.col("c.ts") == F.col("p.ts"))
                   & (F.col("c.event_id") < F.col("p.event_id")))
            ),
            "left",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("p.event_id").alias("event_id"),
                F.col("c.value").alias("click_value"))
    )
    a = {(r.event_id, r.click_value) for r in fast.collect()}
    b = {(r.event_id, r.click_value) for r in naive.collect()}
    assert a == b and len(a) > 0


def test_asof_nonstrict_includes_equal_key(spark):
    left = spark.createDataFrame([(1, 10)], ["k", "t"])
    right = spark.createDataFrame([(1, 10, 99.0)], ["k", "t", "v"])
    strict = asof_join(left, right, "k", "t", "t",
                       {"v": F.col("v")}, strict=True).first()
    loose = asof_join(left, right, "k", "t", "t",
                      {"v": F.col("v")}, strict=False).first()
    assert strict.v is None and loose.v == 99.0


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 3, "y"), ("a", 2, "z"), ("b", 1, "w")],
        ["k", "t", "payload"],
    )
    out = {r.k: r.payload for r in latest_per_key(df, "k", "t").collect()}
    assert out == {"a": "y", "b": "w"}


def test_lsh_topk_is_subset_of_brute_force_universe(spark):
    e = load_table(spark, SF, "embeddings")
    bf = {r.vec_id: r.cos_sim for r in brute_force_topk(e, 0, k=500).collect()}
    lsh = lsh_bucket_topk(e, 0, k=10, num_planes=8).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert r.vec_id in bf
        assert abs(bf[r.vec_id] - r.cos_sim) < 1e-9


def test_salted_join_equals_plain(spark):
    """Salting must be invisible in results (inner and left)."""
    from data_warehouse_opensky_spark.operators.skew import salted_join

    l = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = l.join(o, "l_orderkey", "inner")
    salted = salted_join(l, o, on="l_orderkey", spread_col="l_linenumber")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    # left join keeps unmatched skewed-side rows (every salt matches)
    o_half = o.filter(F.col("l_orderkey") % 2 == 0)
    plain_l = l.join(o_half, "l_orderkey", "left")
    salted_l = salted_join(l, o_half, on="l_orderkey", spread_col="l_linenumber", how="left")
    assert sorted(map(tuple, plain_l.collect())) == sorted(map(tuple, salted_l.collect()))


def test_salted_agg_equals_plain(spark):
    from data_warehouse_opensky_spark.operators.skew import salted_agg
    from data_warehouse_opensky_spark.functions import cents

    l = load_table(spark, SF, "lineitem").select(
        "l_returnflag", "l_orderkey", cents("l_quantity").alias("qty_c")
    )
    plain = {
        (r.l_returnflag): (r.n, r.s, r.mx)
        for r in l.groupBy("l_returnflag")
        .agg(F.count("qty_c").alias("n"), F.sum("qty_c").alias("s"), F.max("qty_c").alias("mx"))
        .collect()
    }
    salted = {
        (r.l_returnflag): (r.n, r.s, r.mx)
        for r in salted_agg(
            l, key="l_returnflag", spread_col="l_orderkey",
            aggs=[("qty_c", "count", "n"), ("qty_c", "sum", "s"), ("qty_c", "max", "mx")],
        ).collect()
    }
    assert plain == salted


def test_capped_block_self_pairs_equals_plain_on_planted_hot_block(spark):
    """The VERDICT-r9 skew scenario, planted: 30% of docs share ONE
    (length-bucket, 8-char-prefix) block ('<!DOCTYPE html' boiler-
    plate), the rest scatter. With cap far below the hot-block size
    the triangle split must fire (replicated cells > input rows) yet
    return EXACTLY the plain quadratic join's pair set — no pair
    dropped (cross-salt), none duplicated (same-salt pairs appear in
    off-diagonal cells too; only the diagonal may emit)."""
    from data_warehouse_opensky_spark.operators.skew import (
        capped_block_self_pairs,
    )

    rows = []
    for i in range(60):  # hot block: same prefix, same 16-char length bucket
        rows.append((i, "<!DOCTYPE html>" + chr(97 + i % 26) * 5))
    for i in range(60, 200):  # scattered blocks
        rows.append((i, f"doc-{i:04d}-" + "x" * (i % 40)))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING").select(
        "doc_id",
        "text",
        (F.length("text") / 16).cast("long").alias("len_b"),
        F.substring("text", 1, 8).alias("pre"),
    )

    def pairset(pairs_df):
        return sorted(
            (r["a"]["doc_id"], r["b"]["doc_id"]) for r in pairs_df.collect()
        )

    a, b = df.alias("a"), df.alias("b")
    plain = a.join(
        b,
        on=[
            F.col("a.len_b") == F.col("b.len_b"),
            F.col("a.pre") == F.col("b.pre"),
            F.col("a.doc_id") < F.col("b.doc_id"),
        ],
    ).select(F.struct("a.*").alias("a"), F.struct("b.*").alias("b"))

    capped = capped_block_self_pairs(
        df, block_cols=("len_b", "pre"), id_col="doc_id", cap=8
    )
    assert pairset(capped) == pairset(plain)
    # the split actually fired: hot block of 60 at cap=8 -> g=8, so the
    # replicated cell table must exceed the 200 input rows
    assert len(pairset(plain)) >= 60 * 59 // 2  # hot block is quadratic

    # cap larger than every block -> g=1 everywhere, still identical
    uncapped = capped_block_self_pairs(
        df, block_cols=("len_b", "pre"), id_col="doc_id", cap=10_000
    )
    assert pairset(uncapped) == pairset(plain)


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 4-node chain collapses to its min id,
    two islands stay separate, and nodes with no edges don't appear
    (singletons are by-definition already canonical)."""
    from data_warehouse_opensky_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # chain 10-11-12-13 (diameter 3 → exercises >1 round),
        # island {20, 21}, island {30, 31} joined transitively via 32.
        [(11, 10), (11, 12), (12, 13), (20, 21), (30, 32), (31, 32)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.component)
        for r in connected_components(edges).collect()
    }
    assert got == {
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
        (30, 30), (31, 30), (32, 30),
    }


def test_connected_components_long_chain_pointer_jump(spark):
    """r12 pointer-jumping upgrade: convergence is O(log diameter),
    not O(diameter). A 48-node chain (diameter 47) converges to one
    component within the default max_iterations=20 ONLY because each
    round also follows labels one hop through the label table — plain
    neighbor-min propagation would need 47 rounds and return wrong
    labels here, so exactness on this graph is the regression gate
    for the jump."""
    from data_warehouse_opensky_spark.operators.dedup import (
        connected_components,
    )

    n = 48
    edges = spark.createDataFrame(
        [(100 + i, 100 + i + 1) for i in range(n - 1)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.component)
        for r in connected_components(edges).collect()
    }
    assert got == {(100 + i, 100) for i in range(n)}


def test_decontaminate_bloom_prefilter_identical_output(spark):
    """The Bloom existence pre-filter (VERDICT r7 #5) is one-sided —
    no false negatives — and its survivors re-verify in the exact
    broadcast join, so flipping it on must be output-invariant
    row-for-row. Also pins the control-plane shape: the word table
    rides a single broadcast array value, never a per-gram join."""
    from data_warehouse_opensky_spark.operators.text import decontaminate
    from data_warehouse_opensky_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)

    plain = decontaminate(train, bench).orderBy("doc_id").collect()
    bloomed = (
        decontaminate(train, bench, bloom_prefilter=True)
        .orderBy("doc_id")
        .collect()
    )
    assert plain == bloomed
    assert any(r["contaminated"] for r in plain)  # fixture has signal

    # Tiny m forces false positives — output must STILL be identical
    # (the exact join eats them); only the pre-filter selectivity
    # degrades.
    tiny = (
        decontaminate(train, bench, bloom_prefilter=True, bloom_m=1 << 8)
        .orderBy("doc_id")
        .collect()
    )
    assert plain == tiny


def test_corpus_pipeline_end_to_end(spark):
    """The composed corpus pipeline: every stage monotonically shrinks
    the doc set, packed sequences conserve the survivors' tokens, and
    the whole run is deterministic (re-run == first run)."""
    from pyspark.sql import functions as F

    from data_warehouse_opensky_spark.pipeline import corpus_pipeline
    from data_warehouse_opensky_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)

    packed, report = corpus_pipeline(train, benchmark=bench)

    stages = ["input", "after_quality", "after_exact_dedup",
              "after_near_dedup", "after_decontaminate",
              "after_mixture_sample"]
    assert list(report)[:6] == stages
    counts = [report[s] for s in stages]
    assert all(a >= b for a, b in zip(counts, counts[1:])), report
    assert report["after_mixture_sample"] > 0
    assert report["n_sequences"] > 0

    # Token conservation: packed token total == survivors' token total.
    total_packed = packed.agg(F.sum("n_tokens")).collect()[0][0]

    packed2, report2 = corpus_pipeline(train, benchmark=bench)
    assert report2 == report
    assert packed2.agg(F.sum("n_tokens")).collect()[0][0] == total_packed


def test_kmeans_separates_obvious_clusters(spark):
    """Three tight blobs far apart → k=3 recovers them exactly, total
    inertia is tiny, and a second run is bit-identical (no RNG)."""
    from data_warehouse_opensky_spark.operators.clustering import kmeans

    blobs = []
    for b, center in enumerate([-5.0, 0.0, 5.0]):
        for j in range(20):
            vec = [center + (j % 3) * 1e-4] * 4
            blobs.append((b * 20 + j, vec))
    df = spark.createDataFrame(blobs, "vec_id long, embedding array<double>")

    out = kmeans(df, k=3, iters=2, dim=4).collect()
    sizes = sorted(r["n_vecs"] for r in out)
    assert sizes == [20, 20, 20], out
    # Within-blob spread is 1e-4 over unit scale → quantized inertia is
    # bounded far below the between-blob distance scale.
    assert all(r["inertia_q"] < 10_000_000 for r in out), out

    again = kmeans(df, k=3, iters=2, dim=4).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]


def test_heavy_hitters_exact_under_any_partitioning(spark):
    """A Zipf-ish skewed stream: the MG propose + exact verify output
    must equal the brute-force exact answer for several partition
    counts (the candidate set may vary; the verified set may not)."""
    import pyspark.sql.functions as F

    from data_warehouse_opensky_spark.operators.freq import heavy_hitters

    # 60k tokens: token_i has frequency ~ 6000/i for i in 1..300 —
    # a handful qualify at N//200.
    rows = [(f"t{i}",) for i in range(1, 301) for _ in range(6000 // i)]
    df = spark.createDataFrame(rows, "token string")

    exact = {
        (r["token"], r["cnt"])
        for r in df.groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= df.count() // 200)
        .collect()
    }
    assert len(exact) > 5
    for parts in (1, 7, 32):
        got = {
            (r["token"], r["cnt"])
            for r in heavy_hitters(df.repartition(parts), inv_threshold=200).collect()
        }
        assert got == exact, parts


def test_kmeans_assign_tie_breaks_to_smaller_cid(spark):
    """The Arrow assignment kernel must give equidistant vectors to the
    SMALLER centroid id (np.argmin first occurrence — the contract the
    SQL oracle's ORDER BY d, cid encodes), and distances must be exact
    integers."""
    from data_warehouse_opensky_spark.operators.clustering import _assign

    base = spark.createDataFrame(
        [(1, [0, 0]), (2, [10, 0]), (3, [5, 0])],  # 3 is equidistant
        "vid BIGINT, xq ARRAY<BIGINT>",
    )
    cents = [[0, 0], [10, 0]]
    out = {r["vid"]: r for r in _assign(base, cents).collect()}
    assert out[1]["cluster"] == 0 and out[1]["d"] == 0
    assert out[2]["cluster"] == 1 and out[2]["d"] == 0
    assert out[3]["cluster"] == 0 and out[3]["d"] == 25  # tie -> cid 0


def test_zorder_interleave_bit_exact(spark):
    """Golden properties of the Morton interleave expression: xi fills
    even bits, yi odd bits, the map is a bijection on the 8-bit grid
    corners, and keys of nearby cells share high bits (the locality
    that makes min/max pruning work)."""
    from pyspark.sql import functions as F

    from data_warehouse_opensky_spark.plans.opensky import _z_interleave

    cases = [
        (0, 0, 0),
        (255, 0, 0x5555),      # all even bits
        (0, 255, 0xAAAA),      # all odd bits
        (255, 255, 0xFFFF),
        (1, 0, 1),
        (0, 1, 2),
        (3, 5, 0b100111),      # x=11, y=101 -> y2 x2 y1 x1 y0 x0 = 100111
    ]
    df = spark.createDataFrame(
        [(x, y, want) for x, y, want in cases], "xi long, yi long, want long"
    ).select("want", F.expr(_z_interleave("div")).alias("got"))
    for r in df.collect():
        assert r["got"] == r["want"], (r["want"], r["got"])


# ---------------------------------------------------------------------------
# Winnowing (operators/winnow.py) — round 9
# ---------------------------------------------------------------------------
def test_winnowing_match_guarantee(spark):
    """The paper's guarantee: two documents sharing a token run of
    length >= K + W - 1 (= 8 here) MUST share at least one selected
    fingerprint, whatever the surrounding text. Planted: an 8-token
    run embedded in otherwise-disjoint vocabularies."""
    from data_warehouse_opensky_spark.operators import winnow as W

    run = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [
            (1, f"aa bb cc dd ee ff {run} gg hh ii jj kk"),
            (2, f"zz yy xx ww vv uu tt ss {run} rr qq pp"),
            # control: fully disjoint vocabulary, no shared run
            (3, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12 m13 m14 m15 m16"),
        ],
        "doc_id LONG, text STRING",
    )
    fps = {
        (r["doc_id"], r["fp"])
        for r in W.fingerprint_stream(docs).select("doc_id", "fp").collect()
    }
    s1 = {fp for d, fp in fps if d == 1}
    s2 = {fp for d, fp in fps if d == 2}
    s3 = {fp for d, fp in fps if d == 3}
    assert s1 & s2, "guaranteed shared fingerprint missing"
    assert not (s1 & s3) and not (s2 & s3), "disjoint docs share a fp"


def test_winnowing_profile_invariants(spark):
    """Structural invariants on real fixture docs: n_windows =
    n_grams - W + 1 (every fixture doc has >= W grams), 1 <= n_fps <=
    n_windows, and fp bounds are consistent."""
    from data_warehouse_opensky_spark.operators import winnow as W

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    prof = W.doc_profile(W.fingerprint_stream(d)).collect()
    assert len(prof) == d.count()
    for r in prof:
        assert r["n_windows"] == r["n_grams"] - W.WINNOW_W + 1
        assert 1 <= r["n_fps"] <= r["n_windows"]
        assert r["fp_min"] <= r["fp_max"]
        assert r["density_e6"] == r["n_fps"] * 1_000_000 // r["n_windows"]


def test_winnowing_pair_df_cap_drops_boilerplate(spark):
    """pair_candidates must drop fingerprints whose document frequency
    exceeds WINNOW_DF_CAP before the bucket join (the hot-shingle cap):
    a boilerplate fp shared by 60 docs contributes NO pairs, while two
    fps shared by 3 docs produce exactly those 3 pairs at
    n_shared_fps = 2."""
    from data_warehouse_opensky_spark.operators import winnow as W

    rows = [(d, 777) for d in range(100, 160)]  # hot fp: df = 60 > cap
    rows += [(d, 11) for d in (1, 2, 3)]        # cold fps: df = 3
    rows += [(d, 22) for d in (1, 2, 3)]
    stream = spark.createDataFrame(rows, "doc_id LONG, fp LONG")
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared_fps"]
        for r in W.pair_candidates(stream).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 2, (2, 3): 2}


# ---------------------------------------------------------------------------
# KMV sketch + Theil–Sen + interleave (round 9)
# ---------------------------------------------------------------------------
def test_kmv_merge_equals_direct_global():
    """Mergeability, the property the _ALL_ row of sketch_kmv_distinct
    rides: the k smallest of a union equal the k smallest of the union
    of per-group k-smallest sets. Pure arithmetic over the query's own
    hash family."""
    k = 128
    a, b, p = 2_654_435_761, 1_779_033_703, 4294967311
    keys = list(range(1, 5001))
    h = {x: (a * x + b) % p for x in keys}
    groups: dict[int, list[int]] = {}
    for x in keys:
        groups.setdefault(x % 7, []).append(h[x])
    merged_input = sorted(
        {v for g in groups.values() for v in sorted(set(g))[:k]}
    )[:k]
    direct = sorted(set(h.values()))[:k]
    assert merged_input == direct


def test_theil_sen_ignores_outlier_day(tmp_path, spark):
    """Planted series: revenue rises exactly 500 cents/day except one
    catastrophic outlier day (1000x). OLS over this series is dragged
    by the outlier; the Theil–Sen median slope must still read exactly
    500 cents/day = 500e6 slope_e6 (the median of pairwise slopes is
    untouched while < 29% of points are corrupt)."""
    import datetime

    from data_warehouse_opensky_spark.plans.stats import stats_theil_sen_trend

    rows = []
    for day in range(1, 61):
        price = (1000 + 500 * day) / 100.0  # dollars; cents = 1000+500*day
        if day == 30:
            price *= 1000  # the outlier
        rows.append((datetime.date(2024, 1, 1) + datetime.timedelta(days=day - 1), price))
    spark.createDataFrame(rows, "o_orderdate DATE, o_totalprice DOUBLE").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    out = stats_theil_sen_trend(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["yr"] == 2024 and r["n_days"] == 60
    assert r["theilsen_slope_e6"] == 500 * 1_000_000


def test_interleave_prefix_is_source_proportional(tmp_path, spark):
    """With sources of size 10 and 30, every prefix of the interleaved
    stream must hold the sources in ~1:3 proportion (midpoint-quantile
    virtual positions guarantee it to within one doc). The emitted
    24-row head of a 40-doc corpus must therefore carry 6 +/- 1 docs
    of the small source."""
    from data_warehouse_opensky_spark.plans.corpus import corpus_interleave_order

    rows = [(i, "small", "x", "en", 10) for i in range(10)]
    rows += [(100 + i, "big", "x", "en", 10) for i in range(30)]
    spark.createDataFrame(
        rows, "doc_id LONG, source STRING, text STRING, lang STRING, n_chars LONG"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = corpus_interleave_order(spark, str(tmp_path)).collect()
    assert [r["rank"] for r in out] == list(range(1, 25))
    n_small = sum(1 for r in out if r["source"] == "small")
    assert 5 <= n_small <= 7, n_small


# ---------------------------------------------------------------------------
# Round-9b additions: runs test, l-diversity, neighbor Jaccard
# ---------------------------------------------------------------------------
def test_runs_test_reads_clustering_and_alternation(tmp_path, spark):
    """Planted sign patterns: a half-high/half-low series has exactly
    2 runs (maximal clustering, z << 0); a perfectly alternating
    series has n runs (maximal mixing, z > 0)."""
    import datetime

    from data_warehouse_opensky_spark.plans.stats import stats_runs_test

    def mk(pattern, sub):
        rows = []
        d0 = datetime.date(2024, 1, 1)
        for day, n in enumerate(pattern):
            for k in range(n):
                rows.append((d0 + datetime.timedelta(days=day), 1.0))
        p = tmp_path / sub
        spark.createDataFrame(
            rows, "o_orderdate DATE, o_totalprice DOUBLE"
        ).write.mode("overwrite").parquet(str(p / "orders.parquet"))
        return str(p)

    # Bands must straddle the median: a two-valued series degenerates
    # (the lower median equals the low value and median-ties drop).
    # Here the median is 3 (the top of the low band), the seven 3-days
    # drop, and the remaining 20-above/14-below sequence is two blocks.
    clustered = mk(
        [10 + d % 3 for d in range(20)] + [1 + d % 3 for d in range(21)],
        "clustered",
    )
    r = stats_runs_test(spark, clustered).collect()[0]
    assert r["n_runs"] == 2 and r["n_above"] == 20 and r["n_below"] == 14
    assert r["z_score"] < -5

    # Alternating high/low; half the low days tie the median (2) and
    # drop, leaving the h,l,h,h,l,h,... pattern with 1 + 2*10 runs.
    alternating = mk(
        [(10 + d // 2 % 2) if d % 2 == 0 else (1 + d // 2 % 2)
         for d in range(40)],
        "alternating",
    )
    r = stats_runs_test(spark, alternating).collect()[0]
    assert r["n_above"] == 20 and r["n_below"] == 10
    assert r["n_runs"] == 21
    assert r["z_score"] > 2


def test_l_diversity_flags_homogeneous_group(tmp_path, spark):
    """A QI group whose members all share one sensitive band must be
    flagged below_l even when it is large (k-anonymous); a group with
    3 bands must not."""
    from data_warehouse_opensky_spark.plans.marts import audit_l_diversity

    rows = [(1, "AUTO", 100.0)] * 10                      # 1 band, big group
    rows += [(2, "AUTO", v) for v in (100.0, 3000.0, 6000.0)]  # 3 bands
    spark.createDataFrame(
        rows, "c_nationkey INT, c_mktsegment STRING, c_acctbal DOUBLE"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    out = {
        (r["nationkey"], r["segment"]): r
        for r in audit_l_diversity(spark, str(tmp_path)).collect()
    }
    assert out[(1, "AUTO")]["below_l"] and out[(1, "AUTO")]["n_bands"] == 1
    assert not out[(2, "AUTO")]["below_l"]
    assert out[(2, "AUTO")]["n_bands"] == 3


def test_neighbor_jaccard_path_graph(tmp_path, spark):
    """Planted repeat co-purchase path a-b-c (each edge in 2 orders):
    the only non-edge candidate is (a, c) with one common neighbor and
    degree-1 endpoints -> Jaccard exactly 1.0 (1e6)."""
    from data_warehouse_opensky_spark.plans.graph import graph_neighbor_jaccard

    a, b, c = 10, 20, 30
    baskets = {1: (a, b), 2: (a, b), 3: (b, c), 4: (b, c)}
    rows = [(ok, p) for ok, ps in baskets.items() for p in ps]
    spark.createDataFrame(
        rows, "l_orderkey LONG, l_partkey LONG"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = graph_neighbor_jaccard(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"]) == (a, c)
    assert r["n_common"] == 1 and r["n_union"] == 1
    assert r["jaccard_e6"] == 1_000_000


def test_rank_correlations_on_planted_monotone_series(tmp_path, spark):
    """A strictly increasing day series must read rho = tau = 1; a
    strictly decreasing one -1; and Spearman's tie handling must agree
    with the closed form on a series with one tied pair."""
    import datetime

    from data_warehouse_opensky_spark.plans.stats import (
        stats_kendall_tau,
        stats_spearman_rank_corr,
    )

    def mk(revs, sub):
        rows = []
        d0 = datetime.date(2024, 1, 1)
        for day, (cnt, rev_per_order) in enumerate(revs):
            for _ in range(cnt):
                rows.append(
                    (d0 + datetime.timedelta(days=day), rev_per_order)
                )
        p = tmp_path / sub
        spark.createDataFrame(
            rows, "o_orderdate DATE, o_totalprice DOUBLE"
        ).write.mode("overwrite").parquet(str(p / "orders.parquet"))
        return str(p)

    # counts 1..8 rising, per-order price constant -> daily revenue
    # rises with count: perfect agreement.
    up = mk([(c, 10.0) for c in range(1, 9)], "up")
    assert stats_spearman_rank_corr(spark, up).collect()[0][
        "spearman_rho"
    ] == 1.0
    t = stats_kendall_tau(spark, up).collect()[0]
    assert t["kendall_tau_b"] == 1.0 and t["n_discordant"] == 0

    # counts rising while per-order price falls fast enough that daily
    # revenue falls: perfect disagreement.
    down = mk(
        [(c, round(100.0 / (c * c), 2)) for c in range(1, 9)], "down"
    )
    assert stats_spearman_rank_corr(spark, down).collect()[0][
        "spearman_rho"
    ] == -1.0
    assert stats_kendall_tau(spark, down).collect()[0][
        "kendall_tau_b"
    ] == -1.0

    # one tied count pair (days 1 and 2 both count 5, revenue still
    # distinct): closed-form Spearman with one average-rank tie.
    tied = mk([(5, 10.0), (5, 11.0), (6, 10.0), (7, 10.0)], "tied")
    rho = stats_spearman_rank_corr(spark, tied).collect()[0][
        "spearman_rho"
    ]
    # doubled ranks x: (3, 3, 6, 8), y: (2, 4, 6, 8) -> rho by hand
    import math

    rx, ry = [3, 3, 6, 8], [2, 4, 6, 8]
    n = 4
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx)
    syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    want = round(
        (n * sxy - sx * sy)
        / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
        6,
    )
    assert rho == want


def test_cdc_chunks_arrow_equals_hof_twin(spark):
    """r13 item 1/5: corpus_cdc_chunks now runs the numpy/mapInArrow
    chunker. The HOF fold remains the executable semantic reference —
    this gate asserts bit-identical output (bounds, indices, lengths,
    md5s) on documents that exercise every edge: empty text, text
    shorter than the window (W=8), exact window length, ASCII with
    planted zero-hash boundaries, multi-line text, non-ASCII
    codepoints (ascii()/ord() equivalence), and repeated content
    (shared chunk md5s)."""
    from data_warehouse_opensky_spark.operators.text import (
        cdc_chunks,
        cdc_chunks_arrow,
    )

    base = "the quick brown fox jumps over the lazy dog. " * 40
    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "short"),
            (2, "exactly8"),
            (3, base),
            (4, base),  # duplicate content -> identical chunk md5s
            (5, "line one\nline two\nline three\n" * 30),
            (6, "héllo wörld ünïcode — ascii() is codepoints " * 25),
            (7, "a" * 7 + "b"),
        ],
        ["doc_id", "text"],
    )
    hof = [
        tuple(r)
        for r in cdc_chunks(docs).orderBy("doc_id", "chunk_idx").collect()
    ]
    arw = [
        tuple(r)
        for r in cdc_chunks_arrow(docs)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    ]
    assert hof == arw
    assert len(hof) > 10  # the fixture actually produced chunks
    assert not any(r[0] == 0 for r in hof)  # empty doc emits none

    # Both twins widen a narrower id column to bigint doc_id (column
    # names and types agree; only chunk_idx nullability differs).
    int_docs = docs.withColumn("doc_id", docs["doc_id"].cast("int"))
    assert cdc_chunks(int_docs).dtypes == cdc_chunks_arrow(int_docs).dtypes
