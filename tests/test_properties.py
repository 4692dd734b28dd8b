"""Property-based tests (hypothesis): the row-local operator kernels
vs straight-line Python references on generated inputs.

The oracle harness checks agreement with DuckDB on FIXED testdata;
these properties check agreement with an independent Python reference
on ADVERSARIAL inputs (empty texts, single tokens, duplicate spans,
funnel sequences in every interleaving) — the regime where off-by-one
shingle/chunk/fold bugs live. Each hypothesis example drives one small
Spark job, so examples are kept few and inputs tiny; the point is
shrinking counterexamples, not volume.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_warehouse_opensky_spark.operators import text as X
from data_warehouse_opensky_spark.plans.marts import event_funnel

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# Small alphabet with spaces → short repetitive token streams that
# actually collide (duplicate spans, repeated tokens, ties).
words = st.text(alphabet="ab", min_size=1, max_size=3)
texts = st.lists(words, min_size=0, max_size=30).map(" ".join)


def _docs_df(spark, texts_list):
    rows = [(i, t) for i, t in enumerate(texts_list)]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


@given(st.lists(texts, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_chunking_covers_text_exactly(spark, docs):
    """Every chunk is the exact substring at its declared offset, chunk
    indices are dense from 0, and chunks cover the full text."""
    size, stride = 120, 90
    out = (
        X.chunk_documents(_docs_df(spark, docs), size=size, stride=stride)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in enumerate(docs):
        chunks = by_doc.get(doc_id, [])
        starts = list(range(1, max(len(text), 1) + 1, stride))
        assert [c.chunk_idx for c in chunks] == list(range(len(starts)))
        for c, start in zip(chunks, starts):
            expect = text[start - 1 : start - 1 + size]
            assert c.start_pos == start
            assert c.chunk_len == len(expect)
            assert c.chunk_md5 == hashlib.md5(expect.encode()).hexdigest()
        covered = set()
        for c in chunks:
            covered.update(range(c.start_pos, c.start_pos + c.chunk_len))
        assert covered == set(range(1, len(text) + 1))


@given(st.lists(texts.filter(bool), min_size=1, max_size=10))
@settings(**SETTINGS)
def test_pack_sequences_conserves_tokens(spark, docs):
    """Per shard: token totals are conserved, every sequence holds
    exactly SEQ_LEN tokens except the shard tail, and seq_ids are
    dense from 0."""
    out = X.pack_sequences(_docs_df(spark, docs)).orderBy("shard", "seq_id").collect()
    shard_tokens: dict[int, int] = {}
    for i, t in enumerate(docs):
        shard_tokens[i % X.PACK_SHARDS] = shard_tokens.get(
            i % X.PACK_SHARDS, 0
        ) + len(t.split(" "))
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == set(shard_tokens)
    for shard, rows in by_shard.items():
        assert [r.seq_id for r in rows] == list(range(len(rows)))
        assert sum(r.n_tokens for r in rows) == shard_tokens[shard]
        for r in rows[:-1]:
            assert r.n_tokens == X.SEQ_LEN
        assert 1 <= rows[-1].n_tokens <= X.SEQ_LEN


@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                max_size=40, unique=True))
@settings(**SETTINGS)
def test_contiguous_ids_are_a_dense_order_preserving_permutation(spark, ids):
    df = spark.createDataFrame(
        [(i, 1) for i in ids], "doc_id BIGINT, n_chars BIGINT"
    )
    out = {
        r.doc_id: r.new_id
        for r in X.assign_contiguous_ids(df).select("doc_id", "new_id").collect()
    }
    assert sorted(out.values()) == list(range(len(ids)))
    ranked = {d: i for i, d in enumerate(sorted(ids))}
    assert out == ranked


@given(st.lists(st.sampled_from(["en", "de", "fr", "xx"]), min_size=1,
                max_size=30))
@settings(**SETTINGS)
def test_mixture_weights_match_integer_reference(spark, langs):
    """Exact integer-arithmetic reference; unknown strata weight 0;
    cap respected."""
    df = spark.createDataFrame(
        [(i, l) for i, l in enumerate(langs)], "doc_id BIGINT, lang STRING"
    )
    out = {r.stratum: r for r in X.mixture_weights(df).collect()}
    total = len(langs)
    targets = dict(X.MIXTURE_TARGETS_PPM)
    for lang in set(langs):
        n = langs.count(lang)
        actual_ppm = n * 1_000_000 // total
        tgt = targets.get(lang, 0)
        weight = min(tgt * 1_000_000 // max(actual_ppm, 1), X.MIXTURE_MAX_WEIGHT_E6)
        r = out[lang]
        assert (r.n_docs, r.n_total, r.actual_ppm) == (n, total, actual_ppm)
        assert r.weight_e6 == weight
        assert r.expected_docs == n * weight // 1_000_000
    assert out["xx"].weight_e6 == 0 if "xx" in out else True


@given(st.lists(texts, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_duplicated_spans_match_set_reference(spark, docs):
    n, min_docs = X.SPAN_NGRAM, 2
    out = {
        r.span: (r.n_docs, r.min_doc, r.max_doc)
        for r in X.duplicated_spans(
            _docs_df(spark, docs), min_docs=min_docs
        ).collect()
    }
    ref: dict[str, set] = {}
    for doc_id, text in enumerate(docs):
        toks = text.split(" ")
        for i in range(len(toks) - n + 1):
            ref.setdefault(" ".join(toks[i : i + n]), set()).add(doc_id)
    expect = {
        s: (len(d), min(d), max(d)) for s, d in ref.items() if len(d) >= min_docs
    }
    assert out == expect


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=50),  # ts seconds
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_funnel_fold_matches_sequence_reference(spark, events):
    """The aggregate() fold equals a Python walk of each user's events
    in (ts, event_id) order — first view, first click strictly after
    it, first purchase strictly after that."""
    rows = [(u, ts, eid, tp) for eid, (u, ts, tp) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts_s BIGINT, event_id BIGINT, event_type STRING"
    ).withColumn("ts", F.timestamp_seconds("ts_s"))
    got = event_funnel(df).collect()[0]

    by_user: dict[int, list] = {}
    for u, ts, eid, tp in rows:
        if tp in ("view", "click", "purchase"):
            by_user.setdefault(u, []).append((ts * 10_000_000 + eid, tp))
    n_view = n_click = n_full = 0
    sum_convert = 0
    for seq in by_user.values():
        t1 = t2 = t3 = None
        for u_key, tp in sorted(seq):
            if t1 is None and tp == "view":
                t1 = u_key
            elif t2 is None and t1 is not None and tp == "click" and u_key > t1:
                t2 = u_key
            elif t3 is None and t2 is not None and tp == "purchase" and u_key > t2:
                t3 = u_key
        n_view += t1 is not None
        n_click += t2 is not None
        n_full += t3 is not None
        if t3 is not None:
            sum_convert += t3 // 10_000_000 - t1 // 10_000_000
    assert got.n_users == len(by_user)
    assert (got.n_view, got.n_view_click, got.n_full_funnel) == (
        n_view,
        n_click,
        n_full,
    )
    assert got.sum_convert_s == sum_convert


def test_bpe_merges_invariant_to_partitioning(spark):
    """BPE training is a sequence of exact-integer argmaxes with a
    total tie-break, so the learned merge table must be IDENTICAL
    under different parallelism — the fold-order-independence property
    the catalog's determinism doctrine promises. (A float-scored or
    tie-unstable variant would diverge here.)"""
    from data_warehouse_opensky_spark.plans.text import bpe_train

    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        _, merges3 = bpe_train(spark, sf)
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        _, merges13 = bpe_train(spark, sf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.catalog.clearCache()
    assert merges3 == merges13
    assert len(merges3) == 5


def test_distributed_cumsum_multicolumn_matches_singles(spark):
    """The multi-column scan (one range exchange, one Window) must
    produce exactly what two independent single-column scans produce —
    including the row-index idiom (cumsum of ones)."""
    import pyspark.sql.functions as F

    from data_warehouse_opensky_spark.operators.prefix import (
        distributed_cumsum,
    )

    # k must be a UNIQUE key (distributed_cumsum contract): 7 and 401
    # are coprime, so i*7 mod 401 is a bijection over 400 rows.
    rows = [(i * 7 % 401, (i * 13) % 50 + 1) for i in range(400)]
    df = spark.createDataFrame(
        [(k, v) for k, v in rows], "k BIGINT, v BIGINT"
    ).withColumn("one", F.lit(1).cast("long"))
    multi = {
        r["k"]: (r["cv"], r["ci"])
        for r in distributed_cumsum(
            df, ["k"], ["v", "one"], ["cv", "ci"], num_partitions=5
        ).collect()
    }
    single_v = {
        r["k"]: r["cv"]
        for r in distributed_cumsum(
            df, ["k"], "v", "cv", num_partitions=5
        ).collect()
    }
    single_i = {
        r["k"]: r["ci"]
        for r in distributed_cumsum(
            df, ["k"], "one", "ci", num_partitions=5
        ).collect()
    }
    assert multi == {k: (single_v[k], single_i[k]) for k in single_v}
    # And the index really is 1..n over the k-order.
    ks = sorted(multi)
    assert [multi[k][1] for k in ks] == list(range(1, len(ks) + 1))
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# Winnowing (round 9): fingerprint set vs a straight-line reference
# ---------------------------------------------------------------------------
def _ref_winnow(text: str) -> set[int]:
    """Straight-line winnowing (Schleimer et al. 2003) — token char
    fold, k-gram fold, min of every w-window (single all-gram window
    when fewer than w grams exist)."""
    from data_warehouse_opensky_spark.operators.winnow import (
        WINNOW_K,
        WINNOW_W,
    )
    from data_warehouse_opensky_spark.operators.text import ROLLING_MOD

    toks = [t for t in text.split(" ") if t]
    th = []
    for t in toks:
        acc = 0
        for ch in t:
            acc = (acc * 31 + ord(ch)) % ROLLING_MOD
        th.append(acc)
    grams = []
    for i in range(len(th) - WINNOW_K + 1):
        acc = 0
        for h in th[i : i + WINNOW_K]:
            acc = (acc * 37 + h) % ROLLING_MOD
        grams.append(acc)
    if not grams:
        return set()
    w = min(WINNOW_W, len(grams))
    return {
        min(grams[j : j + WINNOW_W])
        for j in range(0, len(grams) - w + 1)
    }


@given(st.lists(texts, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_winnowing_matches_reference(spark, docs):
    """The relational winnowing pipeline (explode + lead-polynomial +
    frame min + boundary rule) must produce EXACTLY the reference
    fingerprint set per document — including empty docs, docs shorter
    than one gram, and docs with fewer grams than one window (the
    boundary cases the rn >= least(W, n_grams) rule encodes)."""
    from data_warehouse_opensky_spark.operators import winnow as W

    stream = W.fingerprint_stream(_docs_df(spark, docs))
    got: dict[int, set[int]] = {}
    for r in stream.select("doc_id", "fp").collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in enumerate(docs):
        assert got.get(i, set()) == _ref_winnow(t), (i, t)


# ---------------------------------------------------------------------------
# Round 10 (VERDICT r9 #6): property coverage for the hand-rolled
# exact-arithmetic plan queries most exposed to degenerate inputs.
# These drive the FULL plan function (parquet in a temp dir, same path
# the driver takes) against a straight-line Python reference.
# ---------------------------------------------------------------------------

import datetime as _dt
import math as _math
import shutil as _shutil
import tempfile as _tempfile

from data_warehouse_opensky_spark.plans import QUERIES as _Q


def _run_on(spark, name, tables):
    """Write `tables` (name -> DataFrame) as parquet into a fresh temp
    dir and run catalog query `name` against it."""
    d = _tempfile.mkdtemp(prefix="prop_")
    try:
        for t, df in tables.items():
            df.write.mode("overwrite").parquet(f"{d}/{t}.parquet")
        return _Q[name].fn(spark, d).collect()
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def _trunc_div(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark div / DuckDB //),
    NOT Python's flooring //."""
    q, r = divmod(a, b)
    if q < 0 and r != 0:
        q += 1
    return q


# Orders series: a handful of days (ties likely), integer cents so
# round(price*100) is exact in both engines and the reference.
_order_days = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),      # day offset
        st.integers(min_value=-5_000, max_value=5_000),  # cents
    ),
    min_size=1,
    max_size=20,
)


def _orders_df(spark, rows):
    data = [
        (_dt.date(2024, 3, 1) + _dt.timedelta(days=d), c / 100.0)
        for d, c in rows
    ]
    return spark.createDataFrame(
        data, "o_orderdate DATE, o_totalprice DOUBLE"
    )


@given(_order_days)
@settings(**SETTINGS)
def test_theil_sen_matches_python_reference(spark, rows):
    """Median-of-pairwise-slopes on arbitrary tied/negative daily
    series: day aggregate, truncating slope division, and the lower-
    median order statistic must all match a serial reference."""
    got = {
        r["yr"]: r
        for r in _run_on(
            spark, "stats_theil_sen_trend", {"orders": _orders_df(spark, rows)}
        )
    }
    by_day: dict[int, int] = {}
    for d, c in rows:
        by_day[d] = by_day.get(d, 0) + c
    days = sorted(by_day)  # all in one year; x = dayofyear ordering
    slopes = [
        _trunc_div((by_day[b] - by_day[a]) * 1_000_000, b - a)
        for i, a in enumerate(days)
        for b in days[i + 1 :]
    ]
    if not slopes:
        assert got == {}
        return
    slopes.sort()
    want = slopes[(len(slopes) + 1) // 2 - 1]
    assert got[2024]["n_days"] == len(days)
    assert got[2024]["n_pairs"] == len(slopes)
    assert got[2024]["theilsen_slope_e6"] == want


@given(_order_days)
@settings(**SETTINGS)
def test_kendall_tau_matches_python_reference(spark, rows):
    """Tau-b on arbitrary daily series: concordant/discordant/tie
    counts are exact integers; the all-tied degenerate case must give
    NULL, matching the guarded denominator."""
    out = _run_on(
        spark, "stats_kendall_tau", {"orders": _orders_df(spark, rows)}
    )
    assert len(out) == 1
    got = out[0]
    agg: dict[int, list[int]] = {}
    for d, c in rows:
        a = agg.setdefault(d, [0, 0])
        a[0] += 1
        a[1] += c
    pts = [tuple(v) for _, v in sorted(agg.items())]
    c = dd = n1 = n2 = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            (xa, ya), (xb, yb) = pts[i], pts[j]
            if (xa < xb and ya < yb) or (xa > xb and ya > yb):
                c += 1
            elif (xa < xb and ya > yb) or (xa > xb and ya < yb):
                dd += 1
            if xa == xb:
                n1 += 1
            if ya == yb:
                n2 += 1
    n0 = len(pts) * (len(pts) - 1) // 2
    if n0 == 0:
        # zero pairs: count(*) = 0 but sum() over an empty set is NULL
        # in BOTH engines — the reference must expect NULL, not 0
        assert (got["n_pairs"], got["n_concordant"], got["n_discordant"]) == (
            0, None, None,
        )
        assert got["kendall_tau_b"] is None
        return
    assert (got["n_pairs"], got["n_concordant"], got["n_discordant"]) == (
        n0, c, dd,
    )
    if n0 == n1 or n0 == n2:
        assert got["kendall_tau_b"] is None
    else:
        ref = (c - dd) / _math.sqrt((n0 - n1) * (n0 - n2))
        assert abs(got["kendall_tau_b"] - ref) < 6e-7


_KMV_A, _KMV_B, _KMV_P = 2_654_435_761, 1_779_033_703, 4_294_967_311


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),  # custkey
            st.sampled_from(["1-P", "2-P", "3-P"]),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_kmv_below_k_is_exact_per_group_and_merged(spark, rows):
    """With fewer distinct keys than k = 128 everywhere, the bottom-k
    sketch degenerates to the exact distinct set: kmv_est == n_exact
    == the true count and err_ppm == 0, for every group AND the
    merged _ALL_ row (the union-of-bottom-ks containment). The KMV
    hash is injective below the prime, so no collision caveats."""
    df = spark.createDataFrame(rows, "o_custkey BIGINT, o_orderpriority STRING")
    out = {
        r["grp"]: r
        for r in _run_on(spark, "sketch_kmv_distinct", {"orders": df})
    }
    per_grp: dict[str, set[int]] = {}
    for k_, g in rows:
        per_grp.setdefault(g, set()).add(k_)
    want_all = set().union(*per_grp.values())
    for g, keys in per_grp.items():
        assert out[g]["n_exact"] == len(keys)
        assert out[g]["kmv_est"] == len(keys)
        assert out[g]["err_ppm"] == 0
        assert out[g]["kth_hash"] == max(
            (_KMV_A * k_ + _KMV_B) % _KMV_P for k_ in keys
        )
    assert out["_ALL_"]["n_exact"] == len(want_all)
    assert out["_ALL_"]["kmv_est"] == len(want_all)


def _grams5(t: str) -> set[str]:
    return {t[i : i + 5] for i in range(max(len(t) - 4, 1))}


@given(
    st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_prefix_filter_jaccard_equals_brute_force(spark, texts):
    """AllPairs prefix filtering must return EXACTLY the brute-force
    J >= 0.8 pair set — including all-identical corpora (every prefix
    collides, candidates == all pairs, every pair jaccard_e6 ==
    1_000_000) and sub-5-char degenerate shingles."""
    docs = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"], r["jaccard_e6"])
        for r in _run_on(
            spark, "dedup_prefix_filter_jaccard", {"documents": docs}
        )
    }
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            gi, gj = _grams5(texts[i]), _grams5(texts[j])
            inter, union = len(gi & gj), len(gi | gj)
            if 10 * inter >= 8 * union:
                want[(i, j)] = (inter, union, 1_000_000 * inter // union)
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # block key
            st.integers(min_value=0, max_value=10**6),  # id source
        ),
        min_size=0,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=8),  # cap
)
@settings(**SETTINGS)
def test_capped_block_self_pairs_matches_quadratic_reference(spark, rows, cap):
    """Triangle-split pair generation over random block shapes and
    caps (including cap=1, the max-splits regime) equals the naive
    within-block all-pairs set — no pair lost, none duplicated."""
    from data_warehouse_opensky_spark.operators.skew import (
        capped_block_self_pairs,
    )

    data = [(blk, 1000 * i + (idv % 997)) for i, (blk, idv) in enumerate(rows)]
    if not data:
        return
    df = spark.createDataFrame(data, "blk INT, rid LONG")
    got = sorted(
        (r["a"]["rid"], r["b"]["rid"])
        for r in capped_block_self_pairs(
            df, block_cols=("blk",), id_col="rid", cap=cap, max_splits=5
        ).collect()
    )
    ids: dict[int, list[int]] = {}
    for blk, rid in data:
        ids.setdefault(blk, []).append(rid)
    want = sorted(
        (a, b)
        for grp in ids.values()
        for x, a in enumerate(sorted(grp))
        for b in sorted(grp)[x + 1 :]
    )
    assert got == want


# ---------------------------------------------------------------------------
# CDC chunking (round 11, VERDICT r10 #4): the operator's selling point
# — content-defined boundaries make an edit shift at most the chunks
# overlapping its W-char neighborhood — proved as a property, not prose.
# Pattern mirrors winnowing: (1) the Spark plan must match a straight-
# line Python reference exactly (few examples, one Spark job each);
# (2) the edit-stability property is then checked on the reference
# alone (hundreds of pure-Python examples, no Spark in the loop).
# ---------------------------------------------------------------------------
def _ref_cdc_bounds(text: str) -> list[int]:
    """Straight-line transcription of operators/text.py cdc_chunks'
    boundary rule: cut after 1-indexed char p = i+W-1 iff
    polyhash(chars i..i+W-1) % DIVISOR == 0 and p < L."""
    from data_warehouse_opensky_spark.operators.text import (
        CDC_DIVISOR,
        CDC_W,
        ROLLING_MOD,
    )

    L = len(text)
    cuts = []
    for i in range(1, L - CDC_W + 2):  # 1-indexed window starts
        acc = 0
        for ch in text[i - 1 : i - 1 + CDC_W]:
            acc = (acc * 31 + ord(ch)) % ROLLING_MOD
        p = i + CDC_W - 1
        if acc % CDC_DIVISOR == 0 and p < L:
            cuts.append(p)
    return [0] + cuts + [L]


def _ref_cdc_chunks(text: str) -> list[tuple[int, int, int, str]]:
    b = _ref_cdc_bounds(text)
    return [
        (k, b[k], b[k + 1] - b[k],
         hashlib.md5(text[b[k]: b[k + 1]].encode()).hexdigest())
        for k in range(len(b) - 1)
        if b[k + 1] - b[k] > 0
    ]


# longer texts than the shared `texts` strategy so ~L/DIVISOR cuts
# actually fire; '\x00' exercises ascii(0) == the fold's empty-slot value
cdc_text = st.text(alphabet="ab \x00", min_size=0, max_size=200)


@given(st.lists(cdc_text, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_cdc_chunks_match_reference(spark, docs):
    """The SQL-expression plan (split→ascii fold over slices) must
    reproduce the reference chunking EXACTLY — indices, offsets,
    lengths, md5s — including docs shorter than one window, empty
    docs, and texts ending exactly on a boundary (the p < L guard)."""
    from data_warehouse_opensky_spark.operators.text import cdc_chunks

    got: dict[int, list] = {}
    for r in (
        cdc_chunks(_docs_df(spark, docs))
        .orderBy("doc_id", "chunk_idx")
        .collect()
    ):
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start_pos"], r["chunk_len"], r["chunk_md5"])
        )
    for i, t in enumerate(docs):
        assert got.get(i, []) == _ref_cdc_chunks(t), (i, t)


@given(
    st.text(alphabet="ab \x00", min_size=0, max_size=400),
    st.integers(min_value=0, max_value=10**9),
    st.sampled_from("ab \x00"),
)
@settings(max_examples=300, deadline=None)
def test_cdc_edit_stability_reference(text, pos_seed, ins):
    """Single-point insertion at offset p ⇒ boundary decisions are
    LOCAL: cuts at q ≤ min(p, L-1) are bit-identical, cuts at
    q ≥ p+W survive shifted by exactly 1, and therefore the chunk md5
    sequences outside the last/first common boundary around the edit
    window are identical — the multiset of changed chunks is confined
    to the chunks overlapping [p-W, p+W]. (The Spark plan equals this
    reference by test_cdc_chunks_match_reference, so the property
    transfers.) min(p, L-1) rather than p handles append-at-end: the
    p < L end guard suppressed a cut at L in the original that the
    longer edited text may legally re-admit."""
    from data_warehouse_opensky_spark.operators.text import CDC_W

    L = len(text)
    p = pos_seed % (L + 1)  # insertion offset, 0..L inclusive
    edited = text[:p] + ins + text[p:]

    A = set(_ref_cdc_bounds(text)[1:-1])  # interior cuts only
    B = set(_ref_cdc_bounds(edited)[1:-1])

    lo = min(p, L - 1)
    assert {q for q in A if q <= lo} == {q for q in B if q <= lo}
    assert {q for q in A if q >= p + CDC_W} == {
        q - 1 for q in B if q >= p + CDC_W + 1
    }

    # chunk-level consequence: identical md5 runs outside the window.
    # The suffix comparison needs a real common cut ≥ p+W (shifted +1
    # in the edited text); if none exists the edit region runs to the
    # end of the document and there is no suffix to compare.
    c_lo = max([q for q in A if q <= lo], default=0)
    orig = _ref_cdc_chunks(text)
    new = _ref_cdc_chunks(edited)
    pre_o = [c[3] for c in orig if c[1] + c[2] <= c_lo]
    pre_n = [c[3] for c in new if c[1] + c[2] <= c_lo]
    assert pre_o == pre_n
    suf_cuts = [q for q in A if q >= p + CDC_W]
    if suf_cuts:
        c_hi = min(suf_cuts)
        suf_o = [c[3] for c in orig if c[1] >= c_hi]
        suf_n = [c[3] for c in new if c[1] >= c_hi + 1]
        assert suf_o == suf_n
    else:
        suf_o = []
    # and the changed region is the edit window's chunks only
    changed = len(orig) - len(pre_o) - len(suf_o)
    assert changed <= len([q for q in A if lo < q < p + CDC_W]) + 1
