"""Deduplication operators for large-scale training-data pipelines.

All four families from the north-star spec (BASELINE.json), built
Spark-first with JVM-side expressions only (no Python UDFs in any hot
path — higher-order functions `transform`/`aggregate`/`zip_with` keep
everything in Tungsten):

* exact        — hash groupBy on content (or normalized content)
* MinHash LSH  — shingle → K salted-md5 minhashes → b bands → one
                 bucket shuffle on band signature → candidate pairs
* SimHash      — 32-bit sign-aggregated token hashes + hamming pairs
* n-gram Jaccard — exact verify of candidate pairs by row-local
                 array_intersect: |A∪B| = |A|+|B|−|A∩B|

Scale notes: each document's shingle set stays in one row, so
signatures need no shuffle; MinHash bands reduce the pair space from
O(n²) to colliding buckets only.

Determinism: hashes are md5-derived (first 8 hex chars → bigint), so
any SQL engine reproduces them exactly — no engine-specific hash().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def md5_hash64(col: F.Column) -> F.Column:
    """Deterministic 32-bit-range hash from md5 hex — engine-portable."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


#: Universal-hash family for MinHash: h_k = (A(k)·h + B(k)) mod P over
#: the 32-bit md5-derived base hash. ONE md5 per shingle total (the K
#: variants are integer arithmetic) instead of K md5s over K× the rows.
#: P is the smallest prime > 2^32; A(k) ≈ 2^20 keeps A·h < 2^52 (no
#: int64 overflow in any engine).
MINHASH_PRIME = 4294967311


def minhash_a(k: int) -> int:
    return 1_000_003 + 7_919 * k


def minhash_b(k: int) -> int:
    return 12_345 + 104_729 * k


def salted_hash_sql(k: int, h: str = "h") -> str:
    """SQL text of the k-th salted hash — identical in Spark and DuckDB."""
    return f"(({minhash_a(k)} * {h} + {minhash_b(k)}) % {MINHASH_PRIME})"


def shingle_array(text_col: str = "text", n: int = 3) -> F.Column:
    """Array of distinct char n-grams of `text_col` — row-local.

    The array-native dedup plan keeps each document's shingle SET in
    one row: shingling, hashing, and minhash signatures then need NO
    explode and NO shuffle at all (embarrassingly parallel over docs),
    which is the right 100 TB shape whenever a document's shingle set
    fits in a row (true up to multi-MB docs).
    """
    # NOTE: substring(text, i, n) per position measured 12× FASTER than
    # the split-once-then-slice form — Catalyst inlines a split() that
    # appears inside the transform lambda and re-evaluates it per
    # element (O(chars²) splits). Keep the direct substring form.
    return F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
        f" i -> substring({text_col}, i, {n})))"
    )


def minhash_signatures_arrays(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 6,
) -> DataFrame:
    """(doc_id, sh, n_sh, m0..m{K-1}) with zero shuffles.

    Shingle set as an array column, one md5 per shingle, K salted
    linear minhashes via array_min(transform(...)) — everything
    row-local, so the signature stage scales linearly with no
    exchange. Keeps the shingle array (`sh`) so downstream exact
    verification can array_intersect without rebuilding it.
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        shingle_array(text_col, n).alias("sh"),
    ).select(
        "doc_id",
        "sh",
        F.expr(
            "transform(sh, s -> "
            "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint))"
        ).alias("hs"),
    )
    mins = [
        F.expr(
            f"array_min(transform(hs, h -> {salted_hash_sql(k)}))"
        ).alias(f"m{k}")
        for k in range(num_hashes)
    ]
    return d.select("doc_id", "sh", F.size("sh").alias("n_sh"), *mins)


def band_signatures(
    sigs: DataFrame, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band, band_sig) from a wide signature frame — one row
    per (doc, band), built off the signature row with no extra shuffle."""
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"m{k}").cast("string")
                    for k in range(b * rows_per_band, (b + 1) * rows_per_band)
                ],
            ).alias("band_sig"),
        )
        for b in range(num_hashes // rows_per_band)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_sig")


def bucket_pairs(sig: DataFrame, count_col: str = "n_shared_bands") -> DataFrame:
    """Candidate pairs from (doc_id, band, band_sig) via ONE shuffle.

    groupBy the LSH bucket, sort ids, emit ordered pairs within each
    bucket — replaces the sig⋈sig self-join (two shuffles of the same
    relation + a pair groupBy) with a single exchange on the bucket
    key. Skew caveat: a degenerate bucket of B docs emits B²/2 pairs
    in one task — same blowup the self-join had, so band width must
    keep buckets small either way (see _MINHASH_RPB tuning note in
    plans/dedup.py).
    """
    return (
        sig.groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x as doc_a, y as doc_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias(count_col))
    )


def attach_pair_shingles(
    sigs: DataFrame,
    candidates: DataFrame,
    broadcast_docs: bool | None = None,
) -> DataFrame:
    """Attach both docs' shingle stats to each candidate pair.

    The shared kernel under exact-Jaccard verify, MinHash calibration,
    and containment scoring: each (doc_a, doc_b) pair picks up both
    shingle arrays and intersects them ROW-LOCALLY — no inverted-index
    re-join, no groupBy. Returns (doc_a, doc_b, n_a, n_b, n_inter).

    `sigs` must carry (doc_id, sh, n_sh) — the persisted output of
    `minhash_signatures_arrays`. The DEFAULT (None) adds NO join hint:
    the (doc_id, sh, n_sh) projection is DOC-cardinality, so a hard
    broadcast pin would be a driver OOM at 100 TB — Catalyst/AQE
    broadcast it from size stats at bench scale and degrade to shuffle
    hash joins on the doc id past the threshold, with no code change.
    `True` pins the broadcast (explicit opt-in for corpora known to
    fit); `False` behaves like None (kept for the plan test that
    asserts the shuffled shape with size-broadcast disabled —
    tests/test_plans.py::test_jaccard_verify_join_strategies).

    The candidate frame is re-spread round-robin first: candidates are
    BYTES-tiny (two ids) so AQE coalesces their shuffle to ~1
    partition, but each row then costs an O(|sh_a|+|sh_b|) hash-set
    intersection — without the respread all of that compute lands on
    one core (measured 4×).
    """
    candidates = candidates.repartition(
        candidates.sparkSession.sparkContext.defaultParallelism
    )
    proj = sigs.select("doc_id", "sh", "n_sh")
    sa = proj.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = proj.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    if broadcast_docs is True:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        candidates.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .select("doc_a", "doc_b", "n_a", "n_b", "n_inter")
    )


def jaccard_verify_arrays(
    sigs: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.25,
    broadcast_docs: bool | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs via array_intersect.

    Thin policy layer over `attach_pair_shingles` (see its docstring
    for the broadcast-vs-shuffle contract): J = |A∩B| / |A∪B| with
    inclusion-exclusion for the union, filtered at `threshold`.
    """
    return (
        attach_pair_shingles(sigs, candidates, broadcast_docs=broadcast_docs)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(
    edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """(doc_id, component) via min-label propagation to fixpoint.

    The dedup-clustering step: near-dup PAIRS (doc_a, doc_b) become
    CLUSTERS so one canonical doc per cluster survives. Iterative
    (driver-coordinated rounds — the genuinely non-SQL-expressible
    class SURVEY §5 anticipates): each round every node takes the min
    label among itself and its neighbors, then POINTER-JUMPS that
    label one hop through the label table (path compression), so
    convergence is O(log diameter) rounds instead of O(diameter) —
    measured 11 → 7 rounds on the sf0.1 LSH cluster graph with
    identical labels. Per round: two joins + one min-groupBy, a
    `localCheckpoint` truncating lineage so plans don't grow with
    iteration count (the standard Spark iterative-algorithm guard).
    The component id IS the cluster's min doc_id at convergence.
    """
    # Symmetrize with a ROW-LOCAL 2-way explode, not a union of two
    # projections: `edges` arrives UNPERSISTED from the LSH pipeline
    # (signatures → bands → bucket join) and a union would evaluate
    # that whole subtree once per branch before the checkpoint below
    # materializes it (guide §2.4 — measured r12: the union form cost
    # dedup_components_canonical a full second LSH pass, ~1.2 s at
    # sf0.1; the explode touches the pipeline exactly once).
    und = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    und = und.localCheckpoint(eager=True)
    # Size the rounds to the edge volume: per-round cost is dominated
    # by fixed per-task and per-checkpoint overhead, and a ~20k-edge
    # graph inherits 60+ map partitions from the LSH pipeline — 8x the
    # tasks for no parallelism, paid EVERY round. The count is free
    # (und is checkpoint-materialized); if the graph is small, compact
    # it once (a ~ms job on checkpointed rows) and run the rounds at
    # matching shuffle parallelism. At 100 TB edge counts in the
    # billions leave the layout untouched — thousands of partitions is
    # exactly right there.
    spark = edges.sparkSession
    n_edges = und.count()
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    round_parts = max(8, min(int(prev_parts), (n_edges + 249_999) // 250_000))
    spark.conf.set("spark.sql.shuffle.partitions", str(round_parts))
    try:
        if und.rdd.getNumPartitions() > round_parts:
            und = und.repartition(round_parts).localCheckpoint(eager=True)
        return _cc_rounds(und, max_iterations)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _cc_rounds(und: DataFrame, max_iterations: int) -> DataFrame:
    import uuid

    labels = (
        und.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component"))
        .localCheckpoint(eager=True)
    )
    for i in range(max_iterations):
        prop = und.join(
            labels.select(
                F.col("doc_id").alias("src"), "component"
            ),
            "src",
        ).select(
            F.col("dst").alias("doc_id"),
            "component",
            F.lit(False).alias("is_self"),
        )
        # Convergence detection rides the round's single job: the old
        # label is carried through the min-groupBy (min over is_self
        # rows == previous component, since labels only decrease) and
        # the changed-count is an observe() metric collected by the
        # eager localCheckpoint — no separate join+count job per round.
        merged = labels.select(
            "doc_id", "component", F.lit(True).alias("is_self")
        ).union(prop)
        m1 = merged.groupBy("doc_id").agg(
            F.min("component").alias("comp1"),
            F.min(F.when(F.col("is_self"), F.col("component"))).alias(
                "_old"
            ),
        )
        # POINTER JUMP (path compression): follow the neighbor-min
        # label one more hop through the LABEL table — comp2 =
        # label(comp1) — and keep the smaller. Plain min-label
        # propagation needs O(diameter) rounds (measured r12: 11
        # rounds on the sf0.1 LSH cluster graph, each round a full
        # join+agg+checkpoint job); the jump halves every node's
        # distance to its component minimum per round, so convergence
        # is O(log diameter) (7 rounds on the same graph, identical
        # labels — the union-find path-halving idea in its
        # MapReduce/Spark form, cf. Kiveris et al., "Connected
        # Components in MapReduce and Beyond", SoCC 2014). comp1 is
        # always an existing node id (labels are min's over node
        # ids), so the inner join keeps exactly one row per doc_id.
        # Labels still only decrease, lower-bounded by the component
        # min, and the changed==0 fixpoint is unchanged: stable under
        # neighbor-min AND jump ⟺ labels constant per component ⟺
        # component = min doc_id — the same answer as before.
        jump = m1.join(
            labels.select(
                F.col("doc_id").alias("comp1"),
                F.col("component").alias("comp2"),
            ),
            "comp1",
        )
        obs = Observation(f"cc_round_{i}_{uuid.uuid4().hex[:8]}")
        new_labels = (
            jump.select(
                "doc_id",
                F.least("comp1", "comp2").alias("component"),
                "_old",
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("component") != F.col("_old"), 1).otherwise(0)
                ).alias("changed"),
            )
            .select("doc_id", "component")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if obs.get["changed"] == 0:
            break
    return labels


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """(doc_id, simhash): sign-aggregated token-hash fingerprint.

    One explode + one hash agg with `bits` sum expressions — no per-bit
    row blowup (the naive form multiplies rows ×bits; this stays
    O(tokens) shuffled once).
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    )
    th = tok.select("doc_id", md5_hash64(F.col("t")).alias("h"))
    sums = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {i}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    bit_terms = " + ".join(
        f"(CASE WHEN s{i} >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return sums.select("doc_id", F.expr(bit_terms).cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance.

    The plan is the O(n²) self-join on the (tiny) signature table. At
    100 TB it would block on signature blocks first: each pair within
    hamming h agrees exactly on at least one of h+1 blocks.
    """
    sig = simhash(docs, id_col, text_col, bits)
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
