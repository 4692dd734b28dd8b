"""Tier-3 dedup queries (north-star: training-data pipeline dedup).

Every query runs on the `documents` table and has an exact DuckDB
oracle — the md5-derived hashing in operators/dedup.py was chosen
precisely so an independent SQL engine reproduces signatures bit-for-
bit (no engine-specific hash functions anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..sources import load_table
from .catalog import query

def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a small-file table to the session's parallelism.

    The testdata `documents` table is ONE parquet file → one input
    partition, so explode/hash-heavy doc pipelines would run on a
    single core (measured 5.6× on shingling). On a real multi-file
    100 TB table the scan already yields many partitions and this
    round-robin exchange of the raw docs is a no-op cost-wise
    (narrow rows, one cheap shuffle).
    """
    return df.repartition(spark.sparkContext.defaultParallelism)


# Shared SQL fragments -----------------------------------------------------

def _shingles_sql(n: int = 3) -> str:
    return f"""
  SELECT doc_id,
         unnest(list_distinct(
           [substring(text, i, {n})
            for i in range(1, greatest(length(text) - {n - 1}, 1) + 1)]
         )) AS shingle
  FROM documents
"""


_SHINGLES_SQL = _shingles_sql(3)

_MD5H = "CAST(('0x' || substring(md5({expr}), 1, 8)) AS BIGINT)"


# --------------------------------------------------------------------------
# T3.1 — exact dedup
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    tier="T3",
    doc="Exact dedup: hash-groupBy on content; canonical = min id. "
    "Scales as one shuffle on a 128-bit content digest.",
    oracle="""
    SELECT md5(text) AS content_md5,
           min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY canonical_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_md5"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("canonical_doc_id")
    )


# --------------------------------------------------------------------------
# T3.2 — n-gram Jaccard near-dup (inverted-index join)
# --------------------------------------------------------------------------
# 16 hashes in 4 bands of 4 rows over 5-gram shingles: a band collides
# only when all FOUR of its minhashes agree (collision prob ≈ j⁴ per
# band — tuned for a high-similarity threshold). 1-row bands over
# 3-grams were degenerate on this templated corpus (one bucket held
# half the docs → 11.6M candidate pairs at sf0.1); 4-row bands give
# ~20k candidates.
_MINHASH_K = 16
_MINHASH_RPB = 4
_MINHASH_N = 5
_MINHASH_MINS = ",\n             ".join(
    f"min({D.salted_hash_sql(k)}) AS m{k}" for k in range(_MINHASH_K)
)
_MINHASH_SIG_UNION = "\n      UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    + " || ',' || ".join(
        f"CAST(m{k} AS VARCHAR)"
        for k in range(b * _MINHASH_RPB, (b + 1) * _MINHASH_RPB)
    )
    + " AS band_sig FROM m"
    for b in range(_MINHASH_K // _MINHASH_RPB)
)


#: Shared CTE chain: distinct 5-gram shingles → base md5 hash → 16
#: minhash mins → band signatures. Used by both LSH queries below.
_MINHASH_CTES = f"""
    sh AS ({_shingles_sql(_MINHASH_N)}),
    hb AS (
      SELECT doc_id, {_MD5H.format(expr="shingle")} AS h FROM sh
    ),
    m AS (
      SELECT doc_id,
             {_MINHASH_MINS}
      FROM hb GROUP BY doc_id
    ),
    sig AS (
      {_MINHASH_SIG_UNION}
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_shared_bands
      FROM sig a
      JOIN sig b ON a.band = b.band AND a.band_sig = b.band_sig
                AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )"""


@query(
    "dedup_ngram_jaccard",
    tier="T3",
    doc="Exact 5-gram Jaccard ≥ 0.8 verified ONLY on MinHash-LSH "
    "candidate pairs — the production near-dup shape (LSH proposes, "
    "exact Jaccard disposes). Join cost O(|candidates| × shingles/doc) "
    "instead of the Σ df² all-pairs inverted-index blowup (degenerate "
    "on corpora with a small shingle vocabulary).",
    oracle=f"""
    WITH {_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 6) >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, load_table(spark, sf_dir, "documents"))
    # Array-native plan: signatures are shuffle-free; persist them once
    # because they feed BOTH the LSH bucket join and the exact-verify
    # array_intersect join (Spark recomputes unpersisted diamond
    # branches — measured 2.5× on the unshared plan).
    sigs = D.minhash_signatures_arrays(
        d, n=_MINHASH_N, num_hashes=_MINHASH_K
    ).persist()
    cand = D.bucket_pairs(
        D.band_signatures(sigs, _MINHASH_K, _MINHASH_RPB)
    )
    return D.jaccard_verify_arrays(sigs, cand, threshold=0.8).orderBy(
        "doc_a", "doc_b"
    )


# --------------------------------------------------------------------------
# T3.2 — MinHash LSH candidate pairs
# --------------------------------------------------------------------------
@query(
    "dedup_minhash_lsh",
    tier="T3",
    doc="MinHash LSH: one md5 per 5-gram shingle + 16 salted linear "
    "hashes (mod prime > 2^32), 4 bands of 4 rows; candidate pairs = "
    "band-signature bucket collisions (T3.2).",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT doc_a, doc_b, n_shared_bands
    FROM cand
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, load_table(spark, sf_dir, "documents"))
    sigs = D.minhash_signatures_arrays(d, n=_MINHASH_N, num_hashes=_MINHASH_K)
    return D.bucket_pairs(
        D.band_signatures(sigs, _MINHASH_K, _MINHASH_RPB)
    ).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# T3.1/T3.2 — dedup clustering: connected components over LSH pairs
# --------------------------------------------------------------------------
@query(
    "dedup_components_canonical",
    tier="T3",
    doc="Near-dup CLUSTERS from LSH candidate pairs via iterative "
    "min-label propagation (connected components) — the step that "
    "turns pairs into one-canonical-per-cluster keep lists. Spark "
    "side is driver-coordinated rounds (join + min-groupBy + "
    "localCheckpoint per round, O(diameter) rounds); the oracle is a "
    "recursive CTE computing the same transitive closure.",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    reach(src, dst) AS (
      SELECT src, src FROM und
      UNION
      SELECT r.src, e.dst FROM reach r JOIN und e ON e.src = r.dst
    ),
    comp AS (
      SELECT src AS doc_id, min(dst) AS component
      FROM reach GROUP BY src
    )
    SELECT component AS canonical_doc_id,
           count(*) AS n_docs,
           max(doc_id) AS max_doc_id
    FROM comp
    GROUP BY component
    ORDER BY canonical_doc_id
    """,
)
def dedup_components_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, load_table(spark, sf_dir, "documents"))
    sigs = D.minhash_signatures_arrays(d, n=_MINHASH_N, num_hashes=_MINHASH_K)
    edges = D.bucket_pairs(D.band_signatures(sigs, _MINHASH_K, _MINHASH_RPB))
    comp = D.connected_components(edges)
    return (
        comp.groupBy(F.col("component").alias("canonical_doc_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("canonical_doc_id")
    )


# --------------------------------------------------------------------------
# T3.2 — SimHash signatures + hamming pairs
# --------------------------------------------------------------------------
def _simhash_sql(bits: int = 32) -> str:
    sums = ",\n             ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{i} >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    th AS (
      SELECT doc_id, {_MD5H.format(expr='t')} AS h FROM tok
    ),
    sums AS (
      SELECT doc_id,
             {sums}
      FROM th GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM sums
    )
    """


@query(
    "dedup_simhash",
    tier="T3",
    doc="32-bit SimHash signature per document (T3.2). One explode + "
    "one agg with 32 sum expressions — no per-bit row blowup.",
    oracle=_simhash_sql() + "SELECT doc_id, simhash FROM sig ORDER BY doc_id",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash(d).orderBy("doc_id")


@query(
    "dedup_simhash_pairs",
    tier="T3",
    doc="SimHash near-dup pairs, hamming ≤ 8 (T3.2): a self-join on "
    "the signature table.",
    oracle=_simhash_sql()
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(d, max_hamming=8).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# T3.1/T3.2 — INCREMENTAL dedup: new batch probes the corpus band index
# --------------------------------------------------------------------------
@query(
    "dedup_incremental_minhash",
    tier="T3",
    doc="Incremental near-dup gate: an arriving batch (odd doc_ids "
    "stand in for 'new') is checked against the existing corpus (even "
    "doc_ids) by probing the corpus's MinHash BAND INDEX — signatures "
    "are computed only for the probe side in production, and the join "
    "touches only colliding buckets, so admitting a batch costs "
    "O(|batch| + collisions), never O(|corpus|) re-mining. At 100 TB "
    "the corpus index is a bucketed table on (band, band_sig); the "
    "probe is a broadcast-or-bucket join per batch. Output: each new "
    "doc that collides, its earliest corpus match, and the collision "
    "count (bands × matching corpus docs).",
    oracle=f"""
    WITH {_MINHASH_CTES.replace("cand AS", "cand_unused AS")}
    SELECT n.doc_id AS new_doc,
           min(o.doc_id) AS first_corpus_match,
           count(*) AS n_collisions
    FROM sig n
    JOIN sig o ON n.band = o.band AND n.band_sig = o.band_sig
              AND n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
    GROUP BY n.doc_id
    ORDER BY new_doc
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, load_table(spark, sf_dir, "documents"))
    sigs = D.minhash_signatures_arrays(d, n=_MINHASH_N, num_hashes=_MINHASH_K)
    bands = D.band_signatures(sigs, _MINHASH_K, _MINHASH_RPB)
    corpus = bands.filter(F.col("doc_id") % 2 == 0)
    batch = bands.filter(F.col("doc_id") % 2 == 1)
    hits = batch.alias("n").join(
        corpus.alias("o"),
        on=[
            F.col("n.band") == F.col("o.band"),
            F.col("n.band_sig") == F.col("o.band_sig"),
        ],
    )
    return (
        hits.groupBy(F.col("n.doc_id").alias("new_doc"))
        .agg(
            F.min("o.doc_id").alias("first_corpus_match"),
            F.count("*").alias("n_collisions"),
        )
        .orderBy("new_doc")
    )


# --------------------------------------------------------------------------
# T3.2 — blocked edit-distance (Levenshtein) fuzzy dedup
# --------------------------------------------------------------------------
@query(
    "dedup_fuzzy_levenshtein",
    tier="T3",
    doc="Fuzzy near-dup pairs by EDIT DISTANCE, made tractable by "
    "blocking: candidates are pairs sharing (length bucket, first-8-"
    "char prefix) — an equi-join on a cheap deterministic key — and "
    "the O(n·m) levenshtein kernel runs ONLY inside blocks, with a "
    "length-difference pre-filter (|len a − len b| ≤ 12 is a lower "
    "bound on the distance) cutting the kernel calls further. Skew "
    "(VERDICT r9 #1): on a real crawl, boilerplate openings "
    "('<!DOCTYPE html…') put a huge share of same-length docs in ONE "
    "block, so the pair stage runs through operators/skew.py:"
    "capped_block_self_pairs — a triangle/fragment-replicate split "
    "that spreads a block of n > cap rows over g(g+1)/2 reducer "
    "cells with EXACT pair semantics. Plan choice is a control-plane "
    "gate (one column-pruned max-block-count scalar, the triangle-"
    "count doctrine): an unskewed corpus gets the plain equi-join "
    "verbatim — measured, the always-on split taxed the unskewed "
    "case ~2.5x. Pairs at distance ≤ 12 emit with doc_a < doc_b.",
    oracle="""
    WITH b AS (
      SELECT doc_id, text,
             length(text) // 16 AS len_b,
             substring(text, 1, 8) AS pre
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
    FROM b a JOIN b b ON a.len_b = b.len_b AND a.pre = b.pre
                     AND a.doc_id < b.doc_id
    WHERE abs(length(a.text) - length(b.text)) <= 12
      AND levenshtein(a.text, b.text) <= 12
    ORDER BY doc_a, doc_b
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import capped_block_self_pairs

    d = _spread(spark, load_table(spark, sf_dir, "documents"))
    b = d.select(
        "doc_id",
        "text",
        (F.length("text") / 16).cast("long").alias("len_b"),
        F.substring("text", 1, 8).alias("pre"),
    )
    pairs = capped_block_self_pairs(
        b, block_cols=("len_b", "pre"), id_col="doc_id", cap=256
    ).filter(F.abs(F.length("a.text") - F.length("b.text")) <= 12)
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein("a.text", "b.text").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 12)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# T3.1 — dedup impact report: what survivorship actually saves
# --------------------------------------------------------------------------
@query(
    "dedup_impact_report",
    tier="T3",
    doc="The deliverable of the dedup stage: per near-dup cluster "
    "(connected components over LSH pairs, ≥2 docs), the surviving "
    "canonical (min doc_id), how many docs and how many characters "
    "the cluster removes — the byte-savings report a curation run "
    "ships with. One equi-join of the (docs-in-clusters)-sized "
    "component table against doc stats + one agg; min_by picks the "
    "kept doc's size exactly.",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    reach(src, dst) AS (
      SELECT src, src FROM und
      UNION
      SELECT r.src, e.dst FROM reach r JOIN und e ON e.src = r.dst
    ),
    comp AS (
      SELECT src AS doc_id, min(dst) AS component
      FROM reach GROUP BY src
    ),
    j AS (
      SELECT c.component, c.doc_id, d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT component AS canonical_doc_id,
           count(*) - 1 AS n_removed,
           CAST(sum(n_chars) - min_by(n_chars, doc_id) AS BIGINT)
             AS chars_removed
    FROM j
    GROUP BY component
    HAVING count(*) >= 2
    ORDER BY canonical_doc_id
    """,
)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = _spread(spark, docs)
    sigs = D.minhash_signatures_arrays(d, n=_MINHASH_N, num_hashes=_MINHASH_K)
    edges = D.bucket_pairs(D.band_signatures(sigs, _MINHASH_K, _MINHASH_RPB))
    comp = D.connected_components(edges)
    j = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        j.groupBy(F.col("component").alias("canonical_doc_id"))
        .agg(
            (F.count("*") - 1).cast("long").alias("n_removed"),
            (F.sum("n_chars") - F.min_by("n_chars", "doc_id"))
            .cast("long")
            .alias("chars_removed"),
        )
        .filter(F.col("n_removed") >= 1)
        .orderBy("canonical_doc_id")
    )


# --------------------------------------------------------------------------
# T3.2 — MinHash calibration: sketch estimate vs exact Jaccard
# --------------------------------------------------------------------------
_CALIB_MATCHES = " + ".join(
    f"(CASE WHEN ma.m{k} = mb.m{k} THEN 1 ELSE 0 END)"
    for k in range(_MINHASH_K)
)


@query(
    "dedup_minhash_calibration",
    tier="T3",
    doc="Sketch-quality audit: for every LSH candidate pair, the "
    "MinHash estimate (matching hashes / 16) against the EXACT "
    "shingle Jaccard, bucketed by match count — the calibration "
    "curve that justifies the band/row config before a 100 TB dedup "
    "run (a mis-tuned sketch shows up as estimate≫exact). Exactness: "
    "per-pair Jaccard is one small-int division (identical IEEE "
    "double both engines) quantized to e6 BEFORE the bucket mean, so "
    "the aggregate is an exact integer sum. Cost rides the existing "
    "candidate set — O(|candidates|), no new all-pairs work.",
    oracle=f"""
    WITH {_MINHASH_CTES},
    mm AS (
      SELECT c.doc_a, c.doc_b, ({_CALIB_MATCHES}) AS n_match
      FROM cand c
      JOIN m ma ON ma.doc_id = c.doc_a
      JOIN m mb ON mb.doc_id = c.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    je AS (
      SELECT i.doc_a, i.doc_b,
             CAST(round(1000000.0 * i.n_inter
                        / (sa.n_sh + sb.n_sh - i.n_inter)) AS BIGINT) AS j_e6
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT mm.n_match AS n_matching_hashes,
           count(*) AS n_pairs,
           round(CAST(mm.n_match AS DOUBLE) / {_MINHASH_K}, 6) AS est_jaccard,
           round(CAST(sum(coalesce(j.j_e6, 0)) AS DOUBLE) / count(*)
                 / 1000000.0, 6) AS mean_exact_jaccard
    FROM mm
    LEFT JOIN je j ON j.doc_a = mm.doc_a AND j.doc_b = mm.doc_b
    GROUP BY mm.n_match
    ORDER BY mm.n_match
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, load_table(spark, sf_dir, "documents"))
    sigs = D.minhash_signatures_arrays(
        d, n=_MINHASH_N, num_hashes=_MINHASH_K
    ).persist()
    cand = D.bucket_pairs(D.band_signatures(sigs, _MINHASH_K, _MINHASH_RPB))

    ma = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{k}").alias(f"a{k}") for k in range(_MINHASH_K)],
    )
    mb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{k}").alias(f"b{k}") for k in range(_MINHASH_K)],
    )
    n_match = sum(
        (
            F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
            for k in range(_MINHASH_K)
        ),
        F.lit(0),
    )
    # No broadcast pin: ma/mb are DOC-cardinality (|docs| x K minhash
    # columns) — AQE broadcasts them from the cached-relation stats at
    # bench scale; at 100 TB the same code degrades to shuffle joins on
    # doc_id instead of a driver OOM. attach_pair_shingles below now
    # defaults to the same unhinted contract.
    mm = (
        cand.select("doc_a", "doc_b")
        .join(ma, "doc_a")
        .join(mb, "doc_b")
        .select("doc_a", "doc_b", n_match.alias("n_match"))
    )

    # Shared pair-attach kernel (operators/dedup.py) so the
    # broadcast_docs=False shuffle-join fallback stays available here
    # too — no inline re-implementation with a hardcoded broadcast.
    je = D.attach_pair_shingles(sigs, cand).select(
        "doc_a",
        "doc_b",
        F.round(
            1000000.0
            * F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        .cast("long")
        .alias("j_e6"),
    )
    return (
        mm.join(je, ["doc_a", "doc_b"], "left")
        .groupBy(F.col("n_match").alias("n_matching_hashes"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.any_value("n_match").cast("double") / _MINHASH_K, 6
            ).alias("est_jaccard"),
            F.round(
                F.sum(F.coalesce("j_e6", F.lit(0))).cast("double")
                / F.count("*")
                / 1000000.0,
                6,
            ).alias("mean_exact_jaccard"),
        )
        .orderBy("n_matching_hashes")
    )


# --------------------------------------------------------------------------
# T3.2 — asymmetric containment (subset/quote detection)
# --------------------------------------------------------------------------
@query(
    "dedup_containment_pairs",
    tier="T3",
    doc="Asymmetric CONTAINMENT on LSH candidate pairs: C(A→B) = "
    "|A∩B| / |A| — near-1 when doc A is substantially QUOTED INSIDE "
    "doc B even though symmetric Jaccard stays low (the subset/"
    "boilerplate case plain near-dup misses). Rides the existing "
    "candidate set with the cached shingle arrays (one row-local "
    "array_intersect per pair, both directions from one "
    "intersection); emits pairs where either direction ≥ 0.9. The "
    "complement to dedup_ngram_jaccard at 100 TB — same O(candidates) "
    "cost, different dedup policy.",
    oracle=f"""
    WITH {_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_inter AS DOUBLE) / sa.n_sh, 6) AS contain_a_in_b,
           round(CAST(i.n_inter AS DOUBLE) / sb.n_sh, 6) AS contain_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE round(CAST(i.n_inter AS DOUBLE) / sa.n_sh, 6) >= 0.9
       OR round(CAST(i.n_inter AS DOUBLE) / sb.n_sh, 6) >= 0.9
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, load_table(spark, sf_dir, "documents"))
    sigs = D.minhash_signatures_arrays(
        d, n=_MINHASH_N, num_hashes=_MINHASH_K
    ).persist()
    cand = D.bucket_pairs(D.band_signatures(sigs, _MINHASH_K, _MINHASH_RPB))
    # Shared pair-attach kernel — keeps the non-broadcast 100 TB path.
    j = D.attach_pair_shingles(sigs, cand)
    c_ab = F.round(F.col("n_inter") / F.col("n_a"), 6)
    c_ba = F.round(F.col("n_inter") / F.col("n_b"), 6)
    return (
        j.select(
            "doc_a",
            "doc_b",
            c_ab.alias("contain_a_in_b"),
            c_ba.alias("contain_b_in_a"),
        )
        .filter(
            (F.col("contain_a_in_b") >= 0.9) | (F.col("contain_b_in_a") >= 0.9)
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (AllPairs / PPJoin-lite)
# --------------------------------------------------------------------------
#: Shingle-row ceiling for the all-broadcast plan (see the gate comment
#: in dedup_prefix_filter_jaccard). 16M rows ≈ ~250 MB in-heap for the
#: worst payload relation — comfortable on a 16g driver; the 30x slice
#: that OOM'd carries 37.5M.
PREFIX_BROADCAST_TOKEN_CEIL = 16_000_000


@query(
    "dedup_prefix_filter_jaccard",
    tier="T3",
    doc="EXACT shingle-set similarity join (5-gram Jaccard ≥ 0.8) via "
    "prefix filtering — the DETERMINISTIC complement to MinHash LSH "
    "(dedup_ngram_jaccard finds the same pairs probabilistically; "
    "this query guarantees completeness): order every doc's distinct "
    "shingles by global rarity (df asc, shingle tiebreak), index only "
    "each doc's first |d| − ceil(0.8·|d|) + 1 shingles (two sets "
    "meeting the threshold MUST share a prefix element — the "
    "AllPairs/PPJoin guarantee), equi-join prefixes for candidates, "
    "add the length filter (10·na ≤ ... within [0.8, 1.25] ratio), "
    "verify by exact integer cross-multiplication (10·|∩| ≥ 8·|∪|). "
    "Candidates ⊇ answer, so the verified result EQUALS brute force — "
    "the oracle IS brute force. Unit choice matters: WORD tokens "
    "degenerate on this 31-word vocabulary (every prefix collides — "
    "measured 155 s); 5-gram shingles have a large vocabulary, so "
    "rarity-ordered prefixes are selective. The rarity order needs no "
    "rank at all: (df, shingle) is itself a unique total order, so "
    "each doc sorts struct(df, tok) row-locally after a distributed "
    "df join — zero windows anywhere in the plan (de-exempted r5; "
    "previously a single-partition row_number over the vocabulary, "
    "which at billions of web-text shingles would serialize onto one "
    "task). Jaccard as exact "
    "e6 integer (floor). HONEST LIMIT, measured: prefix filtering "
    "presumes vocabulary >> corpus (true of real web text, ~billions "
    "of distinct shingles). THIS synthetic corpus has only ~2k "
    "distinct 5-gram shingles, so even rarity-ordered prefixes carry "
    "df~hundreds and candidates approach all-pairs at sf0.1 (~50M "
    "pre-distinct join rows — excluded from the bench headline for "
    "that reason; sf0.01, the correctness gate scale, runs in ~14 s). "
    "On a small-vocabulary corpus the probabilistic LSH family IS "
    "the right tool; the catalog carries both and says when to use "
    "which.",
    oracle=f"""
    WITH sh AS ({_shingles_sql(5)}),
    t AS (
      SELECT doc_id, list(shingle) AS toks, count(*) AS n
      FROM sh GROUP BY doc_id
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_inter,
             CAST(a.n + b.n - len(list_intersect(a.toks, b.toks)) AS BIGINT)
               AS n_union
      FROM t a JOIN t b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, n_inter, n_union,
           CAST(1000000 * n_inter // n_union AS BIGINT) AS jaccard_e6
    FROM p
    WHERE 10 * n_inter >= 8 * n_union
    ORDER BY doc_a, doc_b
    """,
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, load_table(spark, sf_dir, "documents"))
    docs = d.select(
        "doc_id", D.shingle_array("text", n=5).alias("toks")
    )
    toks = docs.select(
        "doc_id", F.explode("toks").alias("tok")
    ).persist()
    # Control-plane join-strategy gate (the skew/triangle doctrine;
    # found by the r11 sf3 decade probe): above ~16M shingle rows the
    # array-payload relations (toks_sorted per doc) inflate in-heap
    # 20-50x past their compressed size estimate, so size-based
    # broadcast selection OOMs the driver building the hash relation
    # (measured: 37.5M tokens at the 30x Zipf slice died with
    # notEnoughMemoryToBuildAndBroadcastTable under a 64MB threshold
    # and 16g driver). Below the ceiling the plan keeps its measured
    # all-broadcast shape verbatim; above it every join is pinned
    # SHUFFLE_HASH — the shape a 1000-executor run wants anyway. The
    # scalar is an UPPER BOUND on shingle rows from one single-column
    # aggregate (shingles per doc = n_chars - 4), NOT a count over the
    # exploded shingles: the explode-count variant measured ~+2 s of
    # fixed gate tax at sf0.1; summing one int column costs
    # milliseconds and a too-big bound can only push a borderline
    # corpus onto the shuffle plan, never OOM it.
    approx_tokens = d.agg(
        F.sum(F.greatest(F.col("n_chars") - 4, F.lit(0)))
    ).collect()[0][0] or 0
    shuffle_pin = approx_tokens > PREFIX_BROADCAST_TOKEN_CEIL

    def _h(frame: DataFrame) -> DataFrame:
        return frame.hint("shuffle_hash") if shuffle_pin else frame
    # Global rarity order — the dictionary build. No rank column is
    # needed: (f, tok) is already a unique total order (tok is unique
    # after the groupBy), so the per-doc sort below orders by the
    # struct directly. The df attach is an ordinary distributed
    # equi-join; the whole vocabulary never meets a single task.
    freq = toks.groupBy("tok").agg(F.count("*").alias("f"))
    ranked = toks.join(_h(freq), "tok").select("doc_id", "tok", "f")
    per_doc = ranked.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("f", "tok"))).alias("ordered"),
        F.count("*").alias("n"),
    )
    # prefix_len = n - ceil(0.8 n) + 1; ceil(8n/10) = (8n + 9) div 10.
    pre = per_doc.select(
        "doc_id",
        "n",
        F.col("ordered.tok").alias("toks_sorted"),
        F.slice(
            F.col("ordered.tok"),
            1,
            (F.col("n") - F.expr("(8 * n + 9) div 10") + 1).cast("int"),
        ).alias("prefix"),
    ).persist()
    pf = pre.select("doc_id", "n", F.explode("prefix").alias("tok"))
    a, b = pf.alias("a"), _h(pf.alias("b"))
    # Length filter rides the candidate join: J ≥ 0.8 requires
    # 8·max(na,nb) ≤ 10·min(na,nb) — prunes cross-size pairs before
    # the distinct.
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (8 * F.col("b.n") <= 10 * F.col("a.n"))
            & (8 * F.col("a.n") <= 10 * F.col("b.n")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = pre.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks_sorted").alias("ta"),
        F.col("n").alias("na"),
    )
    tb = pre.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks_sorted").alias("tb"),
        F.col("n").alias("nb"),
    )
    scored = (
        cand.join(_h(ta), "doc_a")
        .join(_h(tb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("n_inter"),
            (F.col("na") + F.col("nb")).alias("n_ab"),
        )
        .withColumn("n_union", (F.col("n_ab") - F.col("n_inter")).cast("long"))
    )
    return (
        scored.filter(10 * F.col("n_inter") >= 8 * F.col("n_union"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            F.expr("cast((1000000 * n_inter) div n_union as long)").alias(
                "jaccard_e6"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# T3 — sorted-neighborhood entity resolution (SNM candidate generation)
# --------------------------------------------------------------------------
_SNM_WINDOW = 2
_SNM_MAXDIST = 3


@query(
    "dedup_sorted_neighborhood",
    tier="T3",
    doc=f"Sorted-neighborhood method over part names: candidates are "
    f"pairs within {_SNM_WINDOW} positions of each other in the "
    "(p_name, p_partkey) sort order, verified by exact Levenshtein "
    f"(1..{_SNM_MAXDIST} — identical-name pairs are exact dups, "
    "handled by dedup_exact, and excluded here). The classic ER "
    "complement to blocking/LSH: sortedness puts lexicographic "
    "near-misses adjacent REGARDLESS of which blocking key they'd "
    "miss. Scale shape: the global position comes from the two-phase "
    "distributed rank (operators/prefix.py cumsum of ones — never a "
    "single-partition row_number), and the w-neighborhood is an "
    "EQUI-join on rank offset (explode each row to its next-w ranks) "
    "— cross-partition adjacency falls out of the join, with none of "
    "the boundary-replication bookkeeping a within-partition lead() "
    "would need. Verify cost is |rows|·w Levenshteins, row-local.",
    oracle=f"""
    WITH s AS (
      SELECT p_partkey, p_name,
             CAST(row_number() OVER (ORDER BY p_name, p_partkey)
                  AS BIGINT) AS t
      FROM part
    ),
    pairs AS (
      SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
             a.p_name AS a_name, b.p_name AS b_name,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      FROM s a JOIN s b ON b.t - a.t BETWEEN 1 AND {_SNM_WINDOW}
    )
    SELECT a_key, b_key, a_name, b_name, dist
    FROM pairs WHERE dist BETWEEN 1 AND {_SNM_MAXDIST}
    ORDER BY a_key, b_key
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import distributed_cumsum

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", F.lit(1).cast("long").alias("one")
    )
    s = distributed_cumsum(
        p, order_cols=["p_name", "p_partkey"], value_col="one", out_col="t"
    ).drop("one")
    a = s.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_name").alias("a_name"),
        F.explode(
            F.sequence(F.col("t") + 1, F.col("t") + _SNM_WINDOW)
        ).alias("t"),
    )
    b = s.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_name").alias("b_name"),
        "t",
    )
    return (
        a.join(b, "t")
        .select(
            "a_key",
            "b_key",
            "a_name",
            "b_name",
            F.levenshtein("a_name", "b_name").cast("long").alias("dist"),
        )
        .filter(F.col("dist").between(1, _SNM_MAXDIST))
        .orderBy("a_key", "b_key")
    )


# --------------------------------------------------------------------------
# Exact-substring duplication spans (Lee et al. "Deduplicating Training
# Data Makes Language Models Better" — the EXACT-SUBSTRING family that
# set-similarity dedup cannot see: two documents sharing one long
# verbatim passage can still have low Jaccard)
# --------------------------------------------------------------------------
_SPAN_W = 40  # window length (chars); spans reported are >= this


@query(
    "dedup_exact_substring_spans",
    tier="T3",
    doc=f"Exact shared-substring spans >= {_SPAN_W} chars across "
    "document pairs: every doc explodes into its step-1 char "
    f"{_SPAN_W}-gram windows with positions, identical windows "
    "equi-join across docs (doc_a < doc_b), and each pair's matches "
    "group by DIAGONAL (pos_a - pos_b): a run of c consecutive "
    "positions on one diagonal is a verbatim shared substring of "
    f"length {_SPAN_W} + c - 1, recovered exactly by the "
    "gaps-and-islands trick (pos - row_number per diagonal). Top-20 "
    "pairs by longest span, fully tiebroken. This is the "
    "exact-substring dedup family (suffix-array style, Lee et al. "
    "2022) that complements set-similarity: a doc quoting one long "
    "passage of another has near-zero Jaccard but a giant span. "
    "Scale shape: the window explode is row-local (~len windows/doc), "
    "the join is a hash equi-join on the FULL 128-bit md5 of the "
    "window as one 16-byte binary key (unhex(md5(window)) — the "
    "repo's standard engine-portable md5 family, so the oracle "
    "replays the identical equality). 128 bits makes digest "
    "equality exact in practice: a birthday collision needs ~2^64 "
    "DISTINCT windows, vs ~1e-3/corpus false-positive odds at 1e8 "
    "windows for the round-8 single 60-bit half (ADVICE r8 — a "
    "collision there could emit a spurious span the "
    "digest-replaying oracle could not detect). Join output is "
    "bounded by true duplication (unique windows join nothing), and "
    "the islands window partitions by (pair, diagonal) — "
    "match-structure grain, never corpus grain. The digest row is "
    "~24 B vs 56 B for the raw 40-char window — at 100 TB, where "
    "both join sides are fact-scale and must exchange on the window "
    "key, that is the dominant shuffle cut ~2.3x (and the key "
    "compare drops from 40-byte strings to a 16-byte memcmp); at "
    "fixture scale the window table broadcasts, and the digest "
    "shrinks the hashed relation + probe cost instead: sf1 wall "
    "16.4 -> 13.4 s measured A/B digest-vs-raw (round-8 development "
    "observation, best-of-2), and the round-9 three-way isolated "
    "min-of-3 at sf0.1 ranked unhex-128-bit 1.72 s < 60-bit conv "
    "1.84 s < two-half conv 2.19 s — the full hash is FASTER than "
    "either truncation because one unhex replaces substring+conv "
    "hex parsing per window per side.",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, i AS pos,
             unhex(md5(substring(text, CAST(i AS INTEGER), {_SPAN_W}))) AS win
      FROM documents, unnest(range(1, greatest(length(text) - {_SPAN_W - 1}, 0) + 1)) AS t(i)
      WHERE length(text) >= {_SPAN_W}
    ),
    p AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             a.pos - b.pos AS diag, a.pos AS pa
      FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT da, db, diag, pa,
             pa - row_number() OVER (
               PARTITION BY da, db, diag ORDER BY pa) AS island
      FROM p
    ),
    spans AS (
      SELECT da, db, CAST(count(*) AS BIGINT) AS run_len
      FROM runs GROUP BY da, db, diag, island
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST({_SPAN_W - 1} + max(run_len) AS BIGINT) AS longest_len,
           CAST(sum(run_len) AS BIGINT) AS n_aligned_matches
    FROM spans GROUP BY 1, 2
    ORDER BY longest_len DESC, doc_a ASC, doc_b ASC LIMIT 20
    """,
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _spread(spark, load_table(spark, sf_dir, "documents")).filter(
        F.length("text") >= _SPAN_W
    )
    w = d.selectExpr(
        "doc_id",
        "text",
        f"explode(sequence(1, length(text) - {_SPAN_W - 1})) AS pos",
    ).selectExpr(
        "doc_id",
        "pos",
        # Full 128-bit md5 as one 16-byte binary key: the join
        # shuffles ~16 bytes/window instead of the raw 40-char text,
        # digest equality is exact in practice (birthday bound ~2^64
        # distinct windows), and unhex is cheaper than hex-substring
        # parsing (round-9 isolated min-of-3 at sf0.1: 1.72 s vs
        # 1.84 s for the 60-bit conv truncation). Same md5 family
        # every other dedup plan uses — DuckDB replays it exactly.
        f"unhex(md5(substring(text, pos, {_SPAN_W}))) AS win",
    )
    a = w.selectExpr("doc_id AS da", "pos AS pa", "win")
    b = w.selectExpr("doc_id AS db", "pos AS pb", "win")
    p = a.join(
        b, (a.win == b.win) & (F.col("da") < F.col("db"))
    ).select("da", "db", (F.col("pa") - F.col("pb")).alias("diag"), "pa")
    runs = p.withColumn(
        "island",
        F.col("pa")
        - F.row_number().over(
            Window.partitionBy("da", "db", "diag").orderBy("pa")
        ),
    )
    spans = runs.groupBy("da", "db", "diag", "island").agg(
        F.count("*").cast("long").alias("run_len")
    )
    return (
        spans.groupBy("da", "db")
        .agg(
            (F.lit(_SPAN_W - 1) + F.max("run_len")).cast("long")
            .alias("longest_len"),
            F.sum("run_len").cast("long").alias("n_aligned_matches"),
        )
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            "longest_len",
            "n_aligned_matches",
        )
        .orderBy(F.desc("longest_len"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Winnowing pair candidates (round 9) — the scale-path pre-filter for
# the exact substring verifiers above; operator in operators/winnow.py.
# --------------------------------------------------------------------------
from ..operators import winnow as WN  # noqa: E402


@query(
    "dedup_winnowing_pairs",
    tier="T3",
    doc="Near-duplicate candidate pairs via winnowed fingerprints "
    "(T3.2): documents sharing >= 2 distinct selected fingerprints, "
    "after dropping boilerplate fingerprints with document frequency "
    f"> {WN.WINNOW_DF_CAP} (the hot-shingle cap doctrine — bounds "
    "every bucket's pair fan-out at cap^2, so shuffle mass stays "
    "sum-of-bounded-buckets on a crawl corpus full of shared "
    "boilerplate). Contrast dedup_exact_substring_spans: that "
    "operator shuffles one row per token position to verify spans "
    "EXACTLY; winnowing keeps the >= 8-token match GUARANTEE while "
    "shuffling only the ~2/(W+1) selected fraction — at 100 TB this "
    "is the affordable first pass whose survivors feed the exact "
    "verifier. Bucket join on fp (LSH band-join shape) — never "
    "all-pairs.",
    oracle=f"""
    WITH {WN.WINNOW_ORACLE_CTE},
    fps AS (SELECT DISTINCT doc_id, fp FROM win),
    keep AS (SELECT fp FROM fps GROUP BY fp
             HAVING count(*) <= {WN.WINNOW_DF_CAP}),
    kept AS (SELECT fps.doc_id, fps.fp FROM fps JOIN keep USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_fps
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY doc_a, doc_b
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return WN.pair_candidates(WN.fingerprint_stream(d)).orderBy(
        "doc_a", "doc_b"
    )
