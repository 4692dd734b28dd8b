"""Text-analysis operators (north-star T3.4): language-ID, quality
scoring, token counting, document fingerprinting.

All JVM-side (split / higher-order fns / regexp) — no Python UDFs.
Ratios are emitted as exact integer parts-per-million (`*_e6 =
(num * 1_000_000) // den`) — integer floor division is bit-identical
across engines, unlike float division + round on grid-valued ratios.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tiny per-language stopword lexicon for the heuristic language-ID.
#: (word, lang) — deliberately small and inline so the SQL oracle can
#: embed the identical VALUES list.
LANG_LEXICON: tuple[tuple[str, str], ...] = (
    ("the", "en"), ("a", "en"), ("of", "en"), ("and", "en"), ("to", "en"),
    ("is", "en"), ("in", "en"),
    ("el", "es"), ("la", "es"), ("de", "es"), ("y", "es"), ("los", "es"),
    ("le", "fr"), ("les", "fr"), ("et", "fr"), ("des", "fr"), ("un", "fr"),
    ("der", "de"), ("die", "de"), ("das", "de"), ("und", "de"), ("ein", "de"),
    ("的", "zh"), ("是", "zh"), ("了", "zh"),
)

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "is", "in")

ROLLING_MOD = 2147483647  # 2^31 - 1; keeps acc*31+255 < 2^36 (no overflow)


def tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def rolling_hash(text_col: str = "text") -> Column:
    """Polynomial rolling hash h = Σ 31^i·c_i mod (2^31−1), sequential
    fold — exact integer arithmetic, engine-portable.

    Splits into a char array ONCE (O(n)); the earlier per-position
    `substring(text, i, 1)` form was O(n²) on UTF-8 strings (each
    substring seeks from the start of the varlen encoding).
    """
    return F.expr(
        f"aggregate(transform(split({text_col}, ''),"
        f" c -> CAST(ascii(c) AS BIGINT)),"
        f" CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % {ROLLING_MOD})"
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """md5 of whitespace-normalized lowercase content + rolling hash."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm).alias("fingerprint_md5"),
        rolling_hash(text_col).alias("rolling_hash"),
    )


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace + regex token counts and char counts."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit("[a-z]+")).cast("long").alias(
            "word_tokens"
        ),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality signals as exact ppm integers (T3.4).

    alpha_ratio  = alphabetic chars / chars
    stop_ratio   = stopword tokens / tokens
    avg_token_len (ppm) = Σ token length / tokens
    quality      = (alpha + stop + min(tokens,100)·10^4) // 3
    """
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_chars = F.length(text_col).cast("long")
    n_tokens = F.size(tokens(text_col)).cast("long")
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-z]", "")).cast("long")
    sum_tok_len = F.expr(
        f"aggregate(split({text_col}, ' '), CAST(0 AS BIGINT),"
        f" (acc, x) -> acc + length(x))"
    )
    n_stop = F.expr(
        f"CAST(size(filter(split({text_col}, ' '),"
        f" x -> array_contains(array({stop_arr}), x))) AS BIGINT)"
    )
    df = docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_alpha.alias("n_alpha"),
        sum_tok_len.alias("sum_tok_len"),
        n_stop.alias("n_stop"),
    )
    return df.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.expr("(n_alpha * 1000000) div greatest(n_chars, 1)").alias("alpha_ratio_e6"),
        F.expr("(n_stop * 1000000) div greatest(n_tokens, 1)").alias("stop_ratio_e6"),
        F.expr("(sum_tok_len * 1000000) div greatest(n_tokens, 1)").alias(
            "avg_token_len_e6"
        ),
        F.expr(
            "((n_alpha * 1000000) div greatest(n_chars, 1)"
            " + (n_stop * 1000000) div greatest(n_tokens, 1)"
            " + least(n_tokens, 100) * 10000) div 3"
        ).alias("quality_e6"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-lexicon language guess: argmax hits, ties → lang asc,
    zero hits → 'unknown'. Single shuffle on doc_id."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    lex = spark.createDataFrame(list(LANG_LEXICON), ["t", "lang_guess"])
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("t")
    )
    hits = (
        tok.join(F.broadcast(lex), "t")
        .groupBy("doc_id", "lang_guess")
        .agg(F.count("*").alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("lang_guess"))
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang_guess", "n_hits")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col("lang").alias("actual_lang"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lang_guess", F.lit("unknown")).alias("pred_lang"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "actual_lang",
            F.when(F.col("lang_guess") == F.col("actual_lang"), 1)
            .otherwise(0)
            .alias("is_match"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-preparation operators (north-star training-data pipeline)
# ---------------------------------------------------------------------------

#: Per-language per-mille sampling rates for the stratified corpus
#: sample (keep md5-bucket < rate). Inline so the SQL oracle embeds the
#: identical VALUES list. The shape mirrors real pretraining mixes:
#: down-sample over-represented languages, keep the tail.
STRATA_RATES: tuple[tuple[str, int], ...] = (
    ("en", 80),
    ("de", 200),
    ("es", 300),
    ("fr", 500),
    ("zh", 900),
)

#: Email-ish and digit-run patterns for PII scrubbing. Both are RE2- and
#: java.util.regex-portable (no backrefs, no lookaround).
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+"
PII_DIGITS_RE = "[0-9]+"


def chunk_documents(
    docs: DataFrame,
    *,
    size: int = 120,
    stride: int = 90,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size overlapping character chunks.

    The LLM-context-window prep step: chunk starts are 1, 1+stride,
    1+2·stride, … while start ≤ length(text); each chunk is
    `substring(text, start, size)` (the last chunk may be short).

    Scale: entirely row-local — `sequence` + `explode` generate chunk
    rows inside the scan task with zero shuffles; output partitioning
    inherits the input's. At 100 TB this is the shape you want: chunking
    is a flat-map, never an aggregation.
    """
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(text_col), F.lit(1)), F.lit(stride)
    )
    chunk = F.expr(f"substring({text_col}, start, {size})")
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col),
            F.explode(starts).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / stride).cast("long").alias("chunk_idx"),
            F.col("start").cast("long").alias("start_pos"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals, exact-integer.

    Per document: token count, distinct-token count, most-frequent-token
    count, bigram count, distinct-bigram count, most-frequent-bigram
    count, plus ppm ratios (duplicate-token fraction, top-bigram
    fraction) — the signals used to drop template/boilerplate docs from
    training corpora.

    Scale: ONE explode of a tagged (kind, entry) array — tokens and
    bigrams ride the same shuffle — then two hash aggregations
    ((doc_id, kind, entry) → doc_id), both map-side combinable. No
    joins, no row-local O(n²) distinct scans.
    """
    # Tokenize ONCE into a column — referencing split() inside the
    # bigram lambda would re-split the text per element (O(n²) chars).
    toked = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    # Bigrams as zip_with of the array against its own 1-shift; slice
    # length size-1 is 0 for single-token docs → empty array, no
    # out-of-range element_at.
    bigrams = F.expr(
        "zip_with(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    tagged = F.concat(
        F.transform(
            F.col("toks"),
            lambda t: F.struct(F.lit("T").alias("kind"), t.alias("entry")),
        ),
        F.transform(
            bigrams, lambda b: F.struct(F.lit("B").alias("kind"), b.alias("entry"))
        ),
    )
    exploded = toked.select("doc_id", F.explode(tagged).alias("e")).select(
        "doc_id", F.col("e.kind").alias("kind"), F.col("e.entry").alias("entry")
    )
    per_entry = exploded.groupBy("doc_id", "kind", "entry").agg(
        F.count("*").alias("c")
    )
    is_t = F.col("kind") == "T"
    agg = per_entry.groupBy("doc_id").agg(
        F.sum(F.when(is_t, F.col("c"))).cast("long").alias("n_tokens"),
        F.count(F.when(is_t, 1)).cast("long").alias("n_distinct_tokens"),
        F.max(F.when(is_t, F.col("c"))).cast("long").alias("max_token_freq"),
        F.coalesce(F.sum(F.when(~is_t, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("n_bigrams"),
        F.count(F.when(~is_t, 1)).cast("long").alias("n_distinct_bigrams"),
        F.coalesce(F.max(F.when(~is_t, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("max_bigram_freq"),
    )
    return agg.select(
        "*",
        F.expr(
            "(n_tokens - n_distinct_tokens) * 1000000 div greatest(n_tokens, 1)"
        ).alias("dup_token_ratio_e6"),
        F.expr("max_bigram_freq * 1000000 div greatest(n_bigrams, 1)").alias(
            "top_bigram_ratio_e6"
        ),
    )


def pii_redact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Regex PII scrub: count and redact email-ish tokens and digit runs.

    Redaction order matters (emails contain digits): emails → <EMAIL>
    first, then digit runs → <NUM>. Everything is JVM-side regexp —
    row-local, zero shuffles, pushdown-friendly.
    """
    redacted = F.regexp_replace(
        F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>"),
        PII_DIGITS_RE,
        "<NUM>",
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(F.col(text_col), F.lit(PII_EMAIL_RE))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count(F.col(text_col), F.lit(PII_DIGITS_RE))
        .cast("long")
        .alias("n_digit_runs"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


def stratified_sample(
    docs: DataFrame,
    rates: tuple[tuple[str, int], ...] = STRATA_RATES,
    *,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """Deterministic per-stratum hash sample: keep a row iff
    md5(id) mod 1000 < rate(stratum).

    Reproducible across engines and re-runs (unlike RNG sampling), and
    the per-stratum rate lives in a broadcast dimension — the standard
    corpus-mixing shape (down-weight over-represented languages). At
    100 TB the md5-bucket filter runs inside the scan and the rate
    lookup is a broadcast hash join — no shuffle of the fact side.
    """
    spark = docs.sparkSession
    rates_df = spark.createDataFrame(list(rates), [stratum_col, "keep_per_mille"])
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000
    )
    return (
        docs.join(F.broadcast(rates_df), stratum_col)
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < F.col("keep_per_mille"))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(stratum_col).alias("stratum"),
            F.col("bucket").cast("long").alias("bucket"),
        )
    )


# -- decontamination (training data vs eval benchmark) ---------------------

DECON_NGRAM = 8  # token n-gram width (13 in GPT-3-scale pipelines)


ROLL_M = 2147483647  # 2^31 - 1: keeps acc*37 + h < 2^36, ANSI-safe


def _with_gram_hashes(
    df: DataFrame, n: int, text_col: str, out_col: str
) -> DataFrame:
    """Add a column of 62-bit hashes of all token n-grams.

    Cost shape: per-token 31-bit hashes are computed ONCE into an
    intermediate array column (two independent xxhash64 seeds), then
    each gram hash is a rolling polynomial over n element_at lookups —
    integer ops only, no per-offset array slicing or gram-string
    materialization (the slice/join forms allocate O(tokens x n) per
    doc and measured 2-20x slower). The two 31-bit polynomials pack
    into one BIGINT, so gram identity is a 62-bit key: ~7M grams give
    ~1e-5 expected collisions (birthday bound) — negligible, and any
    collision only perturbs a count by 1.

    Docs shorter than n tokens get an EMPTY array (Spark's
    sequence(0, -1) would descend, so the short case is guarded).
    Materialized as TWO projections (token hashes, then grams) —
    inlining the token-hash transform into the gram lambda would
    recompute it per element.
    """
    M = ROLL_M
    tk = (
        f"transform(split({text_col}, ' '), t -> named_struct("
        f"'a', pmod(xxhash64(t), {M}), 'b', pmod(xxhash64(t, 7), {M})))"
    )
    grams = f"""
      CASE WHEN size(_tk) >= {n} THEN
        transform(
          sequence(0, size(_tk) - {n}),
          i -> aggregate(
                 sequence(i + 1, i + {n}),
                 named_struct('a', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT)),
                 (acc, j) -> named_struct(
                    'a', (acc.a * 31 + element_at(_tk, j).a) % {M},
                    'b', (acc.b * 37 + element_at(_tk, j).b) % {M}),
                 acc -> acc.a * {M + 1} + acc.b))
      ELSE CAST(array() AS ARRAY<BIGINT>) END
    """
    return (
        df.withColumn("_tk", F.expr(tk))
        .withColumn(out_col, F.expr(grams))
        .drop("_tk")
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = DECON_NGRAM,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_prefilter: bool = False,
    bloom_m: int = 1 << 18,
    bloom_k: int = 3,
) -> DataFrame:
    """Flag training docs sharing any token n-gram with a benchmark set
    (eval-set decontamination — the step that keeps test questions out
    of the training corpus).

    Shape: the benchmark is small by nature (an eval set), so its
    distinct n-grams BROADCAST; the training side explodes its own
    distinct n-grams once, hash-joins against the broadcast, and
    re-aggregates per doc — one map-side-combinable groupBy on doc_id,
    no shuffle of full text, no all-pairs comparison. At 100 TB the
    broadcast side can be swapped for a bloom filter of gram hashes
    with identical plumbing (the join becomes might-contain + exact
    verify on the survivors).
    """
    # Two deliberate asymmetries: (1) grams exist only as 62-bit
    # rolling hashes (_with_gram_hashes) — no gram string is ever
    # materialized or shuffled; (2) the training side is NOT
    # pre-deduplicated: the broadcast join is shuffle-free and filters
    # 99%+ of gram rows in the scan stage, so the only shuffle is
    # countDistinct over the tiny hit set — pre-distincting all
    # training grams would hash-aggregate the full gram stream for
    # nothing.
    # explode_OUTER, not explode: InferFiltersFromGenerate turns a
    # plain explode into a pushed-down `size(grams) > 0` Filter whose
    # predicate textually inlines the ENTIRE gram pipeline below the
    # token-hash projection — recomputing the token transform per gram
    # element (measured 30x slower). The outer variant is exempt from
    # that rule; the null rows it adds are dropped by a cheap post-
    # Generate IS NOT NULL filter instead.
    bench_grams = (
        _with_gram_hashes(benchmark, n, text_col, "grams")
        .select(F.explode_outer("grams").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    doc_grams = (
        _with_gram_hashes(train, n, text_col, "grams")
        .select(F.col(id_col).alias("doc_id"), F.explode_outer("grams").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    if bloom_prefilter:
        # Existence pre-filter (VERDICT r7 #5): fold the benchmark
        # grams into an m-bit Bloom filter (k xxhash64 salts; bits
        # packed 60/int64 word so every mask stays positive), carry
        # the word table as ONE broadcast array value, and bit-test
        # each training gram row-locally BEFORE the exact join — the
        # sketch_bloom_membership shape made load-bearing. The test
        # is one-sided (no false negatives), so survivors still pass
        # the exact broadcast join and the OUTPUT IS UNCHANGED — the
        # oracle needs no bloom replay, which is why plain xxhash64
        # (JVM-native, cheapest) is fine here where the oracle-gated
        # sketch query needs the portable prime family. Control-plane
        # budget: the collect is <= m/60 (word_idx, w) rows — 4,370
        # int64 pairs at the default m = 2^18 (~35 KB), independent
        # of either side's row count. At 100 TB this is the shape
        # that lets the eval set grow past comfortable hashed-
        # relation size while the scan-side filter stays a few
        # hundred KB of broadcast bitmap.
        words_per = 60
        n_words = bloom_m // words_per + 1

        def _pos(j: int, c: F.Column) -> F.Column:
            return F.pmod(F.xxhash64(c, F.lit(j)), F.lit(bloom_m))

        bits = bench_grams.select(
            F.explode(
                F.array(*[_pos(j, F.col("g")) for j in range(bloom_k)])
            ).alias("pos")
        ).selectExpr(
            f"pos div {words_per} AS word_idx",
            f"shiftleft(CAST(1 AS BIGINT),"
            f" CAST(pos % {words_per} AS INT)) AS mask",
        )
        arr = [0] * n_words
        for r in bits.groupBy("word_idx").agg(
            F.expr("bit_or(mask)").alias("w")
        ).collect():
            arr[int(r["word_idx"])] = int(r["w"])
        spark = train.sparkSession
        bloom = spark.createDataFrame([(arr,)], "bloom array<bigint>")
        probe = None
        for j in range(bloom_k):
            p_sql = f"pmod(xxhash64(g, {j}), {bloom_m})"
            t = F.expr(
                f"(shiftright(element_at(bloom,"
                f" CAST({p_sql} div {words_per} AS INT) + 1),"
                f" CAST({p_sql} % {words_per} AS INT)) & 1) = 1"
            )
            probe = t if probe is None else (probe & t)
        doc_grams = (
            doc_grams.crossJoin(F.broadcast(bloom))
            .filter(probe)
            .drop("bloom")
        )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").cast("long").alias("n_shared_grams"))
    )
    return (
        train.select(
            F.col(id_col).alias("doc_id"),
            F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
        )
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias(
                "n_shared_grams"
            ),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# -- sequence packing (concat-and-chunk) -----------------------------------

SEQ_LEN = 256  # tokens per training sequence
PACK_SHARDS = 4  # packing parallelism unit


def pack_sequences(
    docs: DataFrame,
    *,
    seq_len: int = SEQ_LEN,
    shards: int = PACK_SHARDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: concatenate documents in
    deterministic (shard, doc_id) order and split the token stream into
    fixed `seq_len` windows; emit one row per (shard, sequence) with
    how many docs and tokens landed in it.

    The cumulative-token window is PARTITIONED BY SHARD — packing is
    embarrassingly parallel across shards, which is how a real pipeline
    scales it (pack per output shard/file); a single global ordering
    would serialize the cumsum into one partition at 100 TB. Within a
    shard: one window cumsum (single shuffle on shard), a row-local
    explode of each doc's [first_seq..last_seq] span, and a map-side
    combinable re-aggregation.
    """
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % shards).cast("long").alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        d.withColumn("end_tok", F.sum("n_tokens").over(w))
        .withColumn("start_tok", F.col("end_tok") - F.col("n_tokens"))
        .withColumn(
            "first_seq", F.floor(F.col("start_tok") / seq_len).cast("long")
        )
        .withColumn(
            "last_seq", F.floor((F.col("end_tok") - 1) / seq_len).cast("long")
        )
    )
    spans = d.select(
        "shard",
        "doc_id",
        "start_tok",
        "end_tok",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * seq_len
    overlap = F.least(F.col("end_tok"), seq_start + seq_len) - F.greatest(
        F.col("start_tok"), seq_start
    )
    return (
        spans.withColumn("n_tok_in_seq", overlap)
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok_in_seq").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


# -- contiguous global IDs (order-preserving, no global window) ------------

ID_BUCKET_WIDTH = 1000  # order-key units per bucket


def assign_contiguous_ids(
    df: DataFrame,
    *,
    order_col: str = "doc_id",
    bucket_width: int = ID_BUCKET_WIDTH,
) -> DataFrame:
    """Assign dense 0..N-1 IDs in `order_col` order — scalably.

    The naive `row_number() OVER (ORDER BY key)` is the canonical
    scale trap: a global ordering collapses into ONE partition and one
    task sorts the world. This is the standard two-pass fix:

      1. bucket rows by `order_col div bucket_width` (deterministic,
         order-preserving — no sampled range boundaries to drift
         between passes) and count rows per bucket: one map-side-
         combinable aggregation, collecting only #buckets control rows;
      2. prefix-sum those counts driver-side into per-bucket offsets,
         broadcast them back, and window WITHIN each bucket:
         id = bucket_offset + (bucket-local row_number) - 1.

    Both shuffles key on the bucket, every partition sorts only its
    slice, and the driver holds #buckets integers — at 100 TB that is
    the difference between a 10-minute job and a task that never
    finishes.
    """
    spark = df.sparkSession
    bucket = (F.col(order_col) / bucket_width).cast("long")
    d = df.withColumn("_bkt", bucket)
    counts = sorted(
        (r["_bkt"], r["cnt"])
        for r in d.groupBy("_bkt").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for bkt, cnt in counts:
        offsets.append((bkt, acc))
        acc += cnt
    offs = spark.createDataFrame(offsets, "_bkt long, _off long")
    w = Window.partitionBy("_bkt").orderBy(order_col)
    return (
        d.join(F.broadcast(offs), "_bkt")
        .withColumn("new_id", F.col("_off") + F.row_number().over(w) - 1)
        .drop("_bkt", "_off")
    )


# -- per-domain cap (pretrain corpus balancing) ----------------------------

DOMAIN_CAP_K = 10  # max docs kept per domain


def domain_cap(
    docs: DataFrame,
    k: int = DOMAIN_CAP_K,
    *,
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """Keep at most `k` documents per domain, best-first — the
    per-domain cap every crawl pipeline applies so one giant site
    cannot dominate the corpus (reference analogue: the clean-zone
    transform has no balancing step; this is the T3.4 extension).

    Ranking is deterministic: longest document first, `doc_id` as the
    total-order tiebreak. The rank<=k filter compiles to Spark's
    WindowGroupLimit physical rewrite (pinned in tests/test_plans.py):
    each map task pre-truncates its partition to its local top-k
    BEFORE the shuffle, so the exchange carries O(k * partitions) rows
    per domain, not the domain's full row count — that rewrite is what
    makes the operator survive a 100 TB crawl with million-page hot
    domains.
    """
    w = Window.partitionBy(domain_col).orderBy(
        F.length("text").desc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("rank_in_domain", F.row_number().over(w))
        .filter(F.col("rank_in_domain") <= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(domain_col).alias("source"),
            F.length("text").cast("long").alias("n_chars"),
            F.col("rank_in_domain").cast("long").alias("rank_in_domain"),
        )
    )


# -- token-length buckets (batch-packing efficiency) -----------------------


def length_buckets(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Histogram documents into power-of-two token-length buckets and
    measure the padding a bucketed batcher would waste.

    bucket `bits` = bit-length of the token count (n in
    [2^(b-1), 2^b - 1] -> b), capacity = 2^bits - 1; `pad` =
    capacity - n_tokens is the per-doc padding if batches are padded
    to bucket capacity. The whole thing is one scan + one tiny
    aggregation keyed on ~7 distinct buckets — map-side combine
    reduces it to #buckets rows per task, so at 100 TB the shuffle
    moves kilobytes. Integer bit tricks only (no float log2) so the
    oracle is bit-exact.
    """
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    d = docs.select(F.col(id_col).alias("doc_id"), n_tok.alias("n_tokens"))
    d = d.withColumn("bits", F.length(F.bin("n_tokens")).cast("long"))
    cap = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bits AS INT)) - 1")
    d = d.withColumn("capacity", cap).withColumn(
        "pad", F.col("capacity") - F.col("n_tokens")
    )
    return d.groupBy("bits", "capacity").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum("pad").cast("long").alias("sum_pad"),
        F.expr(
            "CAST(sum(pad) * 1000000 AS BIGINT)"
            " div greatest(CAST(sum(n_tokens + pad) AS BIGINT), 1)"
        ).alias("pad_ratio_e6"),
    )


# -- staged quality filter funnel (C4/Gopher-style) ------------------------

FUNNEL_MIN_CHARS = 150
FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_TOKENS = 80
FUNNEL_MIN_ALPHA_E6 = 820_000
FUNNEL_MIN_STOP_E6 = 40_000


def quality_funnel(
    docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """Staged document-quality filter funnel with per-stage survivor
    counts — the C4/Gopher cleaning report (how many docs each rule
    removes), produced in ONE scan.

    Stages are cumulative:
      s1 length  >= FUNNEL_MIN_CHARS chars
      s2 tokens  in [FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS]
      s3 alpha   ratio >= FUNNEL_MIN_ALPHA_E6 ppm
      s4 stopword ratio >= FUNNEL_MIN_STOP_E6 ppm (gibberish filter)

    Every stage is a conditional SUM over the same scan — no joins, no
    per-stage passes; partial aggregation collapses each task to one
    row, so the funnel costs exactly one read of the corpus at any
    scale. Contrast with running four filter jobs: 4x the I/O for the
    same report.
    """
    n_chars = F.length(text_col).cast("long")
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-z]", "")).cast("long")
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(
        f"CAST(size(filter(split({text_col}, ' '),"
        f" x -> array_contains(array({stop_arr}), x))) AS BIGINT)"
    )
    d = docs.select(
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
    ).select(
        "n_chars",
        "n_tokens",
        (F.col("n_chars") >= FUNNEL_MIN_CHARS).alias("p1"),
        F.col("n_tokens").between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS).alias("p2"),
        (
            F.expr("n_alpha * 1000000 div greatest(n_chars, 1)")
            >= FUNNEL_MIN_ALPHA_E6
        ).alias("p3"),
        (
            F.expr("n_stop * 1000000 div greatest(n_tokens, 1)")
            >= FUNNEL_MIN_STOP_E6
        ).alias("p4"),
    )
    stage = lambda c: F.sum(c.cast("long")).cast("long")  # noqa: E731
    s1 = F.col("p1")
    s2 = s1 & F.col("p2")
    s3 = s2 & F.col("p3")
    s4 = s3 & F.col("p4")
    return d.agg(
        F.count("*").cast("long").alias("n_total"),
        stage(s1).alias("after_min_len"),
        stage(s2).alias("after_token_range"),
        stage(s3).alias("after_alpha_ratio"),
        stage(s4).alias("after_stopword_ratio"),
    )


# -- character-bigram LM quality score (CCNet-style) -----------------------

#: Model-size ceiling for the constant-literal scoring path; above it
#: (full-unicode corpora) scoring falls back to the broadcast join.
_MODEL_LITERAL_MAX = 50_000


def bigram_logprob(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Score each document by the average log-probability of its char
    bigrams under the corpus's own bigram distribution — the CCNet-
    style language-model quality filter (gibberish and boilerplate
    score far from the corpus mode; no external model needed).

    Determinism doctrine: each bigram's ln(count/total) rounds to an
    e6 integer ONCE (per distinct bigram — a continuous value, safe to
    round), and per-doc scores are exact INTEGER sums of those — never
    a float sum, whose partial-aggregation order is nondeterministic.

    Shape: two passes. Pass 1 builds the model — one explode +
    count-agg on a key space bounded by charset² (kilobytes for ASCII
    corpora). Pass 2 scores each doc ROW-LOCALLY: the model is pulled
    to the driver (a charset²-bounded control-plane collect, same
    budget class as the TF-IDF vocab broadcast) and folded into a
    constant map literal; per-doc score is then a single `aggregate()`
    HOF over the doc's bigram array — no second explode, no scoring
    join, no per-doc shuffle; ~2x faster when A/B'd at sf0.1 against
    the explode+join+re-agg plan it replaces. For corpora whose
    charset² outgrows a literal (full CJK unicode), the join path
    remains behind `_MODEL_LITERAL_MAX`: scoring falls back to
    explode + broadcast-model join + map-side-combined sum — the same
    numbers, one extra shuffle. At 100 TB pass 1 is a map-side
    combined agg on a tiny key space either way.
    """
    grams = F.expr(
        f"CASE WHEN length({text_col}) >= 2 THEN "
        f"transform(sequence(1, length({text_col}) - 1),"
        f" i -> substring({text_col}, i, 2))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    pairs = docs.select(
        F.col(id_col).alias("doc_id"), F.explode_outer(grams).alias("bg")
    )
    counts = (
        pairs.filter(F.col("bg").isNotNull())
        .groupBy("bg")
        .agg(F.count("*").cast("long").alias("c"))
    )
    total = counts.agg(F.sum("c").cast("long").alias("n_total"))
    model = counts.crossJoin(F.broadcast(total)).select(
        "bg",
        F.expr("CAST(round(ln(CAST(c AS DOUBLE) / n_total) * 1000000) AS BIGINT)")
        .alias("logp_e6"),
    )

    rows = model.limit(_MODEL_LITERAL_MAX + 1).collect()
    if len(rows) <= _MODEL_LITERAL_MAX:
        # Row-local scoring against the constant-folded model literal.
        # logp_e6 was rounded IN SPARK before collect — the driver
        # round-trip cannot change a single bit of the model.
        mp = F.create_map(
            *[x for r in rows for x in (F.lit(r["bg"]), F.lit(r["logp_e6"]))]
        )
        scored = docs.select(
            F.col(id_col).alias("doc_id"),
            grams.alias("_grams"),
        ).select(
            "doc_id",
            F.size("_grams").cast("long").alias("n_bigrams"),
            F.aggregate(
                "_grams",
                F.lit(0).cast("long"),
                lambda acc, g: acc + F.coalesce(F.element_at(mp, g), F.lit(0)),
            )
            .cast("long")
            .alias("sum_logp_e6"),
        )
    else:
        # Charset too large for a literal: broadcast-join scoring.
        scored = (
            pairs.join(F.broadcast(model), "bg", "left")
            .groupBy("doc_id")
            .agg(
                F.count("logp_e6").cast("long").alias("n_bigrams"),
                F.coalesce(F.sum("logp_e6"), F.lit(0))
                .cast("long")
                .alias("sum_logp_e6"),
            )
        )
    return scored.withColumn(
        "avg_logp_e6",
        F.expr("sum_logp_e6 div greatest(n_bigrams, 1)").cast("long"),
    )


# -- cross-document duplicated-span mining ---------------------------------

SPAN_NGRAM = 8  # token span width
SPAN_MIN_DOCS = 3  # report spans appearing in >= this many docs


def duplicated_spans(
    docs: DataFrame,
    *,
    n: int = SPAN_NGRAM,
    min_docs: int = SPAN_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mine token n-gram spans duplicated ACROSS documents — the
    boilerplate/template detector (headers, footers, license blurbs)
    that complements within-doc repetition (repetition_signals) and
    eval-overlap (decontaminate).

    The span TEXT is the product (a human reviews the top boilerplate),
    but building and shuffling a string for EVERY (doc, span) is the
    naive plan — at 100 TB that shuffle carries the whole corpus again.
    Two-phase instead:

    1. HASH PREFILTER — 62-bit rolling gram hashes (ints, no string
       materialization; _with_gram_hashes), per-doc distinct, one
       count shuffle of ints; hashes in >= min_docs docs are the hot
       set (tiny: true boilerplate is rare). A collision can only ADD
       a candidate, never hide one (a hash's doc-frequency >= its
       span's), so the prefilter is a lossless superset.
    2. REBUILD + EXACT COUNT — positions surviving the broadcast hot
       join rebuild their actual span strings row-locally (only ~hot
       positions, not the corpus), then an exact string groupBy +
       HAVING gives collision-proof final counts.

    Returns (span, n_docs, min_doc, max_doc) for spans in >= min_docs
    documents — byte-identical to the naive plan's output.
    """
    # Persisted: the hash pipeline feeds both the df-count branch and
    # the survivor join (unpersisted diamonds recompute the rolling
    # hashes twice).
    hashed = (
        _with_gram_hashes(docs, n, text_col, "ghs")
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"), "ghs")
        .persist()
    )
    pos = hashed.select(
        "doc_id", "_text", F.posexplode_outer("ghs").alias("i", "h")
    ).filter(F.col("h").isNotNull())
    hot = (
        pos.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("h")
    )
    surv = pos.join(F.broadcast(hot), "h")
    spans = surv.select(
        "doc_id",
        F.expr(f"array_join(slice(split(_text, ' '), i + 1, {n}), ' ')").alias(
            "span"
        ),
    ).distinct()
    return (
        spans.groupBy("span")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


# -- corpus mixture weights (target language distribution) -----------------

#: Target corpus mixture in parts-per-million; a lang absent from the
#: table gets weight 0 (dropped). Deliberately != the observed
#: distribution so every row exercises a non-trivial weight.
MIXTURE_TARGETS_PPM: tuple[tuple[str, int], ...] = (
    ("en", 500_000),
    ("de", 150_000),
    ("fr", 150_000),
    ("es", 120_000),
    ("zh", 80_000),
)

MIXTURE_MAX_WEIGHT_E6 = 3_000_000  # cap upsampling at 3x


def mixture_weights(
    docs: DataFrame,
    targets: tuple[tuple[str, int], ...] = MIXTURE_TARGETS_PPM,
    *,
    stratum_col: str = "lang",
) -> DataFrame:
    """Per-stratum sampling weights that reshape the observed corpus
    mix toward a target distribution — the step that PRODUCES the
    rates stratified_sample consumes (weight > 1e6 = upsample,
    < 1e6 = downsample, capped at MIXTURE_MAX_WEIGHT_E6).

    weight_e6 = min(target_ppm * 1e6 // actual_ppm, cap), all integer
    floor arithmetic so both engines agree bit-for-bit.

    Shape: ONE map-side-combined count per stratum (the only pass over
    the corpus), then the total and weights are computed on the
    #strata-row aggregate — the single-partition window there is
    deliberate and scale-safe because stratum cardinality is a
    dimension, not data volume. Targets join in as a broadcast left
    join; unknown strata weight 0 (dropped from the corpus).
    """
    spark = docs.sparkSession
    tgt = spark.createDataFrame(list(targets), "stratum STRING, target_ppm BIGINT")
    counts = (
        docs.groupBy(F.col(stratum_col).alias("stratum"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    w_all = Window.partitionBy(F.lit(1))
    return (
        counts.withColumn("n_total", F.sum("n_docs").over(w_all).cast("long"))
        .join(F.broadcast(tgt), "stratum", "left")
        .select(
            "stratum",
            "n_docs",
            "n_total",
            F.expr("n_docs * 1000000 div n_total").alias("actual_ppm"),
            F.coalesce("target_ppm", F.lit(0)).cast("long").alias("target_ppm"),
            F.least(
                F.expr(
                    "coalesce(target_ppm, 0) * 1000000"
                    " div greatest(n_docs * 1000000 div n_total, 1)"
                ),
                F.lit(MIXTURE_MAX_WEIGHT_E6),
            )
            .cast("long")
            .alias("weight_e6"),
        )
        .withColumn(
            "expected_docs", F.expr("n_docs * weight_e6 div 1000000").cast("long")
        )
    )


# -- content-defined chunking (Rabin-style rolling-hash boundaries) --------

CDC_W = 8        # boundary hash window (chars)
CDC_DIVISOR = 64  # boundary when window-hash % divisor == 0 (~64-char mean)


def cdc_chunks(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking: split each document at positions where
    the rolling hash of the trailing CDC_W chars is ≡ 0 mod
    CDC_DIVISOR — the Rabin/LBFS chunking family (FastCDC is the
    gear-hash refinement of the same idea). Unlike fixed-size chunking
    (chunk_documents), boundaries are a function of CONTENT, so an
    insertion early in a document shifts at most one chunk — the
    property that makes chunk-level dedup (content-addressable
    storage, delta sync, near-dup span sharing) survive edits.

    Boundary rule, exactly: for i in 1..L-W+1, cut AFTER char
    p = i+W-1 iff polyhash(chars i..i+W-1) % DIVISOR == 0 and p < L;
    chunk bounds are [0, cuts…, L]. Pure content rule (no min/max
    clamp), so every boundary decision is independent — the whole
    operator stays a row-local flat-map: zero shuffles, O(L·W) array
    ops with W a constant 8. Two codegen lessons are baked in
    (measured at sf0.1): char codes are materialized ONCE per doc via
    split(text, '') — the per-position substring(text, j, 1) form
    re-seeks the string from byte 0 every call, O(L²) per doc, 30.8 s
    for the catalog query — and the window hash is a COMPACT
    aggregate-over-slice fold of that code array, because an unrolled
    8-term polynomial looked faster but exploded the plan: Catalyst's
    project collapse inlines the bounds expression into every
    consumer, and the duplicated jumbo tree took the optimizer ~8.6
    MINUTES of driver time on the first (cold) run. Small expression
    trees are a scale dimension too. Empty docs emit no chunks.
    """
    chunks = f"""
      flatten(transform(
        array(transform(split({text_col}, ''), c -> CAST(ascii(c) AS BIGINT))),
        cs -> flatten(transform(
          array(concat(
            array(CAST(0 AS BIGINT)),
            CASE WHEN length({text_col}) >= {CDC_W} THEN
              filter(
                transform(sequence(1, length({text_col}) - {CDC_W - 1}, 1),
                  i -> IF(
                    aggregate(slice(cs, i, {CDC_W}), CAST(0 AS BIGINT),
                              (acc, c) -> (acc * 31 + c) % {ROLLING_MOD})
                      % {CDC_DIVISOR} = 0
                    AND i + {CDC_W - 1} < length({text_col}),
                    CAST(i + {CDC_W - 1} AS BIGINT),
                    CAST(-1 AS BIGINT))),
                p -> p > 0)
            ELSE array() END,
            -- length(text), NOT size(cs): split('', '') is [''] (size
            -- 1), so size(cs) would hand empty docs a phantom 1-char
            -- bound; length('') = 0 keeps them chunk-free
            array(CAST(length({text_col}) AS BIGINT)))),
          bs -> transform(sequence(1, size(bs) - 1, 1),
            k -> struct(
              CAST(k - 1 AS BIGINT) AS chunk_idx,
              element_at(bs, CAST(k AS INT)) AS start_pos,
              element_at(bs, CAST(k AS INT) + 1)
                - element_at(bs, CAST(k AS INT)) AS chunk_len))))))
    """
    return (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("_text"),
            F.explode(F.expr(chunks)).alias("_c"),
        )
        .select(
            "doc_id",
            F.col("_c.chunk_idx").alias("chunk_idx"),
            F.col("_c.start_pos").alias("start_pos"),
            F.col("_c.chunk_len").cast("long").alias("chunk_len"),
            F.expr(
                "md5(substring(_text, CAST(_c.start_pos AS INT) + 1,"
                " CAST(_c.chunk_len AS INT)))"
            ).alias("chunk_md5"),
        )
        .filter(F.col("chunk_len") > 0)
    )


CDC_CHUNK_SCHEMA = (
    "doc_id long, chunk_idx long, start_pos long, chunk_len long,"
    " chunk_md5 string"
)


def cdc_chunks_arrow(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vectorized twin of :func:`cdc_chunks` — identical boundary rule
    and output, computed in numpy + hashlib inside ``mapInArrow``
    (guide §4.2: batch-local native code beats interpreted expression
    eval for O(L·W) per-row folds).

    Why the twin exists (measured, r13): the HOF form's
    aggregate-over-slice fold runs on Spark's INTERPRETED expression
    path, and at catalog scale it does double damage — (a) it is the
    slowest per-row fold in the suite, and (b) compiling its jumbo
    lambda tree into the shared higher-order-function eval sites
    mid-session deoptimizes the JIT state that every md5-HOF dedup
    query relies on (the record-28 minhash-family 2.5-3× in-bench step
    was bisected to exactly this query's warmup: catalog prefixes
    0..182 time the family at its floors, adding corpus_cdc_chunks
    elevates all six — OPTIMIZATION_r13.md item 1). The arrow twin
    keeps the distributed shape (row-local flat map, zero shuffles,
    only (doc_id, text) crosses the Python boundary) and reproduces
    the exact semantics: codepoints via ord() (== ascii() both
    engines), the same 31-base poly fold mod 2^31-1, md5 over the
    chunk's UTF-8 bytes.
    """
    import hashlib
    from collections.abc import Iterator

    import pyarrow as pa

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        w = CDC_W
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            o_id: list[int] = []
            o_idx: list[int] = []
            o_start: list[int] = []
            o_len: list[int] = []
            o_md5: list[str] = []
            for doc_id, text in zip(ids, texts):
                if text is None:
                    continue
                ln = len(text)
                if ln >= w:
                    # codepoint array == ascii(c) per char, both engines
                    cs = np.frombuffer(
                        text.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    n_win = ln - w + 1
                    h = np.zeros(n_win, dtype=np.int64)
                    for j in range(w):
                        h = (h * 31 + cs[j : j + n_win]) % ROLLING_MOD
                    # cut AFTER char p = i+W-1 (1-based) iff hash%D==0
                    # and p < L — identical rule to the HOF form
                    cut_idx = np.nonzero(h % CDC_DIVISOR == 0)[0] + w
                    cuts = cut_idx[cut_idx < ln].tolist()
                else:
                    cuts = []
                bounds = [0] + cuts + [ln]
                ci = 0
                for k in range(len(bounds) - 1):
                    s, e = bounds[k], bounds[k + 1]
                    if e <= s:
                        continue
                    o_id.append(doc_id)
                    o_idx.append(ci)
                    o_start.append(s)
                    o_len.append(e - s)
                    o_md5.append(
                        hashlib.md5(text[s:e].encode("utf-8")).hexdigest()
                    )
                    ci += 1
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, pa.int64()),
                    pa.array(o_idx, pa.int64()),
                    pa.array(o_start, pa.int64()),
                    pa.array(o_len, pa.int64()),
                    pa.array(o_md5, pa.string()),
                ],
                ["doc_id", "chunk_idx", "start_pos", "chunk_len",
                 "chunk_md5"],
            )

    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)
    ).mapInArrow(run, CDC_CHUNK_SCHEMA)
