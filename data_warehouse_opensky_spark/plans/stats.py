"""Statistical profiling / data-science mart shapes (SURVEY §2 T2 —
the "Create aggregate script" stage the reference's diagram delegates
to Postgres SQL, extended with the profiling aggregates a training-data
pipeline runs before a big ingest: histograms, correlation, anomaly
gates, interpolated gap-fill, split assignment, rolling medians).

Cross-engine determinism follows the catalog doctrine (plans/catalog.py
module docstring). The novel trick used throughout this module: every
"statistical" quantity (mean, variance, z-score, Pearson r, linear
interpolation) is computed from EXACT integer/decimal sufficient
statistics (sum, sum-of-squares, cross-sum in fixed-point units held in
DECIMAL(38,0)), and converted to double only for the final
scale-free division — so partial-aggregation order can never change
the hash. Double conversion, multiply, sqrt and divide are all
correctly-rounded IEEE ops, identical on every engine.

Scale notes (100 TB): every query here is a single scan + one hash
aggregation on a low-cardinality key (or a window partitioned by a
high-cardinality key) — no joins against the fact except broadcast
spines. Sufficient-statistic aggregation is exactly the shape that
map-side combines: partials are (n, Σx, Σx², Σxy) per group, merged
associatively.

Reference parity: the reference's diagram stage 5 ("Create aggregate
script") names aggregate creation in SQL over the warehouse DB
(SURVEY §0); these are the aggregate families such a script produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cents
from ..sources import load_table
from .catalog import query

#: Equi-width histogram config for o_totalprice, in exact cents.
#: lo/width chosen so every bucket boundary is an integer number of
#: cents — bucket assignment is pure integer arithmetic on both engines.
HIST_LO_C = 0
HIST_W_C = 5_000_000  # 50,000.00 per bucket
HIST_N = 10


# --------------------------------------------------------------------------
# Equi-width histogram: integer bucket arithmetic, one scan, one agg
# --------------------------------------------------------------------------
@query(
    "stats_histogram_price",
    tier="T2",
    doc="Equi-width histogram of order totals: bucket id via exact "
    "integer cents arithmetic (floor-div by a cent-aligned width, "
    "clamped), then count + exact-cents sum per bucket. One scan, one "
    "map-side-combined agg on ≤10 keys — the canonical profiling "
    "shape; at 100 TB the partials are 10 longs per task.",
    oracle=f"""
    SELECT
      CAST(least(greatest(CAST(round(o_totalprice * 100) AS BIGINT)
                          // {HIST_W_C}, 0), {HIST_N - 1}) AS BIGINT)
        AS bucket,
      count(*) AS n_orders,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
        AS bucket_spend
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def stats_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("price_c")
    )
    bucket = F.least(
        F.greatest(
            F.expr(f"price_c div {HIST_W_C}"), F.lit(0).cast("long")
        ),
        F.lit(HIST_N - 1).cast("long"),
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum("price_c") / 100.0).alias("bucket_spend"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Pearson correlation from exact sufficient statistics
# --------------------------------------------------------------------------
@query(
    "stats_corr_qty_price",
    tier="T2",
    doc="Per-returnflag Pearson r between quantity and extended price, "
    "computed from EXACT integer sufficient statistics (n, Σx, Σy, "
    "Σx², Σy², Σxy in DECIMAL(38,0) fixed-point) so partial-agg "
    "order cannot move the hash; the only floating ops are the final "
    "correctly-rounded IEEE multiply/sqrt/divide. Map-side combinable "
    "— at 100 TB each task emits 6 numbers per group.",
    oracle="""
    WITH u AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(y * y) AS HUGEINT) AS syy,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM u GROUP BY 1
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_qp
    FROM s ORDER BY l_returnflag
    """,
)
def stats_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x"),
        cents("l_extendedprice").alias("y"),
    )
    d = "decimal(38,0)"
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast(d).alias("n"),
        F.sum("x").cast(d).alias("sx"),
        F.sum("y").cast(d).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast(d).alias("sxx"),
        F.sum(F.col("y").cast(d) * F.col("y").cast(d)).cast(d).alias("syy"),
        # x*y summed in decimal like syy: ~5e8/row is int64-safe to
        # ~1e10 rows, but the term-level cast removes the cliff for
        # free (Welch-overflow doctrine — cast the TERM, not the sum).
        F.sum(F.col("x").cast(d) * F.col("y").cast(d)).cast(d).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / den, 6).alias("corr_qp"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Z-score anomaly gate on exact integer statistics
# --------------------------------------------------------------------------
@query(
    "stats_anomaly_zscore",
    tier="T2",
    doc="Per-event-type anomaly gate |x-mean| > 3σ WITHOUT any floating "
    "aggregation: the inequality (n·x-Σ)² > 9·n·(n·Σx²-Σ²) is "
    "evaluated in exact DECIMAL(38,0) integer units, so the flagged "
    "count is bit-stable under any partial-agg order. Two passes over "
    "the fact (stats agg + broadcast-joined flag scan) — at 100 TB the "
    "5-row stats side broadcasts; no shuffle of the fact.",
    oracle="""
    WITH u AS (
      SELECT event_type, CAST(round(value * 10000) AS BIGINT) AS xu
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(xu) AS HUGEINT) AS sx,
             CAST(sum(xu * xu) AS HUGEINT) AS sxx
      FROM u GROUP BY 1
    )
    SELECT u.event_type,
           CAST(s.n AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN
                  (s.n * u.xu - s.sx) * (s.n * u.xu - s.sx)
                  > 9 * s.n * (s.n * s.sxx - s.sx * s.sx)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM u JOIN s USING (event_type)
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def stats_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = "decimal(38,0)"
    u = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 10000).cast("long").alias("xu")
    )
    s = u.groupBy("event_type").agg(
        F.count("*").cast(d).alias("n"),
        F.sum("xu").cast(d).alias("sx"),
        F.sum(F.col("xu").cast(d) * F.col("xu").cast(d)).cast(d).alias("sxx"),
    )
    j = u.join(F.broadcast(s), "event_type")
    dev = (F.col("n") * F.col("xu") - F.col("sx")).cast(d)
    thresh = F.lit(9).cast(d) * F.col("n") * (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        j.groupBy("event_type", F.col("n").cast("long").alias("n_rows"))
        .agg(
            F.sum(F.when((dev * dev) > thresh, 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies")
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Gap-fill with exact linear interpolation over the date spine
# --------------------------------------------------------------------------
@query(
    "stats_gapfill_interpolate",
    tier="T2",
    doc="Gap-free daily spend series where missing days are LINEARLY "
    "INTERPOLATED between the neighboring present days — in exact "
    "integer arithmetic: interp_c = div(prev_c·(next_d-d) + "
    "next_c·(d-prev_d), next_d-prev_d) with integer day distances, so "
    "both engines truncate identically (all values non-negative). "
    "Edges (before first / after last observation) carry the nearest "
    "value. Spine is sequence()+explode (broadcast-size); the two "
    "fill windows are unpartitioned but run over the ~day-count rows "
    "of the AGGREGATED series, not the fact — at 100 TB that is a few "
    "thousand rows on one task, after a map-side-combined daily agg.",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(o_orderdate AS DATE)) AS d0,
             max(CAST(o_orderdate AS DATE)) AS d1 FROM orders
    ),
    spine AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend_c
      FROM orders GROUP BY 1
    ),
    g AS (
      SELECT s.day, d.spend_c,
             CAST(s.day - DATE '1970-01-01' AS BIGINT) AS dnum
      FROM spine s LEFT JOIN daily d USING (day)
    ),
    f AS (
      SELECT day, dnum, spend_c,
        last_value(spend_c IGNORE NULLS)
          OVER (ORDER BY dnum ROWS UNBOUNDED PRECEDING) AS prev_c,
        last_value(CASE WHEN spend_c IS NOT NULL THEN dnum END IGNORE NULLS)
          OVER (ORDER BY dnum ROWS UNBOUNDED PRECEDING) AS prev_d,
        first_value(spend_c IGNORE NULLS)
          OVER (ORDER BY dnum ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING) AS next_c,
        first_value(CASE WHEN spend_c IS NOT NULL THEN dnum END IGNORE NULLS)
          OVER (ORDER BY dnum ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING) AS next_d
      FROM g
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           (spend_c IS NULL) AS interpolated,
           CAST(CASE
             WHEN spend_c IS NOT NULL THEN spend_c
             WHEN prev_c IS NULL THEN next_c
             WHEN next_c IS NULL THEN prev_c
             ELSE (prev_c * (next_d - dnum) + next_c * (dnum - prev_d))
                  // (next_d - prev_d)
           END AS BIGINT) / 100.0 AS spend_filled
    FROM f ORDER BY day
    """,
)
def stats_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        cents("o_totalprice").alias("price_c"),
    )
    bounds = o.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    daily = o.groupBy("day").agg(F.sum("price_c").alias("spend_c"))
    g = spine.join(daily, "day", "left").select(
        "day", "spend_c", F.datediff("day", F.lit("1970-01-01")).cast("long").alias("dnum")
    )
    wb = Window.orderBy("dnum").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy("dnum").rowsBetween(0, Window.unboundedFollowing)
    marked = F.when(F.col("spend_c").isNotNull(), F.col("dnum"))
    f = g.select(
        "day",
        "dnum",
        "spend_c",
        F.last("spend_c", ignorenulls=True).over(wb).alias("prev_c"),
        F.last(marked, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("spend_c", ignorenulls=True).over(wf).alias("next_c"),
        F.first(marked, ignorenulls=True).over(wf).alias("next_d"),
    )
    interp = F.expr(
        "(prev_c * (next_d - dnum) + next_c * (dnum - prev_d)) div (next_d - prev_d)"
    )
    filled = (
        F.when(F.col("spend_c").isNotNull(), F.col("spend_c"))
        .when(F.col("prev_c").isNull(), F.col("next_c"))
        .when(F.col("next_c").isNull(), F.col("prev_c"))
        .otherwise(interp)
    )
    return f.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("spend_c").isNull().alias("interpolated"),
        (filled.cast("long") / 100.0).alias("spend_filled"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Deterministic train/val/test split assignment
# --------------------------------------------------------------------------
@query(
    "corpus_split_assign",
    tier="T3",
    doc="Deterministic 80/10/10 train/val/test split for the document "
    "corpus: md5(doc_id) bucket → split label, reproducible across "
    "engines, runs, and cluster sizes (no RNG, no global sort). The "
    "shape every training pipeline needs before sharding; at 100 TB "
    "it is scan-local (zero shuffles before the 3-key agg).",
    oracle="""
    WITH b AS (
      SELECT n_chars,
             CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 10 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        d.groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# Exact rolling median via sorted-array HOF (no median window in Spark)
# --------------------------------------------------------------------------
@query(
    "stats_rolling_median",
    tier="T2",
    doc="7-row rolling median of event value per user — Spark lacks "
    "median as a window function, so the frame is materialized with "
    "collect_list over ROWS BETWEEN 6 PRECEDING AND CURRENT ROW, "
    "array_sort'ed, and the middle element(s) read row-locally (HOF, "
    "no UDF). Values are exact 1e-4 integer units; the even-count "
    "midpoint average of two ints is an exact half, bit-identical to "
    "DuckDB's window median. Partitioned by user_id — shuffles once "
    "on the natural key, frames are row-local afterward.",
    oracle="""
    SELECT event_id,
           median(CAST(round(value * 10000) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 10000.0
             AS rolling_med
    FROM events
    ORDER BY event_id
    """,
)
def stats_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 10000).cast("long").alias("xu"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("xu").over(w))
    n = F.size(arr)
    mid = (
        F.when(
            n % 2 == 1, F.element_at(arr, (n / 2 + 1).cast("int")).cast("double")
        ).otherwise(
            (
                F.element_at(arr, (n / 2).cast("int"))
                + F.element_at(arr, (n / 2 + 1).cast("int"))
            )
            / 2.0
        )
    )
    return e.select(
        "event_id", (mid / 10000.0).alias("rolling_med")
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# One-pass table profile (the ANALYZE/summarize shape)
# --------------------------------------------------------------------------
@query(
    "stats_profile_orders",
    tier="T2",
    doc="One-pass column profile of orders — row count, per-column "
    "null counts, exact distinct cardinalities, min/max (dates as "
    "epoch-day ints, money as exact cents) — the ANALYZE TABLE / "
    "data-quality summary every ingest runs. ONE scan, one agg row; "
    "count(DISTINCT) pairs expand via Spark's standard expand-node "
    "rewrite, still map-side combined per column.",
    oracle="""
    SELECT
      count(*) AS n_rows,
      CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS null_custkey,
      CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS null_totalprice,
      count(DISTINCT o_custkey) AS nd_custkey,
      count(DISTINCT o_orderstatus) AS nd_status,
      count(DISTINCT o_orderpriority) AS nd_priority,
      CAST(min(round(o_totalprice * 100)) AS BIGINT) AS min_price_c,
      CAST(max(round(o_totalprice * 100)) AS BIGINT) AS max_price_c,
      CAST(min(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT)
        AS min_day,
      CAST(max(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT)
        AS max_day
    FROM orders
    """,
)
def stats_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    nulls = lambda c: F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long")  # noqa: E731
    return o.agg(
        F.count("*").alias("n_rows"),
        nulls("o_custkey").alias("null_custkey"),
        nulls("o_totalprice").alias("null_totalprice"),
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.countDistinct("o_orderpriority").alias("nd_priority"),
        F.min(cents("o_totalprice")).alias("min_price_c"),
        F.max(cents("o_totalprice")).alias("max_price_c"),
        F.min(F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")))
        .cast("long")
        .alias("min_day"),
        F.max(F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")))
        .cast("long")
        .alias("max_day"),
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift gate in exact integer arithmetic
# --------------------------------------------------------------------------
@query(
    "stats_ks_drift",
    tier="T2",
    doc="Distribution-drift gate: the two-sample Kolmogorov–Smirnov "
    "statistic between even- and odd-orderkey price populations "
    "(stand-ins for last-week/this-week feeds). D = max|F1−F2| over "
    "the pooled sample is computed EXACTLY: prices on the integer "
    "cent grid, per-value counts for each side, cumulative sums by "
    "one window over the ~|distinct values| aggregated rows, and the "
    "max of |c1·n2 − c2·n1| (integer cross-multiplication — no "
    "float CDFs) divided once at the end. One map-side-combined agg "
    "on price + one window over the DISTINCT-value series (thousands "
    "of rows at any fact scale, single task) — the fact table is "
    "scanned once. The drift monitor every feature pipeline runs "
    "between ingest generations.",
    oracle="""
    WITH u AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             o_orderkey % 2 AS side
      FROM orders
    ),
    g AS (
      SELECT v,
             CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM u GROUP BY v
    ),
    n AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM g
    ),
    c AS (
      SELECT CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS f1,
             CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS f2
      FROM g
    )
    SELECT n.n1, n.n2,
           CAST(max(abs(f1 * n.n2 - f2 * n.n1)) AS BIGINT) AS d_cross,
           round(CAST(max(abs(f1 * n.n2 - f2 * n.n1)) AS DOUBLE)
                 / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)), 6) AS ks_d
    FROM c, n
    GROUP BY n.n1, n.n2
    """,
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("v"),
        (F.col("o_orderkey") % 2).alias("side"),
    )
    g = o.groupBy("v").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.sum("c1").over(w).cast("long").alias("f1"),
        F.sum("c2").over(w).cast("long").alias("f2"),
    )
    n = g.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    cross = F.max(
        F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    ).cast("long")
    return (
        c.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(
            cross.alias("d_cross"),
            F.round(
                cross.cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                6,
            ).alias("ks_d"),
        )
    )


# --------------------------------------------------------------------------
# Chi-square independence audit on exact integer contingency counts
# --------------------------------------------------------------------------
@query(
    "stats_chi2_independence",
    tier="T2",
    doc="Categorical-association audit: the chi-square statistic for "
    "orderpriority × orderstatus independence, computed from the "
    "exact contingency table with integer cross-multiplication — "
    "each cell contributes (o·N − r·c)² / (N·r·c), numerator exact "
    "int128-free (≤ (6e6·1.5e6)² fits DECIMAL(38,0)), one float "
    "division per cell, round-6 guard. Shape: ONE scan into the "
    "contingency agg (|cells| = 5×3 rows), margins via two row-local "
    "window sums over the cells, all downstream work on the tiny "
    "aggregated table. The feature-independence / drift audit for "
    "categorical columns.",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS r_key, o_orderstatus AS c_key,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT r_key, c_key, o,
             CAST(sum(o) OVER (PARTITION BY r_key) AS BIGINT) AS r_tot,
             CAST(sum(o) OVER (PARTITION BY c_key) AS BIGINT) AS c_tot,
             CAST(sum(o) OVER () AS BIGINT) AS n_tot
      FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(n_tot) AS BIGINT) AS n_rows,
           round(sum(
             CAST((CAST(o AS DECIMAL(38,0)) * n_tot - CAST(r_tot AS DECIMAL(38,0)) * c_tot)
                  * (CAST(o AS DECIMAL(38,0)) * n_tot - CAST(r_tot AS DECIMAL(38,0)) * c_tot)
                  AS DOUBLE)
             / (CAST(n_tot AS DOUBLE) * r_tot * c_tot)
           ), 6) AS chi2
    FROM m
    """,
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("r_key"),
        F.col("o_orderstatus").alias("c_key"),
    ).agg(F.count("*").cast("long").alias("o"))
    d = "decimal(38,0)"
    m = cells.select(
        "o",
        F.sum("o").over(Window.partitionBy("r_key")).cast("long").alias("r_tot"),
        F.sum("o").over(Window.partitionBy("c_key")).cast("long").alias("c_tot"),
        F.sum("o").over(
            Window.partitionBy()
        ).cast("long").alias("n_tot"),
    )
    dev = (
        F.col("o").cast(d) * F.col("n_tot")
        - F.col("r_tot").cast(d) * F.col("c_tot")
    )
    return m.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.max("n_tot").cast("long").alias("n_rows"),
        F.round(
            F.sum(
                (dev * dev).cast("double")
                / (
                    F.col("n_tot").cast("double")
                    * F.col("r_tot")
                    * F.col("c_tot")
                )
            ),
            6,
        ).alias("chi2"),
    )


# --------------------------------------------------------------------------
# Lag-1 autocorrelation of the daily series from exact integer stats
# --------------------------------------------------------------------------
@query(
    "stats_autocorr_lag1",
    tier="T2",
    doc="Lag-1 autocorrelation of daily order counts — the seasonality/"
    "momentum diagnostic for ingest volumes. Exactness trick: with "
    "S = Σx and n the day count, r1's numerator and denominator are "
    "multiplied through by n² so every term (n·x_t − S)(n·x_{t−1} − S) "
    "is an exact DECIMAL(38,0) integer; one rounded float division at "
    "the end. The fact table aggregates to the ~|days| daily series "
    "first (map-side combined); the lag() window and the final fold "
    "run on that tiny series in one task.",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS sx
      FROM daily
    ),
    l AS (
      SELECT x, lag(x) OVER (ORDER BY day) AS xp FROM daily
    )
    SELECT CAST(s.n AS BIGINT) AS n_days,
           round(
             CAST(sum(CASE WHEN xp IS NULL THEN 0
                      ELSE (s.n * x - s.sx) * (s.n * xp - s.sx) END) AS DOUBLE)
             / CAST(sum((s.n * x - s.sx) * (s.n * x - s.sx)) AS DOUBLE),
           6) AS r1
    FROM l, s
    GROUP BY s.n
    """,
)
def stats_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = "decimal(38,0)"
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    s = daily.agg(
        F.count("*").cast(d).alias("n"), F.sum("x").cast(d).alias("sx")
    )
    lw = Window.orderBy("day")
    l = daily.select("x", F.lag("x").over(lw).alias("xp"))
    j = l.crossJoin(F.broadcast(s))
    dev = F.col("n") * F.col("x") - F.col("sx")
    devp = F.col("n") * F.col("xp") - F.col("sx")
    num = F.sum(
        F.when(F.col("xp").isNull(), F.lit(0).cast(d)).otherwise(
            (dev * devp).cast(d)
        )
    )
    den = F.sum((dev * dev).cast(d))
    return j.groupBy("n").agg(
        F.round(num.cast("double") / den.cast("double"), 6).alias("r1")
    ).select(F.col("n").cast("long").alias("n_days"), "r1")


# --------------------------------------------------------------------------
# Benford first-digit audit (fabrication / corruption screen)
# --------------------------------------------------------------------------
@query(
    "stats_benford_firstdigit",
    tier="T2",
    doc="Benford's-law screen on order totals: observed first-"
    "significant-digit distribution vs the log10(1+1/d) expectation, "
    "with per-digit deviation — the fabricated-data / unit-corruption "
    "audit. First digit via string head of the exact integer cents "
    "(pure integer/string ops, no float log on the data path); the "
    "only floats are the nine expected shares and round-6 ratios. "
    "One scan, 9-key map-side-combined agg.",
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
    SELECT digit,
           count(*) AS n_orders,
           round(CAST(count(*) AS DOUBLE) / n.total, 6) AS observed,
           round(log10(1.0 + 1.0 / digit), 6) AS benford,
           round(abs(CAST(count(*) AS DOUBLE) / n.total
                     - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
    FROM d, n
    GROUP BY digit, n.total
    ORDER BY digit
    """,
)
def stats_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(cents("o_totalprice").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    n = d.agg(F.count("*").cast("long").alias("total"))
    obs = F.count("*").cast("double") / F.col("total")
    benford = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
    return (
        d.crossJoin(F.broadcast(n))
        .groupBy("digit", "total")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(obs, 6).alias("observed"),
            benford.alias("benford"),
            F.round(
                F.abs(obs - F.log10(1.0 + 1.0 / F.col("digit"))), 6
            ).alias("abs_dev"),
        )
        .drop("total")
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Robust outlier gate: median absolute deviation (MAD)
# --------------------------------------------------------------------------
@query(
    "stats_mad_outliers",
    tier="T2",
    doc="Robust outlier gate per event type: |x − median| > 3·MAD — "
    "immune to the outliers themselves, unlike the z-score gate "
    "(stats_anomaly_zscore), hence the pair of them. Values are exact "
    "1e-4 integer units; medians of integers are exact halves in "
    "binary64 on both engines, and the 3·MAD comparison doubles "
    "through 2× so every operand stays an exact binary64 value — no "
    "rounding guard needed. Two passes over the per-type slices "
    "(median, then deviations) + one broadcast of the 5-row stats "
    "side; at 100 TB the medians come from approx_percentile or a "
    "two-pass exact selection, same join shape.",
    oracle="""
    WITH u AS (
      SELECT event_type, CAST(round(value * 10000) AS BIGINT) AS xu
      FROM events
    ),
    med AS (
      SELECT event_type, median(xu) AS med FROM u GROUP BY 1
    ),
    dev AS (
      SELECT u.event_type, abs(u.xu - m.med) AS adev
      FROM u JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
    )
    SELECT u.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(any_value(m.med) / 10000.0, 6) AS median_v,
           round(any_value(d.mad) / 10000.0, 6) AS mad_v,
           CAST(sum(CASE WHEN 2 * abs(u.xu - m.med) > 2 * 3 * d.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM u
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    GROUP BY u.event_type
    ORDER BY u.event_type
    """,
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 10000).cast("long").alias("xu")
    )
    med = u.groupBy("event_type").agg(F.median("xu").alias("med"))
    dev = u.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("xu") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    j = u.join(F.broadcast(med), "event_type").join(
        F.broadcast(mad), "event_type"
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.any_value("med") / 10000.0, 6).alias("median_v"),
            F.round(F.any_value("mad") / 10000.0, 6).alias("mad_v"),
            F.sum(
                F.when(
                    2 * F.abs(F.col("xu") - F.col("med")) > 2 * 3 * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Exact weighted median (grouped selection statistic)
# --------------------------------------------------------------------------
@query(
    "stats_weighted_median",
    tier="T2",
    doc="Exact lower weighted median of extended price per return "
    "flag, weighted by quantity: aggregate weight per (flag, price) "
    "grain, running weight via a window over the PRE-AGGREGATED value "
    "grains (bounded by distinct prices per flag — the documented "
    "exemption; the fact-sized path would use operators/prefix.py), "
    "then pick the smallest price whose doubled cumulative weight "
    "reaches the flag total. All selection logic is exact integer "
    "cross-multiplication — no float quantiles, so both engines agree "
    "bit-for-bit (contrast approx_percentile_gate, which is "
    "tolerance-gated).",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    c AS (
      SELECT flag, price_c, w,
             CAST(sum(w) OVER (PARTITION BY flag ORDER BY price_c
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
      FROM g
    )
    SELECT flag,
           CAST(min(price_c) AS BIGINT) AS weighted_median_c,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cw >= tw
    GROUP BY flag ORDER BY flag
    """,
)
def stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import distributed_cumsum_small_groups

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round("l_quantity").cast("long").alias("q"),
    )
    g = li.groupBy("flag", "price_c").agg(F.sum("q").alias("w"))
    # Prices are near-unique, so the per-flag grain series is
    # fact-sized AND there are only 3 flags — a flag-partitioned
    # window would serialize the scan onto 3 cores. The FUSED
    # small-group two-phase prefix sum keeps every core busy: one
    # ranged exchange, one partition-local window, one control-plane
    # collect (n_partitions × 3 rows), one broadcast join back.
    # Driver-measured (sf0.1, min-of-3): BENCH_r07 2.94 s (2.724 s
    # BENCH_r05 — drift is run-to-run noise on the two-job prefix
    # scan) with this fused shape; BENCH_r04 2.744 s with the general
    # grouped shape (deleted since) — at sf0.1 the two are within
    # noise (the fused variant saves an input persist, a totals
    # shuffle, and a join, which is a plan-width win that matters at
    # scale, not at 600k rows). The wall is the near-unique price
    # domain riding the full two-phase scan — inherent, not a plan
    # miss; watchlist, compare round over round. Perf doctrine
    # (VERDICT r5 #2): in-source numbers quote the driver's
    # BENCH_r{N} file, never ad-hoc local runs.
    c = distributed_cumsum_small_groups(
        g, group_cols=["flag"], order_cols=["price_c"], value_col="w",
        out_col="cw", total_col="tw",
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price_c").cast("long").alias("weighted_median_c"),
            F.min("tw").cast("long").alias("total_weight"),
        )
        .orderBy("flag")
    )


# --------------------------------------------------------------------------
# Seasonal baseline + residual anomaly (day-of-week decomposition)
# --------------------------------------------------------------------------
@query(
    "stats_seasonal_anomaly",
    tier="T2",
    doc="Seasonality-aware anomaly screen: daily order counts vs their "
    "DAY-OF-WEEK baseline — z = (n·m − Σn) / sqrt(m·Σn² − (Σn)²) per "
    "dow cohort, i.e. the population z-score written as one exact-"
    "integer numerator over the sqrt of an exact-integer variance "
    "term, so the only float op is the final division (round-6, "
    "continuous). Catches a spike that looks normal against the "
    "global mean but is 3σ for a Sunday. Two map-side-combined aggs "
    "(day grain, then dow cohort) + one broadcast-back join; top-10 "
    "by |z| via TakeOrdered. DOW convention pinned to DuckDB's "
    "0=Sunday (Spark's dayofweek() − 1). Packed-arithmetic bounds "
    "(audit_burst_rate doctrine): the variance term m·Σn² − (Σn)² is "
    "int64-exact while Σn per dow cohort < 3e9 events; past that a "
    "deployment lifts the sufficient statistics to DECIMAL(38,0) as "
    "this module's covariance/z-score gates already do.",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS od,
             dayofweek(CAST(o_orderdate AS DATE)) AS dow,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    b AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(n) AS BIGINT) AS sn,
             CAST(sum(n * n) AS BIGINT) AS sn2
      FROM d GROUP BY dow
    )
    SELECT CAST(d.od AS VARCHAR) AS order_date,
           CAST(d.dow AS BIGINT) AS dow,
           d.n AS n_orders,
           round(CAST(d.n * b.m - b.sn AS DOUBLE)
                 / sqrt(CAST(b.m * b.sn2 - b.sn * b.sn AS DOUBLE)), 6)
             AS z_score
    FROM d JOIN b USING (dow)
    WHERE b.m * b.sn2 - b.sn * b.sn > 0
    ORDER BY abs(round(CAST(d.n * b.m - b.sn AS DOUBLE)
                 / sqrt(CAST(b.m * b.sn2 - b.sn * b.sn AS DOUBLE)), 6)) DESC,
             order_date
    LIMIT 10
    """,
)
def stats_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("od")
    )
    d = o.groupBy(
        "od", (F.dayofweek("od") - 1).cast("long").alias("dow")
    ).agg(F.count("*").cast("long").alias("n"))
    b = d.groupBy("dow").agg(
        F.count("*").alias("m"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("sn2"),
    )
    z = F.round(
        (F.col("n") * F.col("m") - F.col("sn")).cast("double")
        / F.sqrt(
            (F.col("m") * F.col("sn2") - F.col("sn") * F.col("sn")).cast(
                "double"
            )
        ),
        6,
    )
    return (
        d.join(b, "dow")
        .filter(F.col("m") * F.col("sn2") - F.col("sn") * F.col("sn") > 0)
        .select(
            F.col("od").cast("string").alias("order_date"),
            "dow",
            F.col("n").alias("n_orders"),
            z.alias("z_score"),
        )
        .orderBy(F.abs(F.col("z_score")).desc(), "order_date")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Equi-depth (quantile) histogram via the distributed prefix sum
# --------------------------------------------------------------------------
@query(
    "stats_equidepth_histogram",
    tier="T2",
    doc="Equi-depth 10-bucket histogram of order price: each bucket "
    "holds ~1/10 of the ROWS (equal mass, data-driven boundaries) — "
    "the optimizer/skew statistic, vs the fixed-boundary equi-width "
    "histogram (stats_histogram_price). Bucket assignment is exact "
    "integer selection: bucket = (10 * rows-before-this-value) div "
    "total, computed from a running count over the (price, count) "
    "value grains. Order prices are near-unique, so the grain series "
    "is FACT-sized — the running count therefore uses the two-phase "
    "distributed prefix sum (operators/prefix.py), never a "
    "single-partition global window (the scale trap the pre-aggregated "
    "cumsum queries are exempt from). Ties (equal prices) land in one "
    "grain, hence one bucket — depths are near-equal, boundaries "
    "exact. One control-plane scalar (total row count).",
    oracle="""
    WITH g AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             CAST(count(*) AS BIGINT) AS w
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT price_c, w,
             CAST(sum(w) OVER (ORDER BY price_c
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(sum(w) OVER () AS BIGINT) AS total
      FROM g
    )
    SELECT CAST((10 * (cw - w)) // total AS BIGINT) AS bucket,
           CAST(sum(w) AS BIGINT) AS n_orders,
           CAST(min(price_c) AS BIGINT) AS lo_c,
           CAST(max(price_c) AS BIGINT) AS hi_c
    FROM c
    GROUP BY 1 ORDER BY 1
    """,
)
def stats_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import distributed_cumsum

    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("price_c")
    )
    # Persist the grain frame: it feeds BOTH the control-plane total
    # and the ranged scan — unpersisted, the groupBy (and the orders
    # scan under it) would run twice.
    g = o.groupBy("price_c").agg(F.count("*").cast("long").alias("w")).persist()
    total = g.agg(F.sum("w")).collect()[0][0]
    c = distributed_cumsum(g, order_cols=["price_c"], value_col="w", out_col="cw")
    return (
        c.select(
            "price_c",
            "w",
            # Integer floor division (div), NOT float `/` + cast —
            # catalog doctrine: bucket boundaries must be exact.
            F.expr(f"(10 * (cw - w)) div {int(total)}")
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("w").cast("long").alias("n_orders"),
            F.min("price_c").cast("long").alias("lo_c"),
            F.max("price_c").cast("long").alias("hi_c"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Per-group OLS (simple linear regression from exact moments)
# --------------------------------------------------------------------------
@query(
    "stats_linear_regression",
    tier="T2",
    doc="Per-returnflag OLS of extended price (cents) on quantity: "
    "slope and intercept from EXACT DECIMAL(38,0) sufficient "
    "statistics (n, Σx, Σy, Σxx, Σxy) — both coefficients are a "
    "single correctly-rounded double division of exact integers "
    "(intercept uses the closed form (Σy·Σxx − Σx·Σxy)/D rather than "
    "chaining through the float slope), so partial-agg order can "
    "never move the hash. Map-side combinable: each task emits 5 "
    "numbers per group; no second pass, no join. The same shape "
    "Spark's regr_slope/regr_intercept compute — rebuilt on exact "
    "integers because the built-ins sum doubles (order-dependent).",
    oracle="""
    WITH u AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM u GROUP BY 1
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_c_per_unit,
           round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS intercept_c
    FROM s ORDER BY l_returnflag
    """,
)
def stats_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x"),
        cents("l_extendedprice").alias("y"),
    )
    d = "decimal(38,0)"
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast(d).alias("n"),
        F.sum("x").cast(d).alias("sx"),
        F.sum("y").cast(d).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast(d).alias("sxx"),
        # term-level decimal cast — Welch-overflow doctrine
        F.sum(F.col("x").cast(d) * F.col("y").cast(d)).cast(d).alias("sxy"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / den,
            6,
        ).alias("slope_c_per_unit"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(
                "double"
            )
            / den,
            6,
        ).alias("intercept_c"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Welch's t-test (unequal-variance two-sample comparison)
# --------------------------------------------------------------------------
@query(
    "stats_welch_ttest",
    tier="T2",
    doc="Welch's unequal-variance t-test: do urgent orders "
    "(1-URGENT/2-HIGH) carry a different mean price than the rest? "
    "Sufficient statistics (n, Σy, Σy²) per cohort in exact "
    "DECIMAL(38,0); means and sample variances are single divisions "
    "of exact integers, and t / Welch–Satterthwaite df chain "
    "correctly-rounded IEEE ops written IDENTICALLY in both engines "
    "(same association order), so the round-6 outputs match bit-for-"
    "bit. One scan, one 2-row agg, map-side combined; the 2-row "
    "cohort frame pivots on the driver side of the plan via "
    "conditional aggregation — no join, no window.",
    oracle="""
    WITH u AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'urgent' ELSE 'other' END AS cohort,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN cohort = 'urgent' THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
             CAST(sum(CASE WHEN cohort = 'urgent' THEN y ELSE 0 END) AS HUGEINT) AS s1,
             CAST(sum(CASE WHEN cohort = 'urgent' THEN y * y ELSE 0 END) AS HUGEINT) AS q1,
             CAST(sum(CASE WHEN cohort = 'other' THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
             CAST(sum(CASE WHEN cohort = 'other' THEN y ELSE 0 END) AS HUGEINT) AS s2,
             CAST(sum(CASE WHEN cohort = 'other' THEN y * y ELSE 0 END) AS HUGEINT) AS q2
      FROM u
    ),
    f AS (
      SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_other,
             CAST(n1 * q1 - s1 * s1 AS DOUBLE)
               / CAST(n1 * (n1 - 1) AS DOUBLE) AS v1,
             CAST(n2 * q2 - s2 * s2 AS DOUBLE)
               / CAST(n2 * (n2 - 1) AS DOUBLE) AS v2,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2
      FROM s
    )
    SELECT n_urgent, n_other,
           round(m1 - m2, 6) AS mean_diff_c,
           round((m1 - m2) / sqrt(v1 / n_urgent + v2 / n_other), 6) AS t_stat,
           round(((v1 / n_urgent + v2 / n_other)
                  * (v1 / n_urgent + v2 / n_other))
                 / ((v1 / n_urgent) * (v1 / n_urgent) / (n_urgent - 1)
                    + (v2 / n_other) * (v2 / n_other) / (n_other - 1)),
                 6) AS welch_df
    FROM f
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "urgent"
        )
        .otherwise("other")
        .alias("cohort"),
        cents("o_totalprice").alias("y"),
    )
    d = "decimal(38,0)"
    urgent = F.col("cohort") == "urgent"
    # Casts INSIDE the sums: sum(y*y) over price cents is ~3.4e18 at
    # sf0.01 and ~3.4e19 at sf0.1 — PAST int64, where non-ANSI Spark
    # wraps silently (caught by the sf0.1 oracle sweep: t_stat came
    # back NaN off a negative wrapped variance; DuckDB's HUGEINT sum
    # never wraps, so only the Spark side lied). Summing in
    # DECIMAL(38,0) is this module's documented doctrine — the cast
    # must be on the TERM, not the finished sum.
    yd = F.col("y").cast(d)
    s = o.agg(
        F.sum(F.when(urgent, 1).otherwise(0)).cast(d).alias("n1"),
        F.sum(F.when(urgent, yd).otherwise(F.lit(0).cast(d))).alias("s1"),
        F.sum(F.when(urgent, yd * yd).otherwise(F.lit(0).cast(d)))
        .cast(d)
        .alias("q1"),
        F.sum(F.when(~urgent, 1).otherwise(0)).cast(d).alias("n2"),
        F.sum(F.when(~urgent, yd).otherwise(F.lit(0).cast(d))).alias("s2"),
        F.sum(F.when(~urgent, yd * yd).otherwise(F.lit(0).cast(d)))
        .cast(d)
        .alias("q2"),
    )
    f = s.select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n2").cast("long").alias("n_other"),
        (
            (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")).cast(
                "double"
            )
            / (F.col("n1") * (F.col("n1") - 1)).cast("double")
        ).alias("v1"),
        (
            (F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")).cast(
                "double"
            )
            / (F.col("n2") * (F.col("n2") - 1)).cast("double")
        ).alias("v2"),
        (F.col("s1").cast("double") / F.col("n1").cast("double")).alias("m1"),
        (F.col("s2").cast("double") / F.col("n2").cast("double")).alias("m2"),
    )
    se1 = F.col("v1") / F.col("n_urgent")
    se2 = F.col("v2") / F.col("n_other")
    return f.select(
        "n_urgent",
        "n_other",
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff_c"),
        F.round(
            (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2), 6
        ).alias("t_stat"),
        F.round(
            ((se1 + se2) * (se1 + se2))
            / (
                se1 * se1 / (F.col("n_urgent") - 1)
                + se2 * se2 / (F.col("n_other") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


# --------------------------------------------------------------------------
# Pointwise mutual information cells (categorical dependence map)
# --------------------------------------------------------------------------
@query(
    "stats_pmi_cells",
    tier="T2",
    doc="Pointwise mutual information between order priority and order "
    "status, reported PER CELL (15 rows) rather than as one summed MI "
    "scalar — deliberately: a float sum across cells would be "
    "fold-order-dependent, while each cell's pmi = ln(n·n_xy/(n_x·"
    "n_y)) is one correctly-rounded log of an exact integer ratio "
    "(round 6, continuous). Contingency counts via one scan + one agg "
    "on 15 keys; marginals re-derived by windowless self-aggregation "
    "joins on the 15-row result (control-plane sized, broadcast).",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             CAST(count(*) AS BIGINT) AS n_xy
      FROM orders GROUP BY 1, 2
    ),
    mx AS (SELECT priority, CAST(sum(n_xy) AS BIGINT) AS n_x FROM c GROUP BY 1),
    my AS (SELECT status, CAST(sum(n_xy) AS BIGINT) AS n_y FROM c GROUP BY 1),
    n AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM c)
    SELECT priority, status, n_xy, mx.n_x, my.n_y,
           round(ln(CAST(n.n * n_xy AS DOUBLE)
                    / CAST(mx.n_x * my.n_y AS DOUBLE)), 6) AS pmi
    FROM c JOIN mx USING (priority) JOIN my USING (status) CROSS JOIN n
    ORDER BY priority, status
    """,
)
def stats_pmi_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    )
    c = o.groupBy("priority", "status").agg(
        F.count("*").cast("long").alias("n_xy")
    )
    mx = c.groupBy("priority").agg(F.sum("n_xy").cast("long").alias("n_x"))
    my = c.groupBy("status").agg(F.sum("n_xy").cast("long").alias("n_y"))
    n = c.agg(F.sum("n_xy").cast("long").alias("n"))
    return (
        c.join(F.broadcast(mx), "priority")
        .join(F.broadcast(my), "status")
        .crossJoin(F.broadcast(n))
        .select(
            "priority",
            "status",
            "n_xy",
            "n_x",
            "n_y",
            F.round(
                F.log(
                    (F.col("n") * F.col("n_xy")).cast("double")
                    / (F.col("n_x") * F.col("n_y")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("priority", "status")
    )


# --------------------------------------------------------------------------
# Poisson bootstrap (distributed resampling without replacement-sampling)
# --------------------------------------------------------------------------
_BOOT_B = 32
#: Poisson(1) inverse-CDF thresholds on a 2^16 grid (floor of the
#: cumulative probabilities) — weight k iff u falls in its band. Exact
#: integers, so replica weights are identical in every engine. The
#: 2^16 grid lets ONE md5 per row feed all 32 replicas: 128 hash bits
#: slice into exactly 32 independent 16-bit uniforms (4 hex chars
#: each), replacing the per-(row, replica) hash of the explode form.
_BOOT_CDF_E16 = (24109, 48218, 60273, 64291, 65296, 65497, 65530)
#: The same thresholds as 4-char lowercase hex strings: a 16-bit
#: uniform drawn as 4 hex chars of an md5 digest compares against its
#: threshold LEXICOGRAPHICALLY (same length, same alphabet), so the
#: inverse-CDF needs no hex->int parse at all — just string CASE
#: ladders, identical in both engines.
_BOOT_CDF_HEX = tuple(format(t, "04x") for t in _BOOT_CDF_E16)


def _boot_weight_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < '{t}' THEN {k}" for k, t in enumerate(_BOOT_CDF_HEX)
    )
    return f"(CASE {cases} ELSE {len(_BOOT_CDF_HEX)} END)"


@query(
    "stats_poisson_bootstrap",
    tier="T2",
    doc=f"Poisson bootstrap of the mean order value, {_BOOT_B} "
    "replicas: the DISTRIBUTED bootstrap — classic resampling needs "
    "n draws with replacement from one coordinated urn (impossible "
    "across executors without a shuffle per replica), while the "
    "Poisson approximation gives every (row, replica) an independent "
    "Poisson(1) weight. FOUR md5s per row yield 512 bits = exactly "
    "32 independent 16-bit uniforms (8 per digest); each 4-hex-char "
    "slice passes a LEXICOGRAPHIC inverse-CDF ladder (same-length "
    "lowercase hex compares like the integer — no RNG, no hex "
    "parse, no float compare), so both engines draw identical "
    "resamples. Shape: two pipelined explodes (x4 digests, x8 "
    "slices) so each digest is computed once and shared by its 8 "
    "replicas, then a map-side-combined agg on B keys — row "
    "inflation never materializes (generate feeds the partial agg "
    "in one stage; drive-measured 1.843 s at sf0.1 (BENCH_r05) vs "
    "~3.6 s when A/B'd against the per-(row,replica) "
    "hash, and beats the 64-column 1-row agg form, whose giant "
    "generated method blows the JIT inline budget). Per-replica "
    "means are single divisions of exact cents sums (round 6); the "
    "stderr is the reader's spread over 32 rows, never a float "
    "fold.",
    oracle=f"""
    WITH x AS (
      SELECT b.b AS replica,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c,
             substring(
               md5(CAST(o.o_orderkey AS VARCHAR) || ':'
                   || CAST(b.b // 8 AS VARCHAR)),
               4 * (b.b % 8) + 1, 4) AS u
      FROM orders o CROSS JOIN generate_series(0, {_BOOT_B - 1}) b(b)
    ),
    w AS (SELECT replica, price_c, {_boot_weight_sql('u')} AS wt FROM x)
    SELECT CAST(replica AS BIGINT) AS replica,
           CAST(sum(wt) AS BIGINT) AS n_eff,
           round(CAST(sum(wt * price_c) AS DOUBLE)
                 / CAST(sum(wt) AS DOUBLE), 6) AS mean_c
    FROM w GROUP BY replica ORDER BY replica
    """,
)
def stats_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("price_c")
    )
    g = o.select(
        "price_c",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B // 8 - 1))).alias("g"),
        "o_orderkey",
    ).select(
        "price_c",
        "g",
        F.md5(
            F.concat_ws(
                ":", F.col("o_orderkey").cast("string"), F.col("g").cast("string")
            )
        ).alias("h"),
    )
    j = g.select(
        "price_c", "g", "h",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
    )
    u = F.expr("substring(h, j * 4 + 1, 4)")
    wt = F.lit(len(_BOOT_CDF_HEX))
    for k in range(len(_BOOT_CDF_HEX) - 1, -1, -1):
        wt = F.when(u < _BOOT_CDF_HEX[k], k).otherwise(wt)
    w = j.select(
        (F.col("g") * 8 + F.col("j")).cast("long").alias("replica"),
        "price_c",
        wt.alias("wt"),
    )
    return (
        w.groupBy("replica")
        .agg(
            F.sum("wt").cast("long").alias("n_eff"),
            F.round(
                F.sum(F.col("wt") * F.col("price_c")).cast("double")
                / F.sum("wt").cast("double"),
                6,
            ).alias("mean_c"),
        )
        .orderBy("replica")
    )


# --------------------------------------------------------------------------
# T2 — CUSUM change-point detection over the daily revenue series
# --------------------------------------------------------------------------
@query(
    "stats_cusum_changepoint",
    tier="T2",
    doc="CUSUM change-point detection on daily order revenue: the "
    "cumulative sum of deviations from the global mean peaks (in "
    "absolute value) at the most likely mean-shift point. Kept EXACT "
    "integer end-to-end by scaling out the division: cusum_n(t) = "
    "n * prefix(t) - t * total (n times the classic CUSUM), so no "
    "float fold or integer-div truncation can disagree across "
    "engines. Shape: one combiner groupBy to the daily grain, then "
    "the two-phase distributed prefix scan (operators/prefix.py — "
    "never a single-partition window, even though the daily series "
    "is small: the same code must survive a per-minute or per-key "
    "grain at 100 TB), then TWO 1-row control-plane aggregates "
    "(n+total, max|cusum|) broadcast back via crossJoin (catalog "
    "budget class). Day index t comes from the same scan (count "
    "column), not a window rank.",
    oracle="""
    WITH d AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT day, rev_c,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(sum(rev_c) OVER (ORDER BY day ROWS UNBOUNDED
                                   PRECEDING) AS BIGINT) AS prefix_c
      FROM d
    ),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(rev_c) AS BIGINT) AS total_c FROM d),
    c AS (
      SELECT s.day, s.rev_c, s.t,
             g.n * s.prefix_c - s.t * g.total_c AS cusum_n
      FROM s, g
    ),
    m AS (SELECT max(abs(cusum_n)) AS peak FROM c)
    SELECT c.day, c.rev_c, c.t, c.cusum_n,
           (abs(c.cusum_n) = m.peak) AS is_changepoint
    FROM c, m
    ORDER BY c.day
    """,
)
def stats_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import distributed_cumsum

    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").cast("string").alias("day"))
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("rev_c"))
    )
    # One scan computes BOTH running columns: cumsum of rev_c and the
    # day index t (cumsum of 1) share the single range exchange and
    # Window node (distributed_cumsum multi-column form).
    t = distributed_cumsum(
        d.withColumn("one", F.lit(1).cast("long")),
        order_cols=["day"],
        value_col=["rev_c", "one"],
        out_col=["prefix_c", "t"],
    ).drop("one")
    g = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev_c").cast("long").alias("total_c"),
    )
    c = t.crossJoin(F.broadcast(g)).select(
        "day",
        "rev_c",
        "t",
        (F.col("n") * F.col("prefix_c") - F.col("t") * F.col("total_c"))
        .alias("cusum_n"),
    )
    m = c.agg(F.max(F.abs(F.col("cusum_n"))).alias("peak"))
    return (
        c.crossJoin(F.broadcast(m))
        .select(
            "day",
            "rev_c",
            "t",
            "cusum_n",
            (F.abs(F.col("cusum_n")) == F.col("peak")).alias(
                "is_changepoint"
            ),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (rank-sum test) — distributed ranks from cumulative counts
# --------------------------------------------------------------------------
#: Shared final projection: exact-integer U statistic (doubled so ties'
#: half-ranks stay integral) and the normal-approximation z with tie
#: correction, computed as ONE double expression over exact int64
#: sufficient statistics (identical IEEE ops on both engines).
_MWU_Z = (
    "CAST(round(((CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * "
    "CAST(n2 AS DOUBLE)) / 2) / sqrt(CAST(n1 AS DOUBLE) * "
    "CAST(n2 AS DOUBLE) / 12.0 * (CAST(n + 1 AS DOUBLE) - "
    "CAST(ties3 AS DOUBLE) / (CAST(n AS DOUBLE) * "
    "CAST(n - 1 AS DOUBLE)))) * 1000000) AS BIGINT) AS z_e6"
)


@query(
    "stats_mann_whitney_u",
    tier="T2",
    doc="Mann-Whitney U rank-sum test: do returned line items "
    "(l_returnflag='R') have a different price distribution than the "
    "rest? The nonparametric two-sample test — and the canonical "
    "'global ranks at scale' shape: classic U needs every row's rank, "
    "but with AVERAGE ranks for ties the whole statistic collapses to "
    "per-VALUE sufficient statistics — rank mass of value v is "
    "2*count(<v) + count(=v) + 1 (doubled so half-ranks stay "
    "integral). So the plan is: one map-side-combined groupBy on the "
    "value grain (cnt, cnt_in_group), ONE distributed prefix sum over "
    "the value order (operators/prefix.py two-phase scan — never a "
    "single-partition window over the fact), one 1-row reduce. "
    "U and the tie-corrected sufficient statistics are exact int64 "
    "(doc: r1x2 <= 2*n1*n bounds int64 through ~2e9 rows; past that "
    "the sums lift to DECIMAL(38,0) unchanged); only the final z "
    "division goes through double (identical IEEE ops both engines, "
    "rounded to e6). Cost profile: 2.24 s at sf0.1 (BENCH_r07; "
    "2.20 s BENCH_r06 — flat round over round); the wall is the full "
    "value-domain prefix scan (two jobs by construction), not a skew "
    "or a plan miss — watchlist, compare round over round.",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS val,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cnt_a
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT cnt, cnt_a,
             CAST(coalesce(sum(cnt) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below
      FROM v
    ),
    s AS (
      SELECT CAST(sum(cnt_a * (2 * below + cnt + 1)) AS BIGINT) AS r1x2,
             CAST(sum(cnt_a) AS BIGINT) AS n1,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties3
      FROM c
    ),
    u AS (
      SELECT n1, CAST(n - n1 AS BIGINT) AS n2, n, ties3,
             CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2
      FROM s
    )
    SELECT n1, n2, u1_x2, {_MWU_Z} FROM u
    """,
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import distributed_cumsum

    li = load_table(spark, sf_dir, "lineitem").select(
        cents("l_extendedprice").alias("val"),
        F.when(F.col("l_returnflag") == "R", 1)
        .otherwise(0)
        .cast("long")
        .alias("is_a"),
    )
    v = li.groupBy("val").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("is_a").cast("long").alias("cnt_a"),
    )
    c = distributed_cumsum(v, order_cols=["val"], value_col="cnt", out_col="cw")
    s = c.select(
        (F.col("cw") - F.col("cnt")).alias("below"), "cnt", "cnt_a"
    ).agg(
        F.sum(F.col("cnt_a") * (2 * F.col("below") + F.col("cnt") + 1))
        .cast("long")
        .alias("r1x2"),
        F.sum("cnt_a").cast("long").alias("n1"),
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("ties3"),
    )
    u = s.selectExpr(
        "n1",
        "CAST(n - n1 AS BIGINT) AS n2",
        "n",
        "ties3",
        "CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2",
    )
    return u.selectExpr("n1", "n2", "u1_x2", _MWU_Z)


# --------------------------------------------------------------------------
# Chi-square test of independence (contingency-table audit)
# --------------------------------------------------------------------------
@query(
    "stats_chi_square_independence",
    tier="T2",
    doc="Chi-square independence test: is order PRIORITY independent "
    "of order STATUS? One map-side-combined groupBy builds the "
    "contingency table (|pri|x|status| rows — control-plane sized), "
    "margins and the grand total re-aggregate THAT (never a second "
    "fact scan), and every join back is a broadcast of a tiny "
    "aggregate. Determinism: per-cell deviation o*N - R*C is an "
    "integer-valued double (exact below 2^53), each cell's chi^2 "
    "contribution is one identical IEEE double expression rounded to "
    "e6 BEFORE summation, and the total is an exact int64 sum of "
    "those rounded cells — float addition order never touches the "
    "hash (the cell-level rounding is the documented semantic: "
    "chi2_e6 is the sum of e6-rounded per-cell contributions). Cells "
    "come from the CROSS JOIN of observed priorities x observed "
    "statuses with coalesce(o_cnt, 0) — a structurally empty cell "
    "still owes its expected-count contribution (o=0 -> dev=-R*C -> "
    "contrib=R*C/N); summing only observed cells would understate "
    "chi^2 whenever a combination has zero rows (r6 ADVICE #2). At "
    "100 TB this is a 1-scan + combiner-friendly agg on a tiny key "
    "space; the quadratic margin join is over the CELL table, not "
    "the fact.",
    oracle="""
    WITH ct AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS status,
             CAST(count(*) AS BIGINT) AS o_cnt
      FROM orders GROUP BY 1, 2
    ),
    r AS (SELECT pri, CAST(sum(o_cnt) AS BIGINT) AS r_cnt
          FROM ct GROUP BY 1),
    c AS (SELECT status, CAST(sum(o_cnt) AS BIGINT) AS c_cnt
          FROM ct GROUP BY 1),
    tt AS (SELECT CAST(sum(o_cnt) AS BIGINT) AS n FROM ct),
    full_ct AS (
      SELECT r.pri, c.status, COALESCE(ct.o_cnt, 0) AS o_cnt
      FROM r CROSS JOIN c
      LEFT JOIN ct ON ct.pri = r.pri AND ct.status = c.status
    ),
    cells AS (
      SELECT full_ct.pri, full_ct.status, r_cnt, c_cnt, n,
             CAST(o_cnt AS DOUBLE) * CAST(n AS DOUBLE)
               - CAST(r_cnt AS DOUBLE) * CAST(c_cnt AS DOUBLE) AS dev
      FROM full_ct JOIN r USING (pri) JOIN c USING (status) CROSS JOIN tt
    ),
    k AS (
      SELECT pri, status, n,
             CAST(round(dev * dev / (CAST(n AS DOUBLE)
               * CAST(r_cnt AS DOUBLE) * CAST(c_cnt AS DOUBLE))
               * 1000000) AS BIGINT) AS contrib_e6
      FROM cells
    )
    SELECT CAST(min(n) AS BIGINT) AS n,
           CAST((count(DISTINCT pri) - 1)
             * (count(DISTINCT status) - 1) AS BIGINT) AS dof,
           CAST(sum(contrib_e6) AS BIGINT) AS chi2_e6
    FROM k
    """,
)
def stats_chi_square_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("status"),
    )
    ct = o.groupBy("pri", "status").agg(
        F.count("*").cast("long").alias("o_cnt")
    )
    rt = ct.groupBy("pri").agg(F.sum("o_cnt").cast("long").alias("r_cnt"))
    cl = ct.groupBy("status").agg(F.sum("o_cnt").cast("long").alias("c_cnt"))
    tot = ct.agg(F.sum("o_cnt").cast("long").alias("n"))
    # Full |pri| x |status| grid so a structurally empty cell still
    # contributes its expected count (see doc) — margins are tiny, so
    # the grid and the observed-cell join-back are all broadcasts.
    full_ct = (
        rt.select("pri")
        .crossJoin(F.broadcast(cl.select("status")))
        .join(F.broadcast(ct), ["pri", "status"], "left")
        .withColumn("o_cnt", F.coalesce(F.col("o_cnt"), F.lit(0)))
    )
    cells = (
        full_ct.join(F.broadcast(rt), "pri")
        .join(F.broadcast(cl), "status")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "pri",
            "status",
            "r_cnt",
            "c_cnt",
            "n",
            "CAST(o_cnt AS DOUBLE) * CAST(n AS DOUBLE)"
            " - CAST(r_cnt AS DOUBLE) * CAST(c_cnt AS DOUBLE) AS dev",
        )
    )
    k = cells.selectExpr(
        "pri",
        "status",
        "n",
        "CAST(round(dev * dev / (CAST(n AS DOUBLE)"
        " * CAST(r_cnt AS DOUBLE) * CAST(c_cnt AS DOUBLE))"
        " * 1000000) AS BIGINT) AS contrib_e6",
    )
    return k.agg(
        F.min("n").cast("long").alias("n"),
        (
            (F.countDistinct("pri") - 1) * (F.countDistinct("status") - 1)
        )
        .cast("long")
        .alias("dof"),
        F.sum("contrib_e6").cast("long").alias("chi2_e6"),
    )


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the day-of-week anomaly screen
# --------------------------------------------------------------------------
_BH_ALPHA = "0.05"
_BH_TOP = 20

#: Two-sided normal p-value from the e6-integer z-score, as ONE
#: identical IEEE double chain both engines run: p = erfc(|z|/sqrt(2))
#: via the Abramowitz-Stegun 7.1.26 polynomial (max abs error 1.5e-7 —
#: far below any BH decision boundary this data produces; neither
#: Spark SQL nor DuckDB ships erf/erfc, so the polynomial IS the
#: cross-engine contract). Staged columns (x, then t, then p) keep
#: each sub-expression evaluated once and textually identical.
_BH_X = "cast(abs(z_e6) as double) / 1000000.0 / sqrt(2.0)"
_BH_T = "1.0 / (1.0 + 0.3275 * x)"
_BH_P = (
    "((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t"
    " - 0.284496736) * t + 0.254829592) * t * exp(-x * x)"
)


@query(
    "stats_bh_fdr",
    tier="T2",
    doc=f"Benjamini-Hochberg false-discovery-rate control over the "
    "day-of-week anomaly screen: every day gets a two-sided normal "
    "p-value from its seasonal z-score, days are ranked by "
    "significance, and BH rejects the top k where k = max rank with "
    f"p <= {_BH_ALPHA}*rank/m — THE multiple-testing correction for "
    "screening thousands of series (2.4k day-tests here; millions of "
    "metric-tests at 100 TB, where uncorrected 3-sigma alerts are "
    "pure noise). Scale shape: z from two map-side-combined aggs "
    "(stats_seasonal_anomaly's exact-int construction), significance "
    "rank from the two-phase distributed rank on the INTEGER key "
    "(-|z_e6|, day) — erfc is monotone, so the |z| order IS the "
    "p order and the sort never touches a float — then m and the BH "
    "cutoff k are two 1-row control-plane aggregates broadcast back. "
    f"Top-{_BH_TOP} rows carry rank, p, the BH boundary, and the "
    "reject flag, so the correction is visible even when nothing "
    "clears it. Cost profile: 1.97 s at sf0.1 (BENCH_r07; 1.98 s "
    "BENCH_r06 — flat round over round) — the significance rank "
    "routes through the two-phase distributed prefix scan over the "
    "full day domain (two jobs by construction); watchlist, compare "
    "round over round.",
    oracle=f"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS od,
             dayofweek(CAST(o_orderdate AS DATE)) AS dow,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    b AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(n) AS BIGINT) AS sn,
             CAST(sum(n * n) AS BIGINT) AS sn2
      FROM d GROUP BY dow
    ),
    zz AS (
      SELECT CAST(d.od AS VARCHAR) AS order_date,
             CAST(d.dow AS BIGINT) AS dow, d.n AS n_orders,
             CAST(round(CAST(d.n * b.m - b.sn AS DOUBLE)
               / sqrt(CAST(b.m * b.sn2 - b.sn * b.sn AS DOUBLE))
               * 1000000) AS BIGINT) AS z_e6
      FROM d JOIN b USING (dow)
      WHERE b.m * b.sn2 - b.sn * b.sn > 0
    ),
    r AS (
      SELECT *, CAST(row_number() OVER (ORDER BY abs(z_e6) DESC,
                     order_date) AS BIGINT) AS rank
      FROM zz
    ),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m_tests FROM r),
    px AS (SELECT r.*, mm.m_tests, {_BH_X} AS x FROM r, mm),
    pt AS (SELECT *, {_BH_T} AS t FROM px),
    pp AS (SELECT *, {_BH_P} AS p FROM pt),
    kk AS (
      SELECT max(CASE WHEN p <= {_BH_ALPHA} * rank / m_tests
                 THEN rank END) AS k
      FROM pp
    )
    SELECT rank, order_date, dow, n_orders, z_e6,
           CAST(round(p * 1000000000) AS BIGINT) AS p_e9,
           CAST(round({_BH_ALPHA} * rank / m_tests * 1000000000)
                AS BIGINT) AS bh_cutoff_e9,
           CAST(rank <= coalesce(kk.k, 0) AS BOOLEAN) AS rejected
    FROM pp, kk
    ORDER BY rank
    LIMIT {_BH_TOP}
    """,
)
def stats_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import distributed_cumsum

    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("od")
    )
    d = o.groupBy(
        "od", (F.dayofweek("od") - 1).cast("long").alias("dow")
    ).agg(F.count("*").cast("long").alias("n"))
    b = d.groupBy("dow").agg(
        F.count("*").alias("m"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("sn2"),
    )
    zz = (
        d.join(F.broadcast(b), "dow")
        .filter(F.col("m") * F.col("sn2") - F.col("sn") * F.col("sn") > 0)
        .select(
            F.col("od").cast("string").alias("order_date"),
            F.col("dow"),
            F.col("n").alias("n_orders"),
            F.round(
                (F.col("n") * F.col("m") - F.col("sn")).cast("double")
                / F.sqrt(
                    (
                        F.col("m") * F.col("sn2") - F.col("sn") * F.col("sn")
                    ).cast("double")
                )
                * 1000000
            )
            .cast("long")
            .alias("z_e6"),
        )
    )
    r = distributed_cumsum(
        zz.withColumn("one", F.lit(1).cast("long")).withColumn(
            "_negaz", -F.abs(F.col("z_e6"))
        ),
        order_cols=["_negaz", "order_date"],
        value_col="one",
        out_col="rank",
    ).drop("one", "_negaz")
    mm = r.agg(F.count("*").cast("long").alias("m_tests"))
    pp = (
        r.crossJoin(F.broadcast(mm))
        .selectExpr("*", f"{_BH_X} AS x")
        .selectExpr("*", f"{_BH_T} AS t")
        .selectExpr("*", f"{_BH_P} AS p")
    )
    kk = pp.agg(
        F.max(
            F.expr(f"CASE WHEN p <= {_BH_ALPHA} * rank / m_tests"
                   " THEN rank END")
        ).alias("k")
    )
    return (
        pp.crossJoin(F.broadcast(kk))
        .selectExpr(
            "rank",
            "order_date",
            "dow",
            "n_orders",
            "z_e6",
            "CAST(round(p * 1000000000) AS BIGINT) AS p_e9",
            f"CAST(round({_BH_ALPHA} * rank / m_tests * 1000000000)"
            " AS BIGINT) AS bh_cutoff_e9",
            "CAST(rank <= coalesce(k, 0) AS BOOLEAN) AS rejected",
        )
        .orderBy("rank")
        .limit(_BH_TOP)
    )


# --------------------------------------------------------------------------
# Logistic regression via IRLS (Newton) — iterative ML on DataFrames
# --------------------------------------------------------------------------
_IRLS_ITERS = 3

#: per-row sigmoid, staged once; references columns b0, b1, x.
_IRLS_P = "(1.0 / (1.0 + exp(-(b0 + b1 * x))))"

#: per-row IRLS terms quantized to the e9 integer grid (see doc) —
#: reference columns p, x, y. SINGLE SOURCE for both engines.
_IRLS_TERMS = [
    "CAST(round(p * (1.0 - p) * 1000000000) AS BIGINT) AS wq",
    "CAST(round(p * (1.0 - p) * x * 1000000000) AS BIGINT) AS wxq",
    "CAST(round(p * (1.0 - p) * x * x * 1000000000) AS BIGINT) AS wxxq",
    "CAST(round((y - p) * 1000000000) AS BIGINT) AS rq",
    "CAST(round((y - p) * x * 1000000000) AS BIGINT) AS rxq",
]

#: Newton step from the five exact sums — the e9 scale cancels in the
#: 2x2 solve, so deltas need no de-scaling. Identical text both
#: engines; the sums are exact integers, so the double casts and the
#: two divisions are the ONLY float ops per iteration.
_IRLS_B0 = (
    "b0 + CAST(sr * swxx - srx * swx AS DOUBLE)"
    " / CAST(sw * swxx - swx * swx AS DOUBLE) AS b0"
)
_IRLS_B1 = (
    "b1 + CAST(srx * sw - sr * swx AS DOUBLE)"
    " / CAST(sw * swxx - swx * swx AS DOUBLE) AS b1"
)


def _irls_oracle() -> str:
    cte = [
        """
    u AS (
      SELECT CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS x,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN 1.0 ELSE 0.0 END AS y
      FROM orders
    ),
    b0t AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1)
        """.strip()
    ]
    prev = "b0t"
    for i in range(1, _IRLS_ITERS + 1):
        terms = ", ".join(_IRLS_TERMS)
        cte.append(
            f"t{i} AS (SELECT x, y, b0, b1, {_IRLS_P} AS p"
            f" FROM u CROSS JOIN {prev}),\n"
            f"q{i} AS (SELECT b0, b1, {terms} FROM t{i}),\n"
            f"s{i} AS (SELECT min(b0) AS b0, min(b1) AS b1,"
            f" sum(wq) AS sw, sum(wxq) AS swx, sum(wxxq) AS swxx,"
            f" sum(rq) AS sr, sum(rxq) AS srx FROM q{i}),\n"
            f"b{i}t AS (SELECT {_IRLS_B0}, {_IRLS_B1} FROM s{i})"
        )
        prev = f"b{i}t"
    body = ",\n".join(cte)
    return f"""
    WITH {body}
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_rows,
           CAST(round(b0 * 1000000) AS BIGINT) AS beta0_e6,
           CAST(round(b1 * 1000000) AS BIGINT) AS beta1_e6
    FROM {prev}
    """


@query(
    "stats_logistic_regression_irls",
    tier="T3",
    doc="Logistic regression fit by IRLS/Newton — P(order is URGENT) "
    "vs total price in $10k units, 3 unrolled iterations from "
    "beta=(0,0). The iterative-ML-on-DataFrames shape: each "
    "iteration is ONE map-side-combined aggregation of five "
    "sufficient statistics (sum of w, wx, wxx, r, rx with w=p(1-p), "
    "r=y-p), and the 1-row Newton solve rides a broadcast crossJoin "
    "back onto the fact for the next pass — no collect anywhere, "
    "state between iterations is one 2-vector. Cross-engine "
    "determinism: the per-row sigmoid chain is textually identical "
    "in both engines and every per-row term is quantized to an e9 "
    "integer grid BEFORE summation (exact int64 sums lifted to "
    "DECIMAL/HUGEINT for the 2x2 solve's cross-products — the Welch "
    "doctrine), so libm exp() ulp disagreements perturb a sum of "
    "~1e14 by at most a few units, ~1e-14 relative — absorbed by "
    "the final e6 rounding. At 100 TB: 3 scans of the fact (persist "
    "if memory allows, recompute if not), 5 longs per task per "
    "iteration of shuffle traffic, driver state O(1) — this is "
    "exactly how Spark MLlib's GLM fits, rebuilt deterministic.",
    oracle=_irls_oracle(),
)
def stats_logistic_regression_irls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    u = load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE)"
        " / 1000000.0 AS x",
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y",
    )
    # Scanned once per iteration + once for n — persist the projected
    # 2-double row, not the full orders scan.
    u = u.persist()
    d38 = "decimal(38,0)"
    b = spark.range(1).selectExpr(
        "CAST(0.0 AS DOUBLE) AS b0", "CAST(0.0 AS DOUBLE) AS b1"
    )
    for _ in range(_IRLS_ITERS):
        t = (
            u.crossJoin(F.broadcast(b))
            .selectExpr("x", "y", "b0", "b1", f"{_IRLS_P} AS p")
            .selectExpr("b0", "b1", *_IRLS_TERMS)
        )
        s = t.agg(
            F.min("b0").alias("b0"),
            F.min("b1").alias("b1"),
            F.sum("wq").cast(d38).alias("sw"),
            F.sum("wxq").cast(d38).alias("swx"),
            F.sum("wxxq").cast(d38).alias("swxx"),
            F.sum("rq").cast(d38).alias("sr"),
            F.sum("rxq").cast(d38).alias("srx"),
        )
        b = s.selectExpr(_IRLS_B0, _IRLS_B1)
    n = u.agg(F.count("*").cast("long").alias("n_rows"))
    return (
        n.crossJoin(F.broadcast(b))
        .selectExpr(
            "n_rows",
            "CAST(round(b0 * 1000000) AS BIGINT) AS beta0_e6",
            "CAST(round(b1 * 1000000) AS BIGINT) AS beta1_e6",
        )
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival over customer purchase lifetimes
# --------------------------------------------------------------------------
_KM_CENSOR_DAYS = 90

#: per-duration log-survival increment, quantized to the e9 grid;
#: references columns d (events) and n (at-risk). d = n (the whole
#: risk set churns) sends S to exactly 0 via a -100 log (exp(-100)
#: underflows the e6 grid) instead of ln(0) = -inf, which the two
#: engines could format differently.
_KM_TERM = (
    "CASE WHEN d = 0 THEN CAST(0 AS BIGINT)"
    " WHEN d < n THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE)"
    " / CAST(n AS DOUBLE)) * 1000000000) AS BIGINT)"
    " ELSE CAST(-100000000000 AS BIGINT) END"
)


@query(
    "stats_kaplan_meier_churn",
    tier="T3",
    doc="Kaplan-Meier survival estimate of customer lifetime (days "
    "from first to last order), right-censored: customers whose last "
    f"order falls within {_KM_CENSOR_DAYS} days of the dataset's max "
    "date are still-active (censored), everyone else churned at their "
    "last order — the survival-analysis shape (churn curves, "
    "retention horizons, hardware failure) that plain ECDFs get "
    "WRONG because censored units must leave the risk set without "
    "counting as events. Scale shape: one groupBy collapses the fact "
    "to per-customer (first, last), a second collapses customers to "
    "the per-duration grain (events d, censored c); the at-risk "
    "count n and the running log-survival are BOTH two-phase "
    "distributed prefix scans over the duration order (operators/"
    "prefix.py — never a single-partition window), and S(t) = "
    "exp(running sum of ln(1 - d/n)) with each increment quantized "
    "to an e9 integer BEFORE the exact cumulative sum, so libm ln() "
    "ulp noise cannot move the hash and the float product never "
    "depends on fold order.",
    oracle=f"""
    WITH life AS (
      SELECT o_custkey,
             CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS first_d,
             CAST(max(CAST(o_orderdate AS DATE)) AS DATE) AS last_d
      FROM orders GROUP BY 1
    ),
    horizon AS (SELECT max(last_d) AS mx FROM life),
    u AS (
      SELECT datediff('day', first_d, last_d) AS t,
             CASE WHEN datediff('day', last_d, mx) < {_KM_CENSOR_DAYS}
                  THEN 0 ELSE 1 END AS churned
      FROM life CROSS JOIN horizon
    ),
    g AS (
      SELECT t, CAST(sum(churned) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS tot
      FROM u GROUP BY t
    ),
    r AS (
      SELECT t, d, tot,
             (SELECT CAST(count(*) AS BIGINT) FROM u) -
               (CAST(coalesce(sum(tot) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT)) AS n
      FROM g
    ),
    s AS (
      SELECT t, d, tot - d AS c, n, {_KM_TERM} AS term
      FROM r
    ),
    k AS (
      SELECT t, d, c, n,
             CAST(sum(term) OVER (ORDER BY t) AS BIGINT) AS cum
      FROM s
    )
    SELECT CAST(t AS BIGINT) AS duration_days,
           n AS n_at_risk, d AS n_events, c AS n_censored,
           CAST(round(exp(CAST(cum AS DOUBLE) / 1000000000.0) * 1000000)
             AS BIGINT) AS survival_e6
    FROM k ORDER BY duration_days
    """,
)
def stats_kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import distributed_cumsum

    life = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        )
    )
    horizon = life.agg(F.max("last_d").alias("mx"))
    u = life.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").cast("long").alias("t"),
        F.when(
            F.datediff("mx", "last_d") < _KM_CENSOR_DAYS, F.lit(0)
        ).otherwise(F.lit(1)).alias("churned"),
    )
    g = u.groupBy("t").agg(
        F.sum("churned").cast("long").alias("d"),
        F.count("*").cast("long").alias("tot"),
    )
    n_total = u.agg(F.count("*").cast("long").alias("n_all"))
    # at-risk = N - (everyone who left at a strictly earlier duration):
    # running total of `tot` minus the row's own mass.
    r = (
        distributed_cumsum(g, order_cols=["t"], value_col="tot",
                           out_col="cum_tot")
        .crossJoin(F.broadcast(n_total))
        .selectExpr("t", "d", "tot", "n_all - (cum_tot - tot) AS n")
    )
    s = r.selectExpr("t", "d", "tot - d AS c", "n", f"{_KM_TERM} AS term")
    k = distributed_cumsum(s, order_cols=["t"], value_col="term",
                           out_col="cum")
    return k.selectExpr(
        "CAST(t AS BIGINT) AS duration_days",
        "n AS n_at_risk",
        "d AS n_events",
        "c AS n_censored",
        "CAST(round(exp(CAST(cum AS DOUBLE) / 1000000000.0) * 1000000)"
        " AS BIGINT) AS survival_e6",
    ).orderBy("duration_days")


# --------------------------------------------------------------------------
# CUPED-adjusted A/B lift (variance-reduced experiment readout)
# --------------------------------------------------------------------------
_CUPED_SPLIT_DATE = "1998-01-01"


@query(
    "stats_cuped_ab_lift",
    tier="T3",
    doc="CUPED variance-reduced A/B readout: customers hash-split "
    "50/50 (custkey parity), metric = post-period spend (orders from "
    f"{_CUPED_SPLIT_DATE}), covariate = the same customer's "
    "PRE-period spend; theta = cov(x,y)/var(x) over all units, and "
    "each arm's adjusted mean is mean(y) - theta*(mean(x) - "
    "mean_all(x)) — the standard experimentation-platform correction "
    "that removes pre-existing between-user variance from the lift "
    "estimate. The whole readout reduces to NINE exact sufficient "
    "statistics (n, Sx, Sy per arm; Sxx, Sxy, Syy globally), each an "
    "exact DECIMAL/HUGEINT sum of cents products (term-level cast — "
    "the Welch overflow doctrine), from ONE map-side-combined "
    "aggregation over the per-customer spend table; theta, lift, and "
    "the variance-reduction ratio rho^2 are then a handful of double "
    "ops on exact integers, identical text both engines, e6-rounded. "
    "At 100 TB: one scan of orders, one shuffle to customer grain, "
    "one 2-row (per-arm) reduce — no covariate join, because the "
    "covariate lives on the same row after the pivot-by-period agg. "
    "Fixture honesty: this synthetic generator assigns orders to "
    "customers i.i.d., so the measured rho^2 is ~0 (corr(pre, post) "
    "= -0.004) and the adjustment is a near-no-op HERE — the value "
    "of the query is the oracle-gated algebra; on real data with "
    "user-level propensity the identical plan removes that variance "
    "share from the lift.",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey AS cust,
             CAST(o_custkey % 2 AS BIGINT) AS arm,
             CAST(sum(CASE WHEN CAST(o_orderdate AS DATE)
                    < DATE '{_CUPED_SPLIT_DATE}'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN CAST(o_orderdate AS DATE)
                    >= DATE '{_CUPED_SPLIT_DATE}'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy
      FROM per_cust GROUP BY arm
    ),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
               AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
               AS sxy,
             CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
               AS syy
      FROM per_cust
    ),
    th AS (
      SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x_all,
             CAST(n * sxy - sx * sy AS DOUBLE)
               * CAST(n * sxy - sx * sy AS DOUBLE)
               / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) AS rho2
      FROM tot
    ),
    a AS (
      SELECT arm,
             CAST(n AS BIGINT) AS n_users,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
               - theta * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                          - mean_x_all) AS mean_y_adj
      FROM arms CROSS JOIN th
    )
    SELECT a1.n_users AS n_treat, a0.n_users AS n_ctrl,
           CAST(round(th.theta * 1000000) AS BIGINT) AS theta_e6,
           CAST(round((a1.mean_y - a0.mean_y) * 1000000) AS BIGINT)
             AS lift_raw_cents_e6,
           CAST(round((a1.mean_y_adj - a0.mean_y_adj) * 1000000) AS BIGINT)
             AS lift_cuped_cents_e6,
           CAST(round(th.rho2 * 1000000) AS BIGINT) AS var_reduction_e6
    FROM (SELECT * FROM a WHERE arm = 1) a1,
         (SELECT * FROM a WHERE arm = 0) a0, th
    """,
)
def stats_cuped_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d38 = "decimal(38,0)"
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            "o_custkey AS cust",
            "CAST(o_custkey % 2 AS BIGINT) AS arm",
            f"CASE WHEN CAST(o_orderdate AS DATE)"
            f" < DATE '{_CUPED_SPLIT_DATE}'"
            " THEN CAST(round(o_totalprice * 100) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END AS xr",
            f"CASE WHEN CAST(o_orderdate AS DATE)"
            f" >= DATE '{_CUPED_SPLIT_DATE}'"
            " THEN CAST(round(o_totalprice * 100) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END AS yr",
        )
        .groupBy("cust", "arm")
        .agg(
            F.sum("xr").cast("long").alias("x"),
            F.sum("yr").cast("long").alias("y"),
        )
    )
    arms = per_cust.groupBy("arm").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
    )
    tot = per_cust.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38))
        .cast(d38).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y").cast(d38))
        .cast(d38).alias("sxy"),
        F.sum(F.col("y").cast(d38) * F.col("y").cast(d38))
        .cast(d38).alias("syy"),
    )
    th = tot.selectExpr(
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(n * sxx - sx * sx AS DOUBLE) AS theta",
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x_all",
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " * CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (CAST(n * sxx - sx * sx AS DOUBLE)"
        "    * CAST(n * syy - sy * sy AS DOUBLE)) AS rho2",
    )
    a = arms.crossJoin(F.broadcast(th)).selectExpr(
        "arm",
        "CAST(n AS BIGINT) AS n_users",
        "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y",
        "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
        " - theta * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"
        "            - mean_x_all) AS mean_y_adj",
    )
    a1 = a.filter("arm = 1").selectExpr(
        "n_users AS n_treat", "mean_y AS y1", "mean_y_adj AS ya1"
    )
    a0 = a.filter("arm = 0").selectExpr(
        "n_users AS n_ctrl", "mean_y AS y0", "mean_y_adj AS ya0"
    )
    return (
        a1.crossJoin(F.broadcast(a0))
        .crossJoin(F.broadcast(th))
        .selectExpr(
            "n_treat",
            "n_ctrl",
            "CAST(round(theta * 1000000) AS BIGINT) AS theta_e6",
            "CAST(round((y1 - y0) * 1000000) AS BIGINT)"
            " AS lift_raw_cents_e6",
            "CAST(round((ya1 - ya0) * 1000000) AS BIGINT)"
            " AS lift_cuped_cents_e6",
            "CAST(round(rho2 * 1000000) AS BIGINT) AS var_reduction_e6",
        )
    )


# --------------------------------------------------------------------------
# Theil–Sen robust trend (round 9) — median-of-pairwise-slopes
# --------------------------------------------------------------------------
@query(
    "stats_theil_sen_trend",
    tier="T2",
    doc="Theil–Sen robust slope of daily order revenue per year: the "
    "median of all pairwise slopes (rev_j - rev_i)/(day_j - day_i) — "
    "29% breakdown point vs OLS's zero (stats_linear_regression is "
    "the OLS twin; one corrupted day there moves the fit, here it "
    "moves nothing). Exactness: revenue is cent-integers at the day "
    "grain, each slope is ONE truncating integer division "
    "(dy * 1e6 div dx — Spark `div` and DuckDB `//` both truncate "
    "toward zero, verified including negative dy), and the median of "
    "an integer multiset is a deterministic order statistic (lower "
    "median at rank (n+1) div 2), so both engines agree bit-for-bit "
    "with no float in sight. Scale shape: the pairwise stage is "
    "O(days^2) on the DAY-GRAIN aggregate — calendar-bounded "
    "(~365 days/year -> ~66k pairs/year) and INDEPENDENT of fact "
    "rows, so the self-join rides a broadcast of the tiny day table "
    "at any corpus size; the only data-sized pass is the first "
    "map-side-combined day aggregate. Packed bounds: |dy|*1e6 is "
    "int64-exact while daily revenue < ~9e12 cents (~3 orders of "
    "magnitude above sf1); past that, lift the slope scale to "
    "DECIMAL(38,0) as the covariance gates do.",
    oracle="""
    WITH d AS (
      SELECT year(o_orderdate) AS yr, dayofyear(o_orderdate) AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2
    ),
    p AS (
      SELECT a.yr, (b.rev_c - a.rev_c) * 1000000 // (b.x - a.x) AS slope_e6
      FROM d a JOIN d b ON a.yr = b.yr AND a.x < b.x
    ),
    r AS (
      SELECT yr, slope_e6,
             row_number() OVER (PARTITION BY yr ORDER BY slope_e6) AS rn,
             count(*) OVER (PARTITION BY yr) AS n_pairs
      FROM p
    )
    SELECT r.yr AS yr,
           CAST(nd.n_days AS BIGINT) AS n_days,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           CAST(r.slope_e6 AS BIGINT) AS theilsen_slope_e6
    FROM r
    JOIN (SELECT yr, count(*) AS n_days FROM d GROUP BY yr) nd
      ON nd.yr = r.yr
    WHERE r.rn = (r.n_pairs + 1) // 2
    ORDER BY yr
    """,
)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    d = (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.dayofyear("o_orderdate").alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_c")
        )
        # day grain feeds the pair join twice + the n_days agg; it is
        # calendar-bounded (~2.4k rows at ANY sf), hence the persist +
        # broadcast below stay valid at 100 TB.
        .persist()
    )
    a, b = d.alias("a"), d.alias("b")
    p = a.join(
        F.broadcast(b),
        (F.col("a.yr") == F.col("b.yr")) & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.yr").alias("yr"),
        F.expr("(b.rev_c - a.rev_c) * 1000000 div (b.x - a.x)").alias(
            "slope_e6"
        ),
    )
    w = Window.partitionBy("yr").orderBy("slope_e6")
    r = p.select(
        "yr",
        "slope_e6",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("yr")).alias("n_pairs"),
    ).filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
    nd = d.groupBy("yr").agg(F.count("*").cast("long").alias("n_days"))
    return (
        r.join(F.broadcast(nd), "yr")
        .select(
            "yr",
            "n_days",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope_e6").cast("long").alias("theilsen_slope_e6"),
        )
        .orderBy("yr")
    )


# --------------------------------------------------------------------------
# Wald–Wolfowitz runs test (round 9b) — randomness of a daily series
# --------------------------------------------------------------------------
@query(
    "stats_runs_test",
    tier="T2",
    doc="Wald–Wolfowitz runs test on the daily order-count series: is "
    "the sequence of above/below-median days random, or does demand "
    "cluster (trend/seasonality leave long runs; negative "
    "autocorrelation leaves too many short ones)? Complements "
    "stats_autocorr_lag1 (parametric, magnitude-sensitive) with the "
    "distribution-free sign-pattern view. Mechanics: lower median of "
    "daily counts (exact order statistic), days equal to the median "
    "dropped (the standard treatment), runs counted with one lag over "
    "the date order, then z = (R - E[R]) / sqrt(Var[R]) with "
    "E = 1 + 2*n1*n2/n and Var = 2*n1*n2*(2*n1*n2 - n) / (n^2*(n-1)) "
    "— every input to the float stage is an exact int64 (n1, n2, R), "
    "the formula is evaluated identically on both engines, and z "
    "rounds at 6 dp (continuous-value doctrine). Scale: every window "
    "here runs on the DAY GRAIN — calendar-bounded (~2.4k rows at any "
    "sf), so the single-partition sequence windows are control-plane "
    "sized by construction; the only data-sized pass is the "
    "map-side-combined daily count.",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS od, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT n AS med FROM (
        SELECT n, row_number() OVER (ORDER BY n) AS rn,
               count(*) OVER () AS nd
        FROM d
      ) WHERE rn = (nd + 1) // 2
    ),
    s AS (
      SELECT d.od, d.n > m.med AS above
      FROM d, m WHERE d.n != m.med
    ),
    r AS (
      SELECT above,
             CASE WHEN lag(above) OVER (ORDER BY od) IS NULL THEN 1
                  WHEN above != lag(above) OVER (ORDER BY od) THEN 1
                  ELSE 0 END AS brk
      FROM s
    ),
    agg AS (
      SELECT CAST(coalesce(sum(CASE WHEN above THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n1,
             CAST(coalesce(sum(CASE WHEN above THEN 0 ELSE 1 END), 0)
                  AS BIGINT) AS n2,
             CAST(coalesce(sum(brk), 0) AS BIGINT) AS n_runs
      FROM r
    )
    SELECT n1 AS n_above, n2 AS n_below, n1 + n2 AS n_used, n_runs,
           CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
           round((CAST(n_runs AS DOUBLE)
                  - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                        / (CAST(n1 + n2 AS DOUBLE)
                           * (n1 + n2) * (n1 + n2 - 1))), 6)
           END AS z_score
    FROM agg
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("od")).agg(
        F.count("*").cast("long").alias("n")
    )
    med = (
        d.select(
            "n",
            F.row_number().over(Window.orderBy("n")).alias("rn"),
            F.count("*").over(
                Window.partitionBy()
            ).alias("nd"),
        )
        .filter(F.col("rn") == F.expr("(nd + 1) div 2"))
        .select(F.col("n").alias("med"))
    )
    s = d.crossJoin(F.broadcast(med)).filter(F.col("n") != F.col("med"))
    s = s.select("od", (F.col("n") > F.col("med")).alias("above"))
    wseq = Window.orderBy("od")
    r = s.select(
        "above",
        F.when(F.lag("above").over(wseq).isNull(), 1)
        .when(F.col("above") != F.lag("above").over(wseq), 1)
        .otherwise(0)
        .alias("brk"),
    )
    agg = r.agg(
        F.coalesce(
            F.sum(F.when(F.col("above"), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n1"),
        F.coalesce(
            F.sum(F.when(F.col("above"), 0).otherwise(1)), F.lit(0)
        )
        .cast("long")
        .alias("n2"),
        F.coalesce(F.sum("brk"), F.lit(0)).cast("long").alias("n_runs"),
    )
    # z is undefined when either sign class is empty (a constant or
    # one-sided series) — emit NULL explicitly rather than relying on
    # engine-specific 0/0 behavior.
    z_defined = (F.col("n1") > 0) & (F.col("n2") > 0)
    return agg.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        (F.col("n1") + F.col("n2")).cast("long").alias("n_used"),
        "n_runs",
        F.when(~z_defined, F.lit(None).cast("double")).otherwise(F.round(
            (
                F.col("n_runs").cast("double")
                - (
                    F.lit(1.0)
                    + F.lit(2.0)
                    * F.col("n1")
                    * F.col("n2")
                    / (F.col("n1") + F.col("n2"))
                )
            )
            / F.sqrt(
                F.lit(2.0)
                * F.col("n1")
                * F.col("n2")
                * (
                    F.lit(2.0) * F.col("n1") * F.col("n2")
                    - (F.col("n1") + F.col("n2"))
                )
                / (
                    (F.col("n1") + F.col("n2")).cast("double")
                    * (F.col("n1") + F.col("n2"))
                    * (F.col("n1") + F.col("n2") - 1)
                )
            ),
            6,
        )).alias("z_score"),
    )


# --------------------------------------------------------------------------
# Rank correlations (round 9b): Spearman rho and Kendall tau-b
# --------------------------------------------------------------------------
@query(
    "stats_spearman_rank_corr",
    tier="T2",
    doc="Spearman rank correlation between daily order COUNT and daily "
    "revenue — the monotonic-association twin of stats_corr_qty_price "
    "(Pearson measures linearity; Spearman survives any monotone "
    "transform and is outlier-robust). Tie handling is the textbook "
    "average rank, kept EXACT by working in doubled ranks: avg rank "
    "of a tie block = min_rank + (cnt-1)/2, so 2*avg = 2*rank() + "
    "count(*)-over-value - 1 is always an integer. rho is then the "
    "Pearson of the doubled ranks — numerator and both variance terms "
    "are exact int64 sufficient statistics (day grain: n ~ 2.4k, "
    "sums < 2^47), one final float division rounded at 6 dp. Scale: "
    "the only data-sized pass is the daily aggregate; ranking windows "
    "run on the CALENDAR-BOUNDED day grain.",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS od,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT 2 * rank() OVER (ORDER BY n)
               + count(*) OVER (PARTITION BY n) - 1 AS rx,
             2 * rank() OVER (ORDER BY rev_c)
               + count(*) OVER (PARTITION BY rev_c) - 1 AS ry
      FROM d
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * rx) AS BIGINT) AS sxx,
             CAST(sum(ry * ry) AS BIGINT) AS syy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy
      FROM r
    )
    SELECT nd AS n_days,
           CASE WHEN (nd * sxx - sx * sx) > 0 AND (nd * syy - sy * sy) > 0
                THEN round((CAST(nd * sxy - sx * sy AS DOUBLE))
                           / sqrt(CAST(nd * sxx - sx * sx AS DOUBLE)
                                  * CAST(nd * syy - sy * sy AS DOUBLE)), 6)
                ELSE NULL END
             AS spearman_rho
    FROM s
    """,
)
def stats_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("od")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_c"),
    )
    rx = (
        F.lit(2) * F.rank().over(Window.orderBy("n"))
        + F.count("*").over(Window.partitionBy("n"))
        - 1
    ).cast("long")
    ry = (
        F.lit(2) * F.rank().over(Window.orderBy("rev_c"))
        + F.count("*").over(Window.partitionBy("rev_c"))
        - 1
    ).cast("long")
    r = d.select(rx.alias("rx"), ry.alias("ry"))
    s = r.agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
    )
    # Degenerate guard (ADVICE r9): an all-tied series has zero rank
    # variance, making the denominator 0 — ANSI Spark would raise
    # DIVIDE_BY_ZERO where the oracle's CASE yields NULL. Mirror the
    # z_defined pattern of stats_runs_test.
    var_x = F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy")
    rho_defined = (var_x > 0) & (var_y > 0)
    return s.select(
        F.col("nd").alias("n_days"),
        F.when(~rho_defined, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double")
                / F.sqrt(var_x.cast("double") * var_y.cast("double")),
                6,
            )
        )
        .alias("spearman_rho"),
    )


@query(
    "stats_kendall_tau",
    tier="T2",
    doc="Kendall tau-b between daily order count and daily revenue: "
    "concordant minus discordant pairs over the tie-corrected "
    "geometric mean, the third classical correlation (Pearson = "
    "linearity, Spearman = monotonicity via ranks, Kendall = pairwise "
    "order agreement with the cleanest tie theory and ~normal null "
    "already at small n). C, D and the tie terms are exact int64 "
    "counts; only the final ratio is float (6 dp). The O(days^2) "
    "pair stage is CALENDAR-BOUNDED (~2.9M pairs at any sf — same "
    "broadcast self-join doctrine as stats_theil_sen_trend); the "
    "only data-sized pass is the daily aggregate.",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS od,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT CASE WHEN (a.n < b.n AND a.rev_c < b.rev_c)
                    OR (a.n > b.n AND a.rev_c > b.rev_c) THEN 1 ELSE 0
             END AS conc,
             CASE WHEN (a.n < b.n AND a.rev_c > b.rev_c)
                    OR (a.n > b.n AND a.rev_c < b.rev_c) THEN 1 ELSE 0
             END AS disc,
             CASE WHEN a.n = b.n THEN 1 ELSE 0 END AS tie_x,
             CASE WHEN a.rev_c = b.rev_c THEN 1 ELSE 0 END AS tie_y
      FROM d a JOIN d b ON a.od < b.od
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(conc) AS BIGINT) AS c,
             CAST(sum(disc) AS BIGINT) AS dd,
             CAST(sum(tie_x) AS BIGINT) AS n1,
             CAST(sum(tie_y) AS BIGINT) AS n2
      FROM p
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
    SELECT nd.n_days, s.n0 AS n_pairs, s.c AS n_concordant,
           s.dd AS n_discordant,
           CASE WHEN (s.n0 - s.n1) > 0 AND (s.n0 - s.n2) > 0
                THEN round(CAST(s.c - s.dd AS DOUBLE)
                           / sqrt(CAST(s.n0 - s.n1 AS DOUBLE)
                                  * CAST(s.n0 - s.n2 AS DOUBLE)), 6)
                ELSE NULL END AS kendall_tau_b
    FROM s, nd
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = (
        o.groupBy(F.to_date("o_orderdate").alias("od"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_c"),
        )
        # day grain feeds the pair join twice + the count — calendar-
        # bounded, so persist + broadcast stay valid at any sf.
        .persist()
    )
    a, b = d.alias("a"), d.alias("b")
    p = a.join(F.broadcast(b), F.col("a.od") < F.col("b.od")).select(
        F.when(
            ((F.col("a.n") < F.col("b.n")) & (F.col("a.rev_c") < F.col("b.rev_c")))
            | ((F.col("a.n") > F.col("b.n")) & (F.col("a.rev_c") > F.col("b.rev_c"))),
            1,
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            ((F.col("a.n") < F.col("b.n")) & (F.col("a.rev_c") > F.col("b.rev_c")))
            | ((F.col("a.n") > F.col("b.n")) & (F.col("a.rev_c") < F.col("b.rev_c"))),
            1,
        )
        .otherwise(0)
        .alias("disc"),
        F.when(F.col("a.n") == F.col("b.n"), 1).otherwise(0).alias("tie_x"),
        F.when(F.col("a.rev_c") == F.col("b.rev_c"), 1)
        .otherwise(0)
        .alias("tie_y"),
    )
    s = p.agg(
        F.count("*").cast("long").alias("n0"),
        F.sum("conc").cast("long").alias("c"),
        F.sum("disc").cast("long").alias("dd"),
        F.sum("tie_x").cast("long").alias("n1"),
        F.sum("tie_y").cast("long").alias("n2"),
    )
    nd = d.agg(F.count("*").cast("long").alias("n_days"))
    # Degenerate guard (ADVICE r9): if either series is fully tied,
    # n0 == n1 (or n2) and tau-b's denominator is 0; the oracle's CASE
    # returns NULL, so the Spark side must too (ANSI would throw).
    tau_defined = (F.col("n0") > F.col("n1")) & (F.col("n0") > F.col("n2"))
    return s.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("n_concordant"),
        F.col("dd").alias("n_discordant"),
        F.when(~tau_defined, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("c") - F.col("dd")).cast("double")
                / F.sqrt(
                    (F.col("n0") - F.col("n1")).cast("double")
                    * (F.col("n0") - F.col("n2")).cast("double")
                ),
                6,
            )
        )
        .alias("kendall_tau_b"),
    )


# --------------------------------------------------------------------------
# Hodges–Lehmann location estimator (round 10) — median of Walsh averages
# --------------------------------------------------------------------------
@query(
    "stats_hodges_lehmann",
    tier="T2",
    doc="Hodges–Lehmann robust location of daily order revenue: the "
    "median of all Walsh averages (rev_i + rev_j)/2 over day pairs "
    "i <= j — the estimator dual to the Wilcoxon signed-rank test, "
    "~29% breakdown like the median but ~0.96 asymptotic efficiency "
    "vs the mean under normality (the mean's robust replacement the "
    "way Theil–Sen replaces OLS slope; stats_theil_sen_trend is the "
    "slope twin). Exactness: Walsh sums are kept at 2x scale "
    "(rev_i + rev_j, exact int64 cents), the median is the lower "
    "order statistic at rank (n+1) div 2 of an integer multiset, and "
    "the /2 happens once at the end as a truncating integer division "
    "— bit-for-bit across engines, no floats. Scale shape: the pair "
    "stage is O(days^2) on the CALENDAR-BOUNDED day grain (~2.9M "
    "Walsh sums over the full ~2.4k-day calendar — CONSTANT in sf, "
    "independent of fact rows) riding a broadcast self-join; the "
    "global median window sorts those 2.9M int64s on one reducer, a "
    "bounded control-plane cost that never grows with the corpus; "
    "the only data-sized pass is the map-side-combined day "
    "aggregate. Doctrine note (ADVICE r10): if the grain ever widens "
    "past the calendar bound (hourly/minute grain => pair count no "
    "longer control-plane sized), switch the median selection to the "
    "two-phase distributed rank in operators/prefix.py, the "
    "stats_equidepth_histogram pattern — the one-reducer sort is "
    "acceptable ONLY because the Walsh multiset is calendar-bounded.",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS od,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT a.rev_c + b.rev_c AS walsh_x2
      FROM d a JOIN d b ON a.od <= b.od
    ),
    r AS (
      SELECT walsh_x2,
             row_number() OVER (ORDER BY walsh_x2) AS rn,
             count(*) OVER () AS n_walsh
      FROM w
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
    SELECT nd.n_days,
           CAST(r.n_walsh AS BIGINT) AS n_walsh,
           CAST(r.walsh_x2 AS BIGINT) AS hl_cents_x2,
           CAST(r.walsh_x2 // 2 AS BIGINT) AS hl_cents
    FROM r, nd
    WHERE r.rn = (r.n_walsh + 1) // 2
    """,
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    d = (
        o.groupBy(F.to_date("o_orderdate").alias("od"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_c")
        )
        # calendar-bounded day grain: feeds the pair join twice + the
        # n_days agg — persist + broadcast stay valid at any sf.
        .persist()
    )
    a, b = d.alias("a"), d.alias("b")
    w = a.join(
        F.broadcast(b), F.col("a.od") <= F.col("b.od")
    ).select((F.col("a.rev_c") + F.col("b.rev_c")).alias("walsh_x2"))
    r = w.select(
        "walsh_x2",
        F.row_number().over(Window.orderBy("walsh_x2")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n_walsh"),
    ).filter(F.col("rn") == F.expr("(n_walsh + 1) div 2"))
    nd = d.agg(F.count("*").cast("long").alias("n_days"))
    return r.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("n_walsh").cast("long").alias("n_walsh"),
        F.col("walsh_x2").cast("long").alias("hl_cents_x2"),
        F.expr("walsh_x2 div 2").cast("long").alias("hl_cents"),
    )
