"""Warehouse maintenance: incremental mart refresh and small-file
compaction.

Reference analogue: `load_warehouse.py` rebuilds its warehouse tables
from scratch on every run (truncate + reload) — affordable at 511-LoC
scale, impossible at 100 TB. These are the two maintenance operators a
big warehouse runs instead:

* **Incremental mart refresh** — store per-(partition-key, grain)
  PARTIAL aggregates partitioned on the partition key; when a new
  day's data lands, recompute ONLY that day's partial (Spark's dynamic
  partition overwrite rewrites just the touched directory) and rebuild
  the serving mart by re-aggregating partials. History is never
  rescanned; the mart rebuild reads #days × #grains tiny rows. The
  catalog query `mart_incremental_merge` (plans/marts.py) gates the
  algebra (merge == recompute) against DuckDB; the test here gates the
  refresh mechanics (untouched partitions bit-identical on disk).
* **Small-file compaction** — streaming sinks and per-day incremental
  loads accrete many small files; scans then pay per-file open cost
  and lose row-group locality. Compaction rewrites a directory into
  ceil(rows / target)-sized files. At 100 TB this runs per-partition
  (compact yesterday's directory into a staging directory, then
  rename it into place).

Only count/sum/min/max partials are stored — the exactly-mergeable
algebra. COUNT(DISTINCT) does not merge; use sketches
(approx_count_distinct) or keep keys till the final grain.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents
from ..session import configure_runtime

#: Partition column of the partials table (also the refresh unit).
DAY_COL = "day"


def event_day_partials(events: DataFrame) -> DataFrame:
    """Per-(day, event_type) mergeable partial aggregates."""
    return (
        events.withColumn(DAY_COL, F.date_format("ts", "yyyy-MM-dd"))
        .groupBy(DAY_COL, "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(cents("value")).cast("long").alias("value_c"),
            F.min("user_id").cast("long").alias("min_user"),
            F.max("user_id").cast("long").alias("max_user"),
        )
    )


def refresh_partials(
    events: DataFrame, partials_dir: str, days: list[str] | None = None
) -> None:
    """Write/refresh the partials table, partitioned by day.

    With `days`, only those days' events are aggregated and — via
    dynamic partition overwrite — only those `day=...` directories are
    rewritten; every other partition's files are untouched on disk
    (asserted by inode in tests/test_maintenance.py). That is the
    incremental path: the daily refresh costs O(|new day|) regardless
    of history size.
    """
    spark = events.sparkSession
    configure_runtime(spark)
    part = event_day_partials(events)
    if days is not None:
        part = part.filter(F.col(DAY_COL).isin(days))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        part.write.mode("overwrite").partitionBy(DAY_COL).parquet(partials_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def merge_mart(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Rebuild the event_type serving mart from stored partials.

    Reads #days × #event_types tiny rows — never the raw events. Must
    equal the flat recompute (`mart_incremental_merge`'s oracle) for
    any refresh history; tests drive a day-at-a-time replay.
    """
    configure_runtime(spark)
    # Partition-column type inference reads `day=2024-01-01` back as
    # DATE; normalize to the yyyy-MM-dd string grain the partials wrote.
    p = spark.read.parquet(partials_dir).withColumn(
        DAY_COL, F.date_format(DAY_COL, "yyyy-MM-dd")
    )
    return (
        p.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            (F.sum("value_c").cast("long") / 100.0).alias("total_value"),
            F.count("*").cast("long").alias("n_days"),
            F.min(DAY_COL).alias("first_day"),
            F.max(DAY_COL).alias("last_day"),
            F.min("min_user").cast("long").alias("min_user"),
            F.max("max_user").cast("long").alias("max_user"),
        )
        .orderBy("event_type")
    )


def compact_directory(
    spark: SparkSession, data_dir: str, target_rows_per_file: int
) -> tuple[int, int]:
    """Rewrite a parquet directory into ~ceil(rows/target) files.

    Returns (files_before, files_after). Write goes to a staging dir,
    then two renames swap it in, so readers never see a half-written
    file set; between the two renames the directory is briefly absent.
    The repartition count is computed from an exact count: at scale
    you'd size by bytes (`spark.sql.files.maxRecordsPerFile` /
    target file size) per partition directory instead of globally.
    """
    configure_runtime(spark)

    def _n_files(d: str) -> int:
        return sum(
            1
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith("_")
        )

    before = _n_files(data_dir)
    df = spark.read.parquet(data_dir)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    staging = f"{data_dir}_compact_{uuid.uuid4().hex[:8]}"
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    old = f"{data_dir}_old_{uuid.uuid4().hex[:8]}"
    os.rename(data_dir, old)
    os.rename(staging, data_dir)
    shutil.rmtree(old)
    return before, _n_files(data_dir)


def cluster_by_range(
    df: DataFrame, out_dir: str, cluster_col: str, n_files: int
) -> None:
    """Write `df` range-clustered on `cluster_col`: repartitionByRange
    splits the key space into contiguous slices (one per output file)
    and sortWithinPartitions orders rows inside each — so every file
    covers a DISJOINT key range and its parquet column min/max
    statistics become selective.

    This is the data-layout half of predicate pushdown: a reader with
    `cluster_col BETWEEN a AND b` skips every file (and, within files,
    every row group) whose stats exclude the range — at 100 TB the
    difference between touching 2% of files and all of them. The
    single-column form is 'Z-order lite'; multi-dimensional clustering
    interleaves several keys but the write shape (range partition +
    local sort) is identical. Tests assert disjointness and actual
    file-level skipping from the written parquet footers.

    Range boundaries come from Spark's built-in reservoir sampling of
    the key column (the same mechanism as a global orderBy), so skew in
    `cluster_col` yields balanced files, not equal-width key slices.
    """
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


Z_BITS = 16  # per-dimension resolution of the z-curve


def zorder_value(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Add a `zvalue` column: the Morton (Z-order) interleave of the
    two columns' range-normalized 16-bit ranks.

    Single-column range clustering gives perfect skipping on ONE
    dimension and none on any other; the z-curve trades that for
    PARTIAL locality on both — rows close in (a, b) space land close
    on the curve, so after range-clustering on zvalue every file's
    footer min/max is selective for predicates on EITHER column. This
    is 'Z-order lite' (linear min-max normalization from one tiny agg,
    fine for roughly uniform keys); skewed dimensions want quantile
    ranks from approx_percentile, same interleave after.

    The interleave is pure JVM bit arithmetic (an unrolled 16-term
    shift-or expression) — no UDF, stays inside codegen.
    """
    stats = df.agg(
        F.min(col_a).cast("double").alias("a_lo"),
        F.max(col_a).cast("double").alias("a_hi"),
        F.min(col_b).cast("double").alias("b_lo"),
        F.max(col_b).cast("double").alias("b_hi"),
    )
    max_rank = (1 << Z_BITS) - 1
    norm = (
        "CAST(round(({c} - {lo}) / greatest({hi} - {lo}, 1e-12) * {m}) AS BIGINT)"
    )
    a_rank = norm.format(c=col_a, lo="a_lo", hi="a_hi", m=max_rank)
    b_rank = norm.format(c=col_b, lo="b_lo", hi="b_hi", m=max_rank)
    interleave = " | ".join(
        f"(shiftleft(shiftright(_za, {i}) & 1, {2 * i + 1}) | "
        f"shiftleft(shiftright(_zb, {i}) & 1, {2 * i}))"
        for i in range(Z_BITS)
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("_za", F.expr(a_rank))
        .withColumn("_zb", F.expr(b_rank))
        .withColumn("zvalue", F.expr(interleave))
        .drop("a_lo", "a_hi", "b_lo", "b_hi", "_za", "_zb")
    )


def cluster_by_zorder(
    df: DataFrame, out_dir: str, col_a: str, col_b: str, n_files: int
) -> None:
    """Write `df` clustered on the z-curve of (col_a, col_b): files
    cover compact rectangles of the 2-D key space, so footer min/max
    stats skip files for range predicates on EITHER column — the
    multi-dimensional counterpart of cluster_by_range, same
    range-partition + local-sort write shape."""
    z = zorder_value(df, col_a, col_b)
    (
        z.repartitionByRange(n_files, F.col("zvalue"))
        .sortWithinPartitions("zvalue")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
