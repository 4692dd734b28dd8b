"""Distributed prefix sums over totally-ordered series.

The catalog's cumulative queries (mart_cumulative_users, the ABC
cumsum, the KS value CDF) run an unpartitioned window over a
PRE-AGGREGATED series — fine while the series is one day/value per
row, documented as such in each query. This module is the
generalization those docstrings promise: a running total over a
series too large for one partition, without ever putting the whole
order on one core.

Two-phase algorithm (the textbook parallel scan, e.g. Blelloch):

1. Range-partition the rows by the total order (one RangePartitioning
   exchange — the same shuffle a global window would need anyway),
   then compute each partition's LOCAL running sum with a window
   partitioned by the physical partition id: every partition scans
   its own rows once, in parallel.
2. Aggregate one total per partition (num_partitions rows — control
   plane), prefix-sum THOSE on the driver, and broadcast-join the
   per-partition offsets back: final = local running sum + offset of
   all earlier partitions.

Cost: one range exchange + one partition-local window + one
broadcast join of `num_partitions` rows. A single-partition window
costs the same exchange but then serializes the entire scan onto one
task — the difference IS the 100 TB story.

Determinism: `spark_partition_id()` is stable here because
repartitionByRange assigns ascending key ranges to ascending
partition ids, and the order key must be made UNIQUE by the caller
(tiebreak column) so range boundaries cannot split equal keys
nondeterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def distributed_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | list[str],
    out_col: str | list[str] = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running sum(s) of `value_col` over the `order_cols` total
    order, computed with the two-phase parallel scan above.

    `order_cols` must be a UNIQUE key (include a tiebreaker). The
    value columns must be NON-NULL (NULL mass has no defined place in
    a running total — coalesce upstream) and should be an integer type
    for cross-engine exactness (catalog doctrine: float running sums
    are fold-order-dependent). Values of ANY SIGN are supported.

    `value_col`/`out_col` accept parallel LISTS to compute several
    running sums in ONE scan: the window expressions share a single
    Window node (same spec), the per-partition totals collect carries
    one column per value, and one broadcast offsets join finishes all
    of them — k running sums for the price of one range exchange.
    (A row-index column is the common second member: cumsum of a
    literal 1.)
    """
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vcols) != len(ocols):
        raise ValueError("value_col and out_col lists must align")
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn("_pid", F.spark_partition_id())
    for i, v in enumerate(vcols):
        local = local.withColumn(f"_local{i}", F.sum(v).over(w))
    # Persist BEFORE the totals collect: the returned frame reuses the
    # same materialized partitioning, so the offsets provably describe
    # the rows they are joined back to (range-boundary sampling is
    # deterministic, but the cache makes it airtight and saves a
    # second scan). Session owner clears the cache (catalog contract).
    local = local.persist()
    # Control plane: one row per partition; prefix-summed on the
    # driver (n values), re-enters the plan as a broadcast join.
    totals = sorted(
        local.groupBy("_pid")
        # Coalesce: SUM over an all-NULL slice is SQL-NULL and would
        # TypeError the integer fold below; zero mass is the only
        # coherent reading (value columns are contractually non-null).
        .agg(*[
            F.coalesce(F.sum(v), F.lit(0)).alias(f"_t{i}")
            for i, v in enumerate(vcols)
        ])
        .collect(),
        key=lambda r: r["_pid"],
    )
    offsets, acc = [], [0] * len(vcols)
    for r in totals:
        offsets.append((r["_pid"], *acc))
        acc = [a + r[f"_t{i}"] for i, a in enumerate(acc)]
    off_schema = "_pid int, " + ", ".join(
        f"_offset{i} long" for i in range(len(vcols))
    )
    off_df = spark.createDataFrame(offsets, off_schema)
    out = local.join(F.broadcast(off_df), "_pid")
    drop = ["_pid"]
    for i, oc in enumerate(ocols):
        out = out.withColumn(
            oc, (F.col(f"_local{i}") + F.col(f"_offset{i}")).cast("long")
        )
        drop += [f"_local{i}", f"_offset{i}"]
    return out.drop(*drop)


def distributed_running_max_exclusive(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_max_excl",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE running max over the `order_cols` total order — each
    row gets max(value) over all STRICTLY EARLIER rows (NULL for the
    global first row), without a single-partition window.

    Same two-phase shape as distributed_cumsum (max is a monoid like
    sum, so the Blelloch scan applies verbatim):

    1. Range-partition by the total order; per partition, a window
       rowsBetween(unboundedPreceding, -1) computes the LOCAL
       exclusive running max in parallel.
    2. One row per partition (its INCLUSIVE max) collects to the
       driver; the prefix-max of all EARLIER partitions broadcasts
       back as the partition's offset; final = greatest(local, offset)
       — greatest() ignores NULLs, so the first partition (no offset)
       and each partition's first row (no local prefix) fall out
       naturally, and values of any sign work (no -infinity sentinel).

    `order_cols` must be a UNIQUE key (tiebreaker included), same
    contract as distributed_cumsum. The skyline query is the canonical
    consumer: sorted by dominance dimension 1, a point is dominated
    iff this exclusive running max of dimension 2 reaches its own
    value.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn("_local", F.max(value_col).over(w))
        .persist()  # same materialize-before-collect doctrine as above
    )
    totals = sorted(
        local.groupBy("_pid").agg(F.max(value_col).alias("_t")).collect(),
        key=lambda r: r["_pid"],
    )
    offsets, acc = [], None
    for r in totals:
        offsets.append((r["_pid"], acc))
        acc = r["_t"] if acc is None else max(acc, r["_t"])
    vtype = df.schema[value_col].dataType.simpleString()
    off_df = spark.createDataFrame(offsets, f"_pid int, _offset {vtype}")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.greatest("_local", "_offset"))
        .drop("_pid", "_local", "_offset")
    )


def distributed_cumsum_small_groups(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Per-group running sum for a SMALL group domain, fully fused.

    A general grouped scan (any number of groups) would pay a second
    scan of the input for the group totals, a #groups-row window, and
    TWO joins back. When the group domain is control-plane bounded
    (≤ ~1e3 groups — return flags, statuses, buckets), everything the
    correction needs can ride the ONE per-partition totals collect:

    1. Range-partition by (group, order) — groups are then contiguous
       in the global order — and window-scan each partition locally
       (identical phase 1 to distributed_cumsum).
    2. Collect per-(partition, group) sufficient statistics — total
       mass `t` AND the mass strictly before the group's first row in
       that partition (`min_by(local − value, order_key)`: the local
       prefix EXCLUDING the row, read at the group's first row by the
       order key — sign-independent, so negative values are fine).
       n_partitions × n_groups rows: control plane.
    3. On the driver derive, per (pid, group): partition offset
       (prefix over pids), group start offset (partition offset of the
       group's FIRST pid + in-partition mass before it — no semantic
       ordering of group values needed, so any orderable Spark type
       works), and the group total. Broadcast ONE frame keyed
       (pid, group) carrying `adjust = pid_offset − group_offset` and
       the total; one broadcast join finishes.

    Cost: one range exchange + one partition-local window + one
    control-plane collect + one broadcast join — strictly less than
    the general grouped scan (which adds an input persist, a totals
    shuffle, and a second join). `group_cols + order_cols` must be a
    UNIQUE key and `value_col` must be NON-NULL (same contracts as
    distributed_cumsum; NULL mass has no defined place in a running
    total — coalesce upstream).
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    keys = group_cols + order_cols
    ranged = df.repartitionByRange(n, *[F.col(c) for c in keys])
    local = ranged.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_local",
        F.sum(value_col).over(
            Window.partitionBy("_pid")
            .orderBy(*keys)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # Persist before the collect so the broadcast-joined offsets
    # describe exactly the materialized partitioning (and the scan
    # runs once). Session owner clears the cache (catalog contract).
    local = local.persist()
    # `_before` = local prefix EXCLUDING the row, read at the group's
    # FIRST row (min_by on the order key) — NOT min() of the expression,
    # which only coincides with the first row when values are
    # non-negative. min_by keeps the stat correct for any sign.
    # `_t` coalesced: SUM over an all-NULL slice is SQL-NULL, which
    # would TypeError the driver-side integer fold — zero mass is the
    # only coherent reading (value_col is contractually non-null).
    stats = local.groupBy("_pid", *group_cols).agg(
        F.coalesce(F.sum(value_col), F.lit(0)).alias("_t"),
        F.min_by(
            F.col("_local") - F.col(value_col),
            F.struct(*[F.col(c) for c in order_cols]),
        ).alias("_before"),
    ).collect()
    stats.sort(key=lambda r: r["_pid"])
    # Partition offsets: mass of all earlier partitions.
    pid_total: dict[int, int] = {}
    for r in stats:
        pid_total[r["_pid"]] = pid_total.get(r["_pid"], 0) + r["_t"]
    pid_offset: dict[int, int] = {}
    acc = 0
    for pid in sorted(pid_total):
        pid_offset[pid] = acc
        acc += pid_total[pid]
    # Group start offsets + totals — derived from each group's FIRST
    # partition (min pid), so group values never need driver-side
    # ordering semantics.
    gkey = lambda r: tuple(r[c] for c in group_cols)  # noqa: E731
    g_start: dict[tuple, int] = {}
    g_total: dict[tuple, int] = {}
    for r in stats:  # pid-ascending
        g = gkey(r)
        if g not in g_start:
            g_start[g] = pid_offset[r["_pid"]] + r["_before"]
        g_total[g] = g_total.get(g, 0) + r["_t"]
    rows = [
        (r["_pid"], *gkey(r), pid_offset[r["_pid"]] - g_start[gkey(r)],
         g_total[gkey(r)])
        for r in stats
    ]
    schema = df.select(
        F.lit(0).cast("int").alias("_pid"),
        *group_cols,
        F.lit(0).cast("long").alias("_adjust"),
        F.lit(0).cast("long").alias("_gt"),
    ).schema
    adj = spark.createDataFrame(rows, schema)
    out = (
        local.join(F.broadcast(adj), ["_pid", *group_cols])
        .withColumn(out_col, (F.col("_local") + F.col("_adjust")).cast("long"))
        .drop("_pid", "_local", "_adjust")
    )
    if total_col is not None:
        return out.withColumnRenamed("_gt", total_col)
    return out.drop("_gt")
