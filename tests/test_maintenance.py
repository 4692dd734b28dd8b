"""Incremental mart refresh + compaction mechanics
(warehouse/maintenance.py).

The catalog query `mart_incremental_merge` gates the partial-merge
ALGEBRA against DuckDB; these tests gate the refresh MECHANICS: a new
day's refresh rewrites only its own partition directory (asserted by
inode — the 100 TB property), a day-at-a-time replay converges to the
flat recompute, and compaction changes file layout but not content.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_warehouse_opensky_spark.sources import load_table
from data_warehouse_opensky_spark.warehouse.maintenance import (
    DAY_COL,
    compact_directory,
    event_day_partials,
    merge_mart,
    refresh_partials,
)

SF_DIR = "/root/testdata/sf0.001"


def _inodes(partials_dir: str, day: str) -> dict[str, int]:
    d = f"{partials_dir}/{DAY_COL}={day}"
    return {
        f: os.stat(os.path.join(d, f)).st_ino
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def _flat_recompute(events):
    return (
        events.withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("long") / 100.0
             ).alias("total_value"),
            F.countDistinct("d").cast("long").alias("n_days"),
            F.min("d").alias("first_day"),
            F.max("d").alias("last_day"),
            F.min("user_id").cast("long").alias("min_user"),
            F.max("user_id").cast("long").alias("max_user"),
        )
        .orderBy("event_type")
    )


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_DIR, "events")


def test_incremental_refresh_touches_only_new_day(spark, events, tmp_path):
    pdir = str(tmp_path / "partials")
    days = sorted(
        r[0]
        for r in events.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d")
        ).distinct().collect()
    )
    assert len(days) >= 3, "need several days of events for the scenario"
    last = days[-1]
    history = events.filter(F.date_format("ts", "yyyy-MM-dd") != last)

    # Day 0..N-1 already loaded.
    refresh_partials(history, pdir)
    frozen = {d: _inodes(pdir, d) for d in days[:-1]}

    # The new day lands: refresh ONLY that day.
    refresh_partials(events, pdir, days=[last])

    # Mechanics: every prior day's partition files are bit-the-same
    # inodes — dynamic partition overwrite never rewrote them.
    for d in days[:-1]:
        assert _inodes(pdir, d) == frozen[d], f"partition {d} was rewritten"
    assert os.path.isdir(f"{pdir}/{DAY_COL}={last}")

    # Algebra: mart from partials == flat recompute over raw events.
    got = merge_mart(spark, pdir).collect()
    want = _flat_recompute(events).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_refresh_day_replay_converges(spark, events, tmp_path):
    """Loading day-by-day (the steady-state pipeline) ends at the same
    mart as loading everything at once."""
    pdir = str(tmp_path / "partials")
    days = sorted(
        r[0]
        for r in events.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d")
        ).distinct().collect()
    )
    first = True
    for d in days:
        if first:
            # bootstrap write must create the table even for one day
            refresh_partials(
                events.filter(F.date_format("ts", "yyyy-MM-dd") == d), pdir
            )
            first = False
        else:
            refresh_partials(events, pdir, days=[d])
    got = merge_mart(spark, pdir).collect()
    want = _flat_recompute(events).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_compact_directory_preserves_content(spark, events, tmp_path):
    ddir = str(tmp_path / "scattered")
    events.repartition(16).write.parquet(ddir)
    n = events.count()

    before, after = compact_directory(spark, ddir, target_rows_per_file=(n + 1) // 2)
    assert before == 16
    assert after == 2

    back = spark.read.parquet(ddir)
    assert back.count() == n
    # content identical (order-insensitive): same per-type counts + sums
    a = sorted(map(tuple, event_day_partials(back).collect()))
    b = sorted(map(tuple, event_day_partials(events).collect()))
    assert a == b


def test_cluster_by_range_enables_file_skipping(spark, events, tmp_path):
    """Range clustering must produce files with DISJOINT key ranges in
    their parquet footers, so a key-range predicate touches a strict
    subset of files — the data-skipping property, asserted from the
    actual written statistics rather than the plan."""
    import pyarrow.parquet as pq

    from data_warehouse_opensky_spark.warehouse.maintenance import cluster_by_range

    out = str(tmp_path / "clustered")
    cluster_by_range(events, out, "user_id", n_files=8)

    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(files) == 8
    ranges = []
    for path in files:
        md = pq.ParquetFile(path).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "user_id"
        )
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            los.append(st.min)
            his.append(st.max)
        ranges.append((min(los), max(his)))
    ranges.sort()
    # Disjoint: every file's min is past the previous file's max.
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, ranges
    # Skipping: a predicate covering ~1/5 of the key space must exclude
    # most files on stats alone.
    lo_k, hi_k = ranges[0][0], ranges[-1][1]
    a, b = lo_k, lo_k + (hi_k - lo_k) // 5
    touched = [r for r in ranges if not (r[1] < a or r[0] > b)]
    assert len(touched) < len(files) // 2, (ranges, (a, b))
    # Content preserved.
    back = spark.read.parquet(out)
    assert back.count() == events.count()


def test_cluster_by_zorder_skips_on_both_dimensions(spark, tmp_path):
    """Z-order clustering must yield footer stats selective on BOTH
    dimensions: for a range predicate on either column, the set of
    files whose [min,max] intersects the predicate is a strict subset
    — the property single-column range clustering can only give one
    column."""
    import pyarrow.parquet as pq

    from data_warehouse_opensky_spark.warehouse.maintenance import cluster_by_zorder

    n = 4096
    grid = spark.range(n).selectExpr(
        "CAST(id % 64 AS BIGINT) AS x", "CAST(id DIV 64 AS BIGINT) AS y"
    )
    out = str(tmp_path / "zordered")
    cluster_by_zorder(grid, out, "x", "y", n_files=16)

    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(files) == 16

    def col_ranges(col):
        out_r = []
        for path in files:
            md = pq.ParquetFile(path).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            los, his = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                los.append(st.min); his.append(st.max)
            out_r.append((min(los), max(his)))
        return out_r

    for col in ("x", "y"):
        ranges = col_ranges(col)
        lo_k = min(r[0] for r in ranges); hi_k = max(r[1] for r in ranges)
        a, b = lo_k, lo_k + (hi_k - lo_k) // 4  # bottom quarter of the key space
        touched = [r for r in ranges if not (r[1] < a or r[0] > b)]
        assert len(touched) <= len(files) * 3 // 4, (col, ranges)

    back = spark.read.parquet(out)
    assert back.count() == n
    assert {tuple(r) for r in back.select("x", "y").collect()} == {
        (i % 64, i // 64) for i in range(n)
    }


# ---------------------------------------------------------------------------
# Control-table event-log compaction (warehouse/control.py, VERDICT r10 #3)
# ---------------------------------------------------------------------------


def _current_rows(log):
    return {
        tuple(r)
        for r in log.current()
        .select("file_name", "status", "row_count", "error_message")
        .collect()
    }


def test_file_log_compact_preserves_current_and_shrinks(spark, tmp_path):
    from data_warehouse_opensky_spark.warehouse.control import FileLog

    log = FileLog(spark, str(tmp_path / "file_log"))
    # 3 files through the full status machine -> 3-4 events each
    for name in ("a.csv", "b.csv", "c.csv"):
        log.record(name, "NEW")
        log.record(name, "PROCESSING")
    log.record("a.csv", "CLEAN_EXPORTED", row_count=100)
    log.record("b.csv", "FAILED", error_message="boom " * 200)  # >500 chars
    log.record("c.csv", "CLEAN_EXPORTED", row_count=7)

    before = _current_rows(log)
    n_events_before = spark.read.parquet(log.path).count()
    assert n_events_before == 9

    removed = log.compact()
    assert removed == 6  # 9 events -> 3 snapshot rows
    assert spark.read.parquet(log.path).count() == 3
    assert _current_rows(log) == before
    # processed_files still works off the compacted log
    assert {
        r.file_name for r in log.processed_files().collect()
    } == {"a.csv", "b.csv", "c.csv"}


def test_file_log_compact_is_idempotent(spark, tmp_path):
    from data_warehouse_opensky_spark.warehouse.control import FileLog

    log = FileLog(spark, str(tmp_path / "file_log"))
    log.record("x.csv", "NEW")
    log.record("x.csv", "PROCESSING")
    log.record("x.csv", "CLEAN_EXPORTED", row_count=1)
    log.compact()
    before = _current_rows(log)
    assert log.compact() == 0  # second compact removes nothing
    assert _current_rows(log) == before
    # and the log keeps accepting appends afterwards
    log.record("y.csv", "NEW")
    assert {r.file_name for r in log.current().collect()} == {"x.csv", "y.csv"}


def test_file_log_compact_empty_is_noop(spark, tmp_path):
    from data_warehouse_opensky_spark.warehouse.control import FileLog

    log = FileLog(spark, str(tmp_path / "file_log_nonexistent"))
    assert log.compact() == 0


def test_file_log_compact_mid_state_is_reader_atomic(spark, tmp_path):
    """The kernel's safety argument: AFTER the snapshot part-files are
    moved in but BEFORE the old event files are deleted, a reader must
    see the same current(). Simulate that window by appending the
    snapshot without deleting."""
    from data_warehouse_opensky_spark.warehouse.control import (
        FILE_LOG_SCHEMA,
        FileLog,
    )

    log = FileLog(spark, str(tmp_path / "file_log"))
    log.record("a.csv", "NEW")
    log.record("a.csv", "CLEAN_EXPORTED", row_count=5)
    before = _current_rows(log)
    snap = log.current().select([f.name for f in FILE_LOG_SCHEMA.fields])
    snap.write.mode("append").parquet(log.path)  # the mid-compact state
    assert _current_rows(log) == before


def test_job_log_compact_preserves_current(spark, tmp_path):
    from data_warehouse_opensky_spark.warehouse.control import JobLog

    log = JobLog(spark, str(tmp_path / "job_log"))
    id1 = log.start("crawl_europe")
    log.end(id1, "crawl_europe", "COMPLETED", "ok")
    id2 = log.start("crawl_europe")
    log.end(id2, "crawl_europe", "FAILED", "api 500")
    id3 = log.start("crawl_asia")  # still running: end_time NULL

    def rows():
        return {
            (r.log_id, r.job_name, r.status, r.message,
             r.start_time is not None, r.end_time is not None)
            for r in log.current().collect()
        }

    before = rows()
    assert len(before) == 3
    removed = log.compact()
    assert removed == 2  # 5 events -> 3 run rows
    assert rows() == before
    assert log.compact() == 0
    # appends after compact still merge correctly
    log.end(id3, "crawl_asia", "COMPLETED")
    statuses = {r.log_id: r.status for r in log.current().collect()}
    assert statuses[id3] == "COMPLETED"


def test_file_log_auto_compaction_bounds_directory(spark, tmp_path, monkeypatch):
    """VERDICT r11 #6: the cadence rule must actually fire. A long
    synthetic run of status writes with a small threshold keeps the
    directory listing bounded (compaction folds it back to one row
    per key) and never changes `current()`."""
    import os

    from data_warehouse_opensky_spark.warehouse import control
    from data_warehouse_opensky_spark.warehouse.control import FileLog

    monkeypatch.setattr(control, "COMPACT_AFTER_FILES", 20)
    log = FileLog(spark, str(tmp_path / "file_log"))
    max_seen = 0
    for i in range(30):
        log.record(f"f{i % 5}.csv", "PROCESSING")
        log.maybe_compact()
        max_seen = max(
            max_seen,
            sum(1 for f in os.listdir(log.path) if not f.startswith("_")),
        )
    # without compaction 30 appends leave ~30+ data files; the hook
    # must keep the listing at threshold + one batch of appends
    assert max_seen <= 25
    cur = {r.file_name for r in log.current().collect()}
    assert cur == {f"f{i}.csv" for i in range(5)}
    # below threshold the hook is a no-op (no Spark job, 0 removed)
    monkeypatch.setattr(control, "COMPACT_AFTER_FILES", 10_000)
    assert log.maybe_compact() == 0
