"""Control-log compaction (warehouse/control.py).

`FileLog` and `JobLog` are append-only event logs; `compact()` folds
each log back to one row per key. These tests check that compaction
never changes `current()`, that it is idempotent and a no-op on an
empty log, that a reader in the window between the snapshot append
and the delete sees the same state, and that the `maybe_compact`
cadence keeps the directory listing bounded.
"""

from __future__ import annotations


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
