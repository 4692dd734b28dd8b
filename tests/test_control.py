"""Control-plane write path (warehouse/control.py): status events are
appended on the driver without a Spark job, logs written by Spark-side
appends still read and compact the same, and the crash windows of the
temp-file-then-rename append leave a consistent log."""

from __future__ import annotations

import os
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import functions as F

from data_warehouse_opensky_spark.warehouse import control
from data_warehouse_opensky_spark.warehouse.control import (
    FILE_LOG_SCHEMA,
    FileLog,
    JobLog,
)
from data_warehouse_opensky_spark.warehouse.etl import run_incremental_load

HEADER = (
    "icao24,callsign,origin_country,time_position,last_contact,longitude,"
    "latitude,baro_altitude,on_ground,velocity,true_track,vertical_rate,"
    "sensors,geo_altitude,squawk,spi,position_source\n"
)


@contextmanager
def job_group(spark, group):
    """Run the block under a Spark job group; yields a function that
    returns the ids of the group's jobs seen so far."""
    sc = spark.sparkContext

    def jobs():
        # job events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return set(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _all_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_parent_format(spark, path, rows):
    """An event append as Spark-side control writes made it."""
    spark.createDataFrame(rows, FILE_LOG_SCHEMA).write.mode("append").parquet(path)


def test_control_writes_run_no_spark_job(spark, tmp_path, monkeypatch):
    log = FileLog(spark, str(tmp_path / "file_log"))
    jlog = JobLog(spark, str(tmp_path / "job_log"))
    with job_group(spark, "control-writes") as jobs:
        log.record("a.csv", "NEW")
        log.record("a.csv", "PROCESSING")
        log.record("a.csv", "CLEAN_EXPORTED", row_count=3)
        run = jlog.start("load")
        jlog.end(run, "load", "COMPLETED", "ok")
        assert jobs() == set()

    reads, during_append = [], []
    current, append = FileLog.current, control._append_rows

    def counting_current(self):
        reads.append(1)
        return current(self)

    with job_group(spark, "register-new") as jobs:

        def watched_append(*args):
            before = jobs()
            append(*args)
            during_append.append(jobs() - before)

        monkeypatch.setattr(FileLog, "current", counting_current)
        monkeypatch.setattr(control, "_append_rows", watched_append)
        assert log.register_new(["a.csv", "b.csv", "c.csv"]) == ["b.csv", "c.csv"]
    assert reads == [1]
    assert during_append == [set()]  # one append, and it ran no job
    monkeypatch.undo()
    assert {r.file_name: r.status for r in log.current().collect()} == {
        "a.csv": "CLEAN_EXPORTED",
        "b.csv": "NEW",
        "c.csv": "NEW",
    }
    assert {r.status for r in jlog.current().collect()} == {"COMPLETED"}


def test_mixed_format_log_reads_and_compacts_like_parent_format(spark, tmp_path):
    t = datetime(2025, 11, 13, 9, 0, 0, 123456)
    events = [
        ("a.csv", "NEW", None, None, t, 1),
        ("b.csv", "NEW", None, None, t, 2),
        ("a.csv", "PROCESSING", None, None, t.replace(second=1), 3),
        ("b.csv", "PROCESSING", None, None, t.replace(second=1), 4),
        ("a.csv", "CLEAN_EXPORTED", 10, None, t.replace(second=2), 5),
        ("b.csv", "FAILED", None, "boom", t.replace(second=2), 6),
        ("c.csv", "NEW", None, None, t.replace(second=3), 7),
    ]
    parent = FileLog(spark, str(tmp_path / "parent"))
    for e in events:
        _write_parent_format(spark, parent.path, [e])
    mixed = FileLog(spark, str(tmp_path / "mixed"))
    for e in events[:3]:
        _write_parent_format(spark, mixed.path, [e])
    for e in events[3:]:
        control._append_rows(mixed.path, [e], FILE_LOG_SCHEMA)

    assert _all_rows(mixed.current()) == _all_rows(parent.current())
    assert mixed.compact() == parent.compact() == 4
    assert _all_rows(mixed.current()) == _all_rows(parent.current())
    files = os.listdir(mixed.path)
    assert len(files) == 1 and files[0].startswith("part-"), files


def test_last_updated_round_trips_exactly(spark, tmp_path):
    """A driver-side append stores the same instant a Spark-side append
    of the same row does, for aware and naive datetimes alike."""
    aware = datetime(2026, 3, 29, 1, 30, 15, 123457, tzinfo=timezone.utc)
    micros = int(aware.timestamp()) * 1_000_000 + aware.microsecond
    for i, ts in enumerate((aware, aware.replace(tzinfo=None))):
        row = [("x.csv", "NEW", None, None, ts, 1)]
        ours, theirs = str(tmp_path / f"ours{i}"), str(tmp_path / f"theirs{i}")
        control._append_rows(ours, row, FILE_LOG_SCHEMA)
        _write_parent_format(spark, theirs, row)
        got = [
            spark.read.schema(FILE_LOG_SCHEMA)
            .parquet(p)
            .select("last_updated", F.unix_micros("last_updated").alias("us"))
            .first()
            for p in (ours, theirs)
        ]
        assert got[0] == got[1]
        if ts.tzinfo is not None:
            assert got[0].us == micros

    log = FileLog(spark, str(tmp_path / "log"))
    before = datetime.now(timezone.utc).replace(tzinfo=None)
    log.record("y.csv", "NEW")
    after = datetime.now(timezone.utc).replace(tzinfo=None)
    assert before <= log.current().first().last_updated <= after


def test_leftover_temp_file_is_invisible_and_compacted_away(spark, tmp_path):
    log = FileLog(spark, str(tmp_path / "file_log"))
    log.record("a.csv", "NEW")
    log.record("a.csv", "PROCESSING")
    before = _all_rows(log.current())
    # an append that died mid-write: half a parquet file under its
    # dot-prefixed temp name
    part = next(f for f in os.listdir(log.path) if f.startswith("part-"))
    with open(os.path.join(log.path, part), "rb") as f:
        data = f.read()
    tmp = os.path.join(log.path, ".part-dead.parquet.tmp")
    with open(tmp, "wb") as f:
        f.write(data[: len(data) // 2])

    assert _all_rows(log.current()) == before
    assert log.compact() == 1
    assert not os.path.exists(tmp)
    assert _all_rows(log.current()) == before


def test_file_left_new_is_staged_exactly_once(spark, tmp_path):
    """A run that died after registering a file NEW but before marking
    it PROCESSING: the next load stages it once, the one after skips
    it."""
    landing = tmp_path / "landing"
    landing.mkdir()
    name = "states_job_20251113_090000.csv"
    (landing / name).write_text(
        HEADER
        + "abc123,CALL123 ,Nowhere,1700000000,1700000010,1.0,2.0,3.0,false,"
        "4.0,5.0,6.0,,7.0,1000,false,0\n"
        + "def456,CALL456 ,Nowhere,1700000000,1700000020,1.5,2.5,3.5,true,"
        "0.0,5.0,0.0,,7.0,1000,false,0\n"
    )
    wh = str(tmp_path / "warehouse")
    assert FileLog(spark, f"{wh}/control/file_log").register_new([name]) == [name]

    assert run_incremental_load(spark, str(landing), wh) == {name: "CLEAN_EXPORTED"}
    silver = f"{wh}/silver/state_vectors"
    assert spark.read.parquet(silver).count() == 2
    assert run_incremental_load(spark, str(landing), wh) == {}
    assert spark.read.parquet(silver).count() == 2
