"""Control-plane tables (SURVEY §1.1.2) — Spark-native replacement for
the reference's Postgres `file_log` / `job_logs`.

The reference mutates control rows in place (INSERT … ON CONFLICT DO
NOTHING at load_warehouse.py:110-111, keyed UPDATE at :117-129).
Plain parquet can't update in place (SURVEY §7 watch-out #4), so both
tables are **event-sourced**: every status change is an appended
event, and the current state is `latest_per_key` over the event log —
the T2.5 operator again. This is the idiomatic append-only-storage
design; on Delta/Iceberg the same API would compact via MERGE.

Control rows are a handful per file, so they are appended on the
driver (`_append_rows`: one pyarrow parquet file, atomic rename) and
never start a Spark job. Reads stay on Spark: `current()` is a
DataFrame over every event file, including logs written by earlier
Spark-side appends.

Status machine reproduced from load_warehouse.py:97,191,198,202,207:
NEW → PROCESSING → CLEAN_EXPORTED | FAILED.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Sequence
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.asof import latest_per_key

FILE_LOG_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("last_updated", T.TimestampType()),
        # Globally monotonic tiebreak: epoch-nanos at event creation
        # (guarded strictly increasing within a process). Two processes
        # writing the same file's status inside the same last_updated
        # microsecond still order correctly at ns granularity — a
        # per-process 0-based counter would not (latest-wins could pick
        # the wrong writer's event).
        T.StructField("seq", T.LongType()),
    ]
)

JOB_LOG_SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.StringType()),  # uuid (T1.20: uniqueness only)
        T.StructField("job_name", T.StringType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("status", T.StringType()),
        T.StructField("message", T.StringType()),
    ]
)

#: `maybe_compact` folds the file log once its directory holds more
#: event files than this. Each `record()` appends one file, so an
#: hourly cron pipeline crosses 500 after ~10 days (SCALE.md §42).
COMPACT_AFTER_FILES = 500


def _append_rows(path: str, rows: Sequence[tuple], schema: T.StructType) -> None:
    """Append `rows` to the parquet log at `path` as one file, on the
    driver — no Spark job. Values go through `schema.toInternal`, the
    conversion `createDataFrame` applies, so timestamps read back as a
    Spark-written event's would. The file is written under a dot-name,
    which Spark's file listing skips, then renamed into place: a reader
    sees all of it or none of it."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, schema.toInternal(r))) for r in rows],
        schema=to_arrow_schema(schema),
    )
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


class _EventLog:
    """Append-only parquet event log; subclasses define `schema` and
    `current()` (one row per key)."""

    schema: T.StructType

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read_events(self) -> DataFrame:
        if not os.path.isdir(self.path) or not os.listdir(self.path):
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def compact(self) -> int:
        """Rewrite the event log to its current-state snapshot
        (VERDICT r10 #3 — the event log grows without bound; a real
        deployment compacts on a cadence).

        Consistency for readers (stated precisely — ADVICE r11): any
        read PLANNED at any step sees an identical `current()`. The
        snapshot (one row per key, exactly `current()`) is first
        appended as one file with an atomic rename (snapshot rows
        duplicate events already present, and `current()` is
        idempotent over them), and only then are the files that
        predate it deleted. A crash at any point leaves a log whose
        `current()` is unchanged; leftover un-deleted event files or
        temp files are absorbed by the next compact. Idempotent:
        compact(compact(log)) == compact(log).
        Caveat: a Spark scan whose file listing was captured BEFORE the
        delete step but executed after it fails with
        FileNotFoundException (listings are plan-time); such in-flight
        scans need `spark.sql.files.ignoreMissingFiles` or a retry —
        they never see wrong data, only the error. Compaction COUNTS AS
        A WRITE under the single-writer contract: two concurrent
        compacts could each snapshot the other's winner files as
        pre-existing and double-delete them.

        Returns the number of superseded event rows removed. On
        Delta/Iceberg the same API would be MERGE + VACUUM; this is
        the honest pure-parquet equivalent. Control-plane sized: the
        snapshot is collected to the driver.
        """
        if not os.path.isdir(self.path) or not os.listdir(self.path):
            return 0
        # Everything listed here is superseded by the snapshot, including
        # a dot-prefixed temp file left by a crashed append.
        stale = os.listdir(self.path)
        n_before = self._read_events().count()
        rows = self.current().select(self.schema.names).collect()
        _append_rows(self.path, rows, self.schema)
        for f in stale:
            os.remove(os.path.join(self.path, f))
        return n_before - len(rows)


class FileLog(_EventLog):
    """Per-file ingest ledger (T1.5–T1.7); `current()` is latest-wins,
    which picks one winner per key however many duplicates it sees."""

    schema = FILE_LOG_SCHEMA

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path)
        self._seq = 0  # last issued epoch-ns; guards strict monotonicity

    def current(self) -> DataFrame:
        """Latest status per file — T2.5 over the event log."""
        return latest_per_key(self._read_events(), "file_name", ["last_updated", "seq"])

    def processed_files(self) -> DataFrame:
        """`SELECT file_name WHERE status != 'NEW'` (load_warehouse.py:97)."""
        return self.current().filter(F.col("status") != "NEW").select("file_name")

    def _event(self, file_name: str, status: str, row_count=None, error_message=None) -> tuple:
        self._seq = max(self._seq + 1, time.time_ns())
        msg = error_message[:500] if error_message else None
        return (file_name, status, row_count, msg, datetime.now(timezone.utc), self._seq)

    def record(
        self,
        file_name: str,
        status: str,
        row_count: int | None = None,
        error_message: str | None = None,
    ) -> None:
        """Append one status event. Error messages clipped to 500 chars
        (T1.21, extract_script.py:184)."""
        _append_rows(
            self.path, [self._event(file_name, status, row_count, error_message)], self.schema
        )

    def maybe_compact(self) -> int:
        """Auto-compaction hook (VERDICT r11 #6): compact when the
        event-log directory holds more than `COMPACT_AFTER_FILES` event
        files, so listing cost stays O(keys), not O(appends-forever).
        Cheap when below it: one listdir, no Spark job. Returns rows
        removed (0 when below)."""
        if not os.path.isdir(self.path):
            return 0
        n = sum(1 for f in os.listdir(self.path) if not f.startswith(("_", ".")))
        if n <= COMPACT_AFTER_FILES:
            return 0
        return self.compact()

    def register_new(self, file_names: list[str]) -> list[str]:
        """Idempotent keyed insert (T1.6 — INSERT … ON CONFLICT DO
        NOTHING): one read of `current()`, one append of NEW events for
        the names never seen. Returns, in input order, the names whose
        status is NEW: the fresh ones and any an earlier run left NEW."""
        if not file_names:
            return []
        status = {
            r.file_name: r.status
            for r in self.current().select("file_name", "status").collect()
        }
        fresh = [n for n in file_names if n not in status]
        if fresh:
            _append_rows(self.path, [self._event(n, "NEW") for n in fresh], self.schema)
            status.update(dict.fromkeys(fresh, "NEW"))
        return [n for n in file_names if status[n] == "NEW"]


class JobLog(_EventLog):
    """Run-audit table (T1.20, extract_script.py:157-189). `current()`
    merges each run's start/end events with min/max/max_by, which is
    idempotent over an already-merged snapshot row — so compaction
    reads the same before and after, as for FileLog."""

    schema = JOB_LOG_SCHEMA

    def start(self, job_name: str) -> str:
        log_id = str(uuid.uuid4())
        now = datetime.now(timezone.utc)
        _append_rows(self.path, [(log_id, job_name, now, None, "STARTED", None)], self.schema)
        return log_id

    def end(self, log_id: str, job_name: str, status: str, message: str | None = None) -> None:
        now = datetime.now(timezone.utc)
        msg = message[:500] if message else None
        _append_rows(self.path, [(log_id, job_name, None, now, status, msg)], self.schema)

    def current(self) -> DataFrame:
        return self._read_events().groupBy("log_id", "job_name").agg(
            F.min("start_time").alias("start_time"),
            F.max("end_time").alias("end_time"),
            F.max_by("status", F.coalesce("end_time", "start_time")).alias("status"),
            F.max("message").alias("message"),
        )
