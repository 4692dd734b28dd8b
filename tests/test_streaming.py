"""Structured Streaming (T2.16): availableNow-bounded runs.

The landing-to-silver stream is exactly-once per file and writes the
rows and layout that cron staging writes. The keyed upsert sink
(`streaming/sink.py`) converges on replay after a failure at any step.
The stateful, join and watermark operators behind the catalog's
streaming queries keep and evict state as their batch twins say."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from data_warehouse_opensky_spark.streaming import stream_clean_to_silver

HEADER = (
    "icao24,callsign,origin_country,time_position,last_contact,longitude,"
    "latitude,baro_altitude,on_ground,velocity,true_track,vertical_rate,"
    "sensors,geo_altitude,squawk,spi,position_source"
)


def _write_crawl(landing, name, rows):
    body = "\n".join(",".join("" if v is None else str(v) for v in r) for r in rows)
    (landing / name).write_text(HEADER + "\n" + body + "\n")


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    t0 = 1700000000
    _write_crawl(d, "states_j_20251113_090000.csv", [
        ("a1", "CS1     ", "Germany", t0, t0, 1.0, 2.0, 100.0, "false", 10.0, 0.0, 0.0, None, 110.0, "1000", "false", 0),
        ("b2", "CS2     ", "France", t0, t0 + 5, 1.0, 2.0, 200.0, "false", 20.0, 0.0, 0.0, None, 210.0, "2000", "false", 0),
    ])
    _write_crawl(d, "states_j_20251113_091000.csv", [
        ("a1", "CS1     ", "Germany", t0 + 600, t0 + 600, 1.1, 2.1, 120.0, "false", 12.0, 0.0, 0.0, None, 130.0, "1000", "false", 0),
        # late event: 35 min older than the newest
        ("c3", "CS3     ", "Germany", t0 - 2100, t0 - 2100, 1.2, 2.2, 300.0, "true", 0.0, 0.0, 0.0, None, None, "0622", "false", 0),
    ])
    # a non-matching file the glob filter must skip (T1.4 semantics)
    (d / "notes.txt").write_text("not a crawl")
    return d


def test_stream_to_silver_exactly_once(spark, landing, tmp_path):
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    q = stream_clean_to_silver(spark, str(landing), silver, ckpt)
    q.awaitTermination(120)
    df = spark.read.parquet(silver)
    assert df.count() == 4  # txt file skipped by pathGlobFilter

    # restart with the same checkpoint: no new files → no duplicates
    q2 = stream_clean_to_silver(spark, str(landing), silver, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(silver).count() == 4

    # drop in a new crawl; only it is processed (exactly-once per file)
    _write_crawl(landing, "states_j_20251113_092000.csv", [
        ("a1", "CS1     ", "Germany", 1700001200, 1700001200, 1.2, 2.2,
         140.0, "false", 14.0, 0.0, 0.0, None, 150.0, "1000", "false", 0),
    ])
    q3 = stream_clean_to_silver(spark, str(landing), silver, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(silver).count() == 5


def test_stream_silver_keeps_exact_names_and_event_date_partitions(spark, tmp_path):
    """The stream writes the silver rows and layout `stage_files`
    writes: each file's exact name (Spark URL-encodes the input file
    name) and `event_date=` partition directories."""
    landing = tmp_path / "landing"
    landing.mkdir()
    t0 = 1700000000
    row = ("a1", "CS1     ", "Germany", t0, t0, 1.0, 2.0, 100.0, "false", 10.0,
           0.0, 0.0, None, 110.0, "1000", "false", 0)
    _write_crawl(landing, "states_a b%2+c.csv", [row, row])
    _write_crawl(landing, "states_plain.csv", [row])
    silver = str(tmp_path / "silver")

    stream_clean_to_silver(spark, str(landing), silver, str(tmp_path / "ck")).awaitTermination(120)

    per_file = spark.read.parquet(silver).groupBy("file_source").count().collect()
    assert {r.file_source: r["count"] for r in per_file} == {
        "states_a b%2+c.csv": 2, "states_plain.csv": 1
    }
    assert [d for d in os.listdir(silver) if d.startswith("event_date=")] == [
        "event_date=2023-11-14"
    ]


def test_session_window_gap_boundary_merges(spark):
    """Spark's session_window merges when the next event lands EXACTLY
    at the previous session's end (start <= end): a gap equal to the
    30-min threshold is ONE session, threshold+1s is two. Pins the
    semantics every session oracle encodes (`gap > 1800` = new
    session) — caught live by a real 1800 s gap at sf0.1 that the
    `>=` formulation misclassified."""
    from pyspark.sql import functions as F

    def n_sessions(gap_s: int) -> int:
        df = spark.createDataFrame(
            [(1, 1_700_000_000), (1, 1_700_000_000 + gap_s)], "u LONG, ts_s LONG"
        ).withColumn("ts", F.timestamp_seconds("ts_s"))
        return (
            df.groupBy("u", F.session_window("ts", "30 minutes")).count().count()
        )

    assert n_sessions(1800) == 1
    assert n_sessions(1801) == 2


def test_stateful_running_agg_across_batches(spark, tmp_path):
    """applyInPandasWithState must ACCUMULATE GroupState across
    micro-batches: 3 single-file batches of events, final per-key state
    equals the batch aggregate over all of them."""
    import pandas as pd

    from data_warehouse_opensky_spark.streaming.stateful import running_user_stats

    src = tmp_path / "events_src"
    src.mkdir()
    rows = []
    for i in range(30):
        rows.append(
            {"user_id": i % 3, "event_id": i, "ts_s": 1000 + i,
             "event_type": f"t{i % 4}", "value_c": (i * 37) % 500}
        )
    for part in range(3):
        pd.DataFrame(rows[part * 10 : (part + 1) * 10]).to_parquet(
            src / f"part{part}.parquet"
        )

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force 3 micro-batches
        .parquet(str(src))
    )
    out = running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_test_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table("stateful_test_sink")
    # 3 keys × 3 batches = 9 rows; n_events grows monotonically per key
    assert sink.count() == 9
    final = {
        r.user_id: (r.n_events, r.max_value_c, r.last_event_type)
        for r in sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_value_c").alias("max_value_c"),
            F.max_by("last_event_type", "n_events").alias("last_event_type"),
        )
        .collect()
    }
    batch = {
        r.user_id: (r.n, r.m, r.lt)
        for r in spark.read.parquet(str(src))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.max("value_c").alias("m"),
            F.max_by("event_type", F.col("ts_s") * 1000 + F.col("event_id")).alias("lt"),
        )
        .collect()
    }
    assert final == batch


def test_foreachbatch_upsert_sink(spark, tmp_path):
    """foreachBatch upsert sink: two micro-batches of keyed updates
    merge latest-wins into the parquet target; final snapshot equals
    the batch latest-per-key over all input (T1.6/T1.7 as a stream)."""
    from data_warehouse_opensky_spark.streaming.sink import upsert_parquet_sink

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")]
    rows2 = [(1, 20, "a2"), (2, 5, "stale"), (4, 20, "d")]
    cols = ["key", "version", "payload"]
    spark.createDataFrame(rows1, cols).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(rows2, cols).coalesce(1).write.parquet(str(src / "f2"))

    schema = spark.read.parquet(str(src / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(str(src / "*"))
    )
    sink_dir = tmp_path / "sink"
    q = upsert_parquet_sink(
        stream,
        str(sink_dir),
        key_cols=["key"],
        order_col="version",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = {
        (r.key, r.version, r.payload)
        for r in spark.read.parquet(str(sink_dir / "current")).collect()
    }
    # key 1 updated (v20 wins), key 2 stale update rejected (v10 kept),
    # keys 3/4 present once.
    assert got == {(1, 20, "a2"), (2, 10, "b"), (3, 10, "c"), (4, 20, "d")}

    # Idempotent restart: a fresh run over the same source + a NEW
    # checkpoint re-merges to the same state (latest-wins is
    # idempotent), proving replays cannot corrupt the target.
    q2 = upsert_parquet_sink(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*")),
        str(sink_dir),
        key_cols=["key"],
        order_col="version",
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination()
    again = {
        (r.key, r.version, r.payload)
        for r in spark.read.parquet(str(sink_dir / "current")).collect()
    }
    assert again == got

    # The snapshot is one write: every part file carries the same job
    # id, and no checksum sidecar outlives its part file.
    names = os.listdir(sink_dir / "current")
    parts = [n for n in names if n.startswith("part-")]
    assert parts
    assert len({re.match(r"part-\d+-([0-9a-f-]{36})", n).group(1) for n in parts}) == 1
    for n in names:
        if n.endswith(".crc") and n.lstrip(".").startswith("part-"):
            assert n[1:-4] in names, f"orphan checksum {n}"


def test_upsert_sink_replay_after_failed_delete_keeps_every_key(
    spark, tmp_path, monkeypatch
):
    """A micro-batch that fails between its append and its delete
    leaves old and new snapshot files side by side in `current`. The
    replay of the same batch_id must collapse them to one row per key
    and remove the leftovers: no key of the old snapshot may be lost."""
    from data_warehouse_opensky_spark.streaming.sink import upsert_parquet_sink

    cols = ["key", "version", "payload"]

    def run(src_name, ckpt_name, rows=None):
        src = tmp_path / src_name
        if rows is not None:
            src.mkdir()
            spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
                str(src / "f")
            )
        schema = spark.read.parquet(str(src / "f")).schema
        q = upsert_parquet_sink(
            spark.readStream.schema(schema).parquet(str(src / "*")),
            str(tmp_path / "sink"),
            key_cols=["key"],
            order_col="version",
            checkpoint_dir=str(tmp_path / ckpt_name),
        )
        q.awaitTermination()

    run("src1", "ckpt1", [(k, 10, f"p{k}") for k in range(1, 201)])

    calls = [0]

    def failing(real):
        def op(*args, **kwargs):
            calls[0] += 1
            if calls[0] == 2:
                raise OSError("injected file-system failure")
            return real(*args, **kwargs)

        return op

    with monkeypatch.context() as m:
        m.setattr(os, "rename", failing(os.rename))
        m.setattr(os, "remove", failing(os.remove))
        with pytest.raises(Exception):
            run("src2", "ckpt2", [(1, 99, "updated")])
    assert calls[0] >= 2, "the injected failure never fired"

    run("src2", "ckpt2")
    got = [
        (r.key, r.version, r.payload)
        for r in spark.read.parquet(str(tmp_path / "sink" / "current")).collect()
    ]
    assert len(got) == 200
    assert set(got) == {(k, 10, f"p{k}") for k in range(2, 201)} | {
        (1, 99, "updated")
    }


def test_upsert_sink_quarantines_bad_rows(spark, tmp_path):
    """Streaming quarantine: with contract rules, a poison row lands in
    rejects/ tagged with the violated rule names and NEVER reaches the
    merged snapshot; clean rows of the same batch merge normally."""
    from pyspark.sql import functions as F

    from data_warehouse_opensky_spark.streaming.sink import upsert_parquet_sink

    src = tmp_path / "src"
    src.mkdir()
    rows = [(1, 10, "ok-1"), (2, 10, "ok-2"), (3, 10, ""), (4, -5, "ok-4")]
    spark.createDataFrame(rows, ["key", "version", "payload"]).coalesce(
        1
    ).write.parquet(str(src / "f"))
    schema = spark.read.parquet(str(src / "f")).schema

    rules = [
        ("payload_nonempty", F.length("payload") > 0),
        ("version_positive", F.col("version") > 0),
    ]
    q = upsert_parquet_sink(
        spark.readStream.schema(schema).parquet(str(src / "*")),
        str(tmp_path / "sink"),
        key_cols=["key"],
        order_col="version",
        checkpoint_dir=str(tmp_path / "ckpt"),
        rules=rules,
    )
    q.awaitTermination()

    cur = {
        r.key for r in spark.read.parquet(str(tmp_path / "sink" / "current")).collect()
    }
    assert cur == {1, 2}
    rejects = {
        r.key: r.violations
        for r in spark.read.parquet(str(tmp_path / "sink" / "rejects")).collect()
    }
    assert rejects == {3: "payload_nonempty", 4: "version_positive"}


def test_stream_stream_join_state_evicts(spark, tmp_path):
    """The stream-stream join's evict-ability is measured, not assumed:
    across ≥2 micro-batches with advancing event time, the join's
    stateOperators must report rows REMOVED once the watermark passes
    the 1-hour join range + 2-hour delay, and final buffered state must
    stay below the total rows ever buffered (bounded state)."""
    from datetime import datetime, timedelta

    from data_warehouse_opensky_spark.plans.streaming_queries import (
        click_purchase_join,
        drain_with_state_metrics,
    )

    src = tmp_path / "src"
    src.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    cols = ["user_id", "event_id", "event_type", "ts"]

    # Three time-slabs 6 h apart: by the time slab N+1 is processed the
    # watermark (max_ts - 2 h) is far past slab N's rows + the 1-hour
    # join range, so slab N's buffered state is evictable.
    def slab(file_no, base, n=40):
        rows = []
        for i in range(n):
            ts = base + timedelta(minutes=i)
            rows.append((i % 5, file_no * 1000 + i, "click", ts))
            rows.append((i % 5, file_no * 1000 + 500 + i, "purchase",
                         ts + timedelta(minutes=30)))
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            str(src / f"slab{file_no}")
        )

    for fno, hours in ((0, 0), (1, 6), (2, 12)):
        slab(fno, t0 + timedelta(hours=hours))

    schema = spark.read.parquet(str(src / "slab0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    sink, metrics = drain_with_state_metrics(click_purchase_join(stream), "append")

    with_state = [m for m in metrics if m["stateOperators"]]
    assert len(with_state) >= 2, f"need >=2 stateful micro-batches: {metrics}"

    removed = sum(
        so["numRowsRemoved"] for m in with_state for so in m["stateOperators"]
    )
    assert removed > 0, f"watermark never evicted join state: {with_state}"

    updated = sum(
        so["numRowsUpdated"] for m in with_state for so in m["stateOperators"]
    )
    final_total = sum(
        so["numRowsTotal"] for so in with_state[-1]["stateOperators"]
    )
    assert final_total < updated, (
        f"state not bounded: final={final_total} ever-buffered={updated}"
    )

    # Output sanity: the streamed join emits exactly the batch join's
    # matches (stream replay == batch query, the T2.16 property).
    ev = spark.read.parquet(str(src / "*"))
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
    )
    expected = c.join(
        p,
        (F.col("user_id") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("interval 1 hour")),
    ).count()
    assert sink.count() == expected


def test_late_rows_dropped_by_watermark(spark, tmp_path):
    """Append-mode windowed agg: a row arriving AFTER the watermark has
    passed its window must be dropped, and the drop must be measurable
    (numRowsDroppedByWatermark) — the late-data contract is tested,
    not assumed."""
    from datetime import datetime, timedelta

    from data_warehouse_opensky_spark.plans.streaming_queries import (
        drain_with_state_metrics,
    )

    src = tmp_path / "src"
    src.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    cols = ["user_id", "ts"]

    def write_slab(name, rows):
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            str(src / name)
        )

    # Slab A: fresh data at t0+12h → watermark advances to ~t0+10h.
    write_slab("a", [(i, t0 + timedelta(hours=12, minutes=i)) for i in range(20)])
    # Slab B: one more fresh batch. Spark's late-event filter runs one
    # batch BEHIND the eviction watermark (the two-watermark semantics
    # of SPARK-40925): a straggler in the batch right after A would
    # still be admitted-then-evicted. B burns that batch so C's
    # straggler meets an advanced late-event watermark.
    write_slab("b", [(50, t0 + timedelta(hours=12, minutes=30))])
    # Slab C: a straggler 12 h older — far beyond the 2 h delay.
    write_slab("c", [(99, t0)])

    schema = spark.read.parquet(str(src / "a")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    sink, metrics = drain_with_state_metrics(windowed, "append")

    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for m in metrics
        for so in m["stateOperators"]
    )
    assert dropped >= 1, f"late row was not dropped: {metrics}"
    # And the straggler's window never reached the append output.
    starts = {r["w"]["start"] for r in sink.collect()}
    assert t0 not in starts


def test_dedup_within_watermark_evicts_and_dedups(spark, tmp_path):
    """dropDuplicatesWithinWatermark must (a) drop a duplicate arriving
    in a later micro-batch while its key is inside the horizon, and
    (b) EVICT aged-out keys — the bounded-state guarantee plain
    dropDuplicates lacks. Both asserted from stateOperators metrics
    over a 3-slab replay with 6 h jumps (watermark delay 2 h)."""
    from datetime import datetime, timedelta

    from data_warehouse_opensky_spark.plans.streaming_queries import (
        drain_with_state_metrics,
    )

    src = tmp_path / "src"
    src.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    cols = ["user_id", "event_id", "event_type", "ts"]

    def slab(file_no, base, n=30):
        rows = []
        for i in range(n):
            ts = base + timedelta(minutes=i)
            rows.append((i % 5, file_no * 1000 + i, "click", ts))
            rows.append((i % 5, file_no * 1000 + i, "click", ts))  # dup
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            str(src / f"slab{file_no}")
        )

    for fno, hours in ((0, 0), (1, 6), (2, 12)):
        slab(fno, t0 + timedelta(hours=hours))

    schema = spark.read.parquet(str(src / "slab0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    deduped = stream.withWatermark(
        "ts", "2 hours"
    ).dropDuplicatesWithinWatermark(["event_id"])
    sink, metrics = drain_with_state_metrics(deduped, "append")

    # (a) exactly-once: each (slab, i) key emits exactly one row.
    assert sink.count() == 90, sink.count()
    # (b) bounded state: keys from old slabs are removed as the
    # watermark jumps 6 h per slab.
    with_state = [m for m in metrics if m["stateOperators"]]
    assert len(with_state) >= 2, f"need >=2 stateful micro-batches: {metrics}"
    removed = sum(
        so["numRowsRemoved"] for m in with_state for so in m["stateOperators"]
    )
    assert removed > 0, f"watermark never evicted dedup state: {with_state}"
    final_total = with_state[-1]["stateOperators"][0]["numRowsTotal"]
    assert final_total < 90, f"state grew unbounded: {with_state}"


def test_stateful_agg_under_rocksdb_provider(spark, tmp_path):
    """The production state backend is RocksDB, not the HDFS-backed
    in-memory default (at 100 TB of keys the state must spill to
    disk + compact). Prove the windowed-aggregate path runs and
    produces identical results under the RocksDB provider — bundled
    with Spark 4, exercised nowhere else in local runs."""
    from datetime import datetime, timedelta

    import pyspark.sql.functions as F

    from data_warehouse_opensky_spark.plans.streaming_queries import (
        drain_with_state_metrics,
    )

    rows = [
        (i, datetime(2024, 1, 1) + timedelta(minutes=17 * i), i % 4)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "event_id BIGINT, ts TIMESTAMP, k BIGINT")
    df.coalesce(1).write.parquet(str(tmp_path / "in"))
    schema = spark.read.parquet(str(tmp_path / "in")).schema
    want = {
        (r["k"], r["w"]): r["n"]
        for r in df.groupBy(
            "k", F.window("ts", "6 hours").alias("win")
        )
        .agg(F.count("*").alias("n"))
        .select("k", F.unix_timestamp("win.start").alias("w"), "n")
        .collect()
    }
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy("k", F.window("ts", "6 hours").alias("win"))
            .agg(F.count("*").alias("n"))
        )
        sink, metrics = drain_with_state_metrics(agg, "complete")
        got = {
            (r["k"], r["w"]): r["n"]
            for r in sink.select(
                "k", F.unix_timestamp("win.start").alias("w"), "n"
            ).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    assert got == want
    assert any(m["stateOperators"] for m in metrics), metrics


def test_event_schema_cache_replaces_entry_when_file_is_regenerated(spark, tmp_path):
    """ADVICE r13: the events.parquet schema cache holds one entry per
    path. Regenerating the file replaces that entry with the new
    schema, and a failed stat caches nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_opensky_spark.plans import streaming_queries as sq

    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_700_000_000_000_000], pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table({"user_id": [1], "ts": ts}), path)
    n_before = len(sq._EVENT_SCHEMA_CACHE)
    sq._stream_events(spark, str(tmp_path))
    pq.write_table(pa.table({"user_id": [1], "ts": ts, "price": [2.5]}), path)
    stream = sq._stream_events(spark, str(tmp_path))
    assert len(sq._EVENT_SCHEMA_CACHE) == n_before + 1
    assert "price" in sq._EVENT_SCHEMA_CACHE[path][1].fieldNames()
    assert "price" in stream.columns

    from pyspark.errors import AnalysisException

    missing = tmp_path / "missing"
    with pytest.raises(AnalysisException):
        sq._stream_events(spark, str(missing))
    assert f"{missing}/events.parquet" not in sq._EVENT_SCHEMA_CACHE
