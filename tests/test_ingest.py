"""EP1 (extract) + EP2 (incremental staging) end-to-end, networkless:
fake OpenSky payloads → landing CSVs → incremental load → idempotency
(the reference's ON-CONFLICT-DO-NOTHING guarantee, T1.5/T1.6)."""

from __future__ import annotations

import glob
import json
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from data_warehouse_opensky_spark.sources.opensky_api import (
    JobConfig,
    extract_job,
    states_to_dataframe,
)
from data_warehouse_opensky_spark.warehouse import build_gold_marts
from data_warehouse_opensky_spark.warehouse.etl import run_incremental_load

PAYLOAD_1 = {
    "time": 1700000000,
    "states": [
        ["3c4b31", "DLH573  ", "Germany", 1700000000, 1700000010, 8.5, 50.1,
         11000.5, False, 250.5, 90.0, 0.5, None, 11200.0, "1000", False, 0],
        ["4b5da1", "ATL780 ", "Switzerland", None, 1700000020, 7.4, 46.9,
         None, True, 0.19, 253.12, None, None, None, None, False, 0],
    ],
}
PAYLOAD_2 = {
    "time": 1700000600,
    "states": [
        ["3c4b31", "DLH573  ", "Germany", 1700000600, 1700000610, 8.7, 50.3,
         11050.0, False, 251.0, 91.0, 0.2, None, 11250.0, "1000", False, 0],
    ],
}
PAYLOAD_EMPTY = {"time": 1700001200, "states": None}


def fake_fetcher_for(payload):
    def fetch(url, data, headers):
        if "token" in url:
            return json.dumps({"access_token": "tok"}).encode()
        return json.dumps(payload).encode()

    return fetch


def test_states_decode_empty(spark):
    assert states_to_dataframe(spark, PAYLOAD_EMPTY).count() == 0
    assert states_to_dataframe(spark, {}).count() == 0


def test_extract_and_incremental_load(spark, tmp_path):
    landing = str(tmp_path / "landing")
    wh = str(tmp_path / "warehouse")
    cfg = JobConfig(
        job_name="crawl_europe_live_data",
        base_url="https://example.invalid",
        endpoint="/states/all",
        lamin=35.0, lomin=-10.0, lamax=60.0, lomax=30.0,
        output_path=landing,
        token_url="https://example.invalid/token",
    )
    p1, n1 = extract_job(
        spark, cfg, fake_fetcher_for(PAYLOAD_1),
        now=datetime(2025, 11, 13, 9, 0, 0, tzinfo=timezone.utc),
    )
    p2, n2 = extract_job(
        spark, cfg, fake_fetcher_for(PAYLOAD_2),
        now=datetime(2025, 11, 13, 9, 10, 0, tzinfo=timezone.utc),
    )
    assert (n1, n2) == (2, 1)

    res = run_incremental_load(spark, landing, wh)
    assert set(res.values()) == {"CLEAN_EXPORTED"}
    silver = spark.read.parquet(f"{wh}/silver/state_vectors")
    assert silver.count() == 3
    # §1.3 typing really applied: strict bool + epoch ts
    row = silver.filter(F.col("icao24") == "4b5da1").first()
    assert row.on_ground is True and row.velocity == 0.19

    # idempotency: a second run must process nothing and not duplicate
    res2 = run_incremental_load(spark, landing, wh)
    assert res2 == {}
    assert spark.read.parquet(f"{wh}/silver/state_vectors").count() == 3

    # a NEW file after the fact is picked up incrementally
    extract_job(
        spark, cfg, fake_fetcher_for(PAYLOAD_2),
        now=datetime(2025, 11, 13, 9, 20, 0, tzinfo=timezone.utc),
    )
    res3 = run_incremental_load(spark, landing, wh)
    assert list(res3.values()) == ["CLEAN_EXPORTED"]
    assert spark.read.parquet(f"{wh}/silver/state_vectors").count() == 4


def test_per_file_fault_isolation(spark, tmp_path):
    """T1.22: a poison file logs FAILED; the loop continues."""
    landing = tmp_path / "landing"
    landing.mkdir()
    good = landing / "states_job_20251113_090000.csv"
    good.write_text(
        "icao24,callsign,origin_country,time_position,last_contact,longitude,"
        "latitude,baro_altitude,on_ground,velocity,true_track,vertical_rate,"
        "sensors,geo_altitude,squawk,spi,position_source\n"
        "abc123,CALL123 ,Nowhere,1700000000,1700000010,1.0,2.0,3.0,false,"
        "4.0,5.0,6.0,,7.0,1000,false,0\n"
    )
    poison = landing / "states_job_20251113_091000.csv"
    poison.write_bytes(b"\x00\x01\x02 not a csv at all")

    wh = str(tmp_path / "warehouse")
    res = run_incremental_load(spark, str(landing), wh)
    # poison CSVs that still parse as 1 garbage row are tolerated by
    # spark's permissive mode; what matters: the good file landed and
    # statuses were recorded for both.
    assert res[good.name] == "CLEAN_EXPORTED"
    assert set(res) == {good.name, poison.name}


def test_batch_failure_falls_back_to_per_file_isolation(spark, tmp_path):
    """T1.22 when the tick's one staging write fails: a line of 30,000
    commas exceeds univocity's 20,480 maxColumns even in PERMISSIVE
    mode, so the batch fails; the per-file retry fails only that file
    and lands the others exactly once."""
    from data_warehouse_opensky_spark.warehouse.control import FileLog

    from .test_control import HEADER

    landing = tmp_path / "landing"
    landing.mkdir()
    row = (
        "abc12{},CALL123 ,Nowhere,1700000000,1700000010,1.0,2.0,3.0,false,"
        "4.0,5.0,6.0,,7.0,1000,false,0\n"
    )
    names = {i: f"states_job_20251113_09{i}000.csv" for i in (1, 2, 3)}
    (landing / names[1]).write_text(HEADER + row.format(1))
    (landing / names[2]).write_text(HEADER + "," * 30_000 + "\n")
    (landing / names[3]).write_text(HEADER + row.format(3) + row.format(4))

    wh = str(tmp_path / "warehouse")
    run_incremental_load(spark, str(landing), wh)

    log = {r.file_name: r for r in FileLog(spark, f"{wh}/control/file_log").current().collect()}
    assert {i: log[n].status for i, n in names.items()} == {
        1: "CLEAN_EXPORTED", 2: "FAILED", 3: "CLEAN_EXPORTED"
    }
    assert log[names[2]].error_message
    silver = spark.read.parquet(f"{wh}/silver/state_vectors")
    assert sorted((r.file_source, r.icao24) for r in silver.collect()) == [
        (names[1], "abc121"), (names[3], "abc123"), (names[3], "abc124")
    ]


def test_row_level_quarantine_split(spark):
    """Row-level quarantine (the per-ROW complement of T1.22's per-file
    isolation): contract-violating rows split out with the violated
    rule names; clean rows pass untouched; the reference corpus itself
    is fully clean under the contract rules."""
    from data_warehouse_opensky_spark.schemas import RAW_SCHEMA
    from data_warehouse_opensky_spark.warehouse.etl import quarantine_split

    rows = [
        # clean row
        ("abc123", "CALL1   ", "X", "1700000000", "1700000010", "1.0", "2.0",
         "3.0", "false", "4.0", "5.0", "6.0", None, "7.0", "1000", "false", "0"),
        # bad icao24 AND bad epoch
        ("zz", "CALL2   ", "X", "1700000000", "not_a_ts", "1.0", "2.0",
         "3.0", "true", "4.0", "5.0", "6.0", None, "7.0", "1000", "false", "0"),
        # out-of-range longitude, non-boolean on_ground
        ("abc124", "CALL3   ", "X", "1700000000", "1700000010", "999.0", "2.0",
         "3.0", "maybe", "4.0", "5.0", "6.0", None, "7.0", "1000", "false", "0"),
    ]
    df = spark.createDataFrame(rows, RAW_SCHEMA)
    good, bad = quarantine_split(df)
    assert good.count() == 1
    quarantined = {r.icao24: sorted(r.violations) for r in bad.collect()}
    assert quarantined == {
        "zz": ["icao24_hex6", "last_contact_epoch"],
        "abc124": ["lon_range", "on_ground_bool"],
    }

    # The real reference corpus passes the contract end to end.
    ref_glob = "/root/reference/data/states_*.csv"
    if not glob.glob(ref_glob):
        pytest.skip(f"synthetic half passed; reference crawl CSVs absent: {ref_glob}")
    ref = spark.read.csv(ref_glob, header=True, schema=RAW_SCHEMA)
    ref_good, ref_bad = quarantine_split(ref)
    assert ref_bad.count() == 0
    assert ref_good.count() == ref.count()


def _two_crawl_silver(spark, tmp_path) -> str:
    """Stage PAYLOAD_1 then PAYLOAD_2; return the warehouse dir."""
    landing = str(tmp_path / "landing")
    wh = str(tmp_path / "warehouse")
    cfg = JobConfig(
        job_name="crawl", base_url="u", endpoint="/s", lamin=0, lomin=0,
        lamax=1, lomax=1, output_path=landing,
    )
    extract_job(spark, cfg, fake_fetcher_for(PAYLOAD_1),
                now=datetime(2025, 11, 13, 9, 0, 0, tzinfo=timezone.utc))
    extract_job(spark, cfg, fake_fetcher_for(PAYLOAD_2),
                now=datetime(2025, 11, 13, 9, 10, 0, tzinfo=timezone.utc))
    run_incremental_load(spark, landing, wh)
    return wh


def test_gold_marts(spark, tmp_path):
    wh = _two_crawl_silver(spark, tmp_path)
    out = build_gold_marts(spark, f"{wh}/silver/state_vectors", f"{wh}/gold")
    assert out["latest_positions"] == 2  # 2 aircraft, latest state each
    latest = spark.read.parquet(f"{wh}/gold/latest_positions")
    dlh = latest.filter(F.col("icao24") == "3c4b31").first()
    assert dlh.velocity == 251.0  # the second crawl's (newer) state won
    assert out["trajectory_deltas"] == 3


def test_gold_marts_concurrent_chains(spark, tmp_path, monkeypatch):
    """The mart chains run on worker threads: their jobs stay in the
    caller's job group, repeated builds agree, and a failure raises."""
    from data_warehouse_opensky_spark.schemas import SILVER_SCHEMA
    from data_warehouse_opensky_spark.warehouse import etl

    from .test_control import job_group

    wh = _two_crawl_silver(spark, tmp_path)
    silver = f"{wh}/silver/state_vectors"
    assert [(f.name, f.dataType) for f in spark.read.parquet(silver).schema] == [
        (f.name, f.dataType) for f in SILVER_SCHEMA
    ]
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    with job_group(spark, "gold-marts-jobs") as jobs:
        first = build_gold_marts(spark, silver, f"{wh}/gold_a")
        assert len(jobs()) >= len(first) == 4
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped

    second = build_gold_marts(spark, silver, f"{wh}/gold_b")
    assert list(second) == list(first) and second == first
    for mart in first:
        a = spark.read.parquet(f"{wh}/gold_a/{mart}")
        b = spark.read.parquet(f"{wh}/gold_b/{mart}")
        assert a.count() == b.count() == first[mart]
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    # A write failing inside a worker thread reaches the caller.
    not_a_dir = tmp_path / "gold_file"
    not_a_dir.write_text("")
    with pytest.raises(Exception):
        build_gold_marts(spark, silver, str(not_a_dir))

    def boom(*args, **kwargs):
        raise RuntimeError("latest_per_key failed")

    monkeypatch.setattr(etl, "latest_per_key", boom)
    with pytest.raises(RuntimeError, match="latest_per_key failed"):
        build_gold_marts(spark, silver, f"{wh}/gold_c")


def test_cli_load_marts_and_sql(spark, tmp_path, capsys):
    """The CLI wires EP2 + stages 5-6 + EP3 end-to-end."""
    import json as _json

    from data_warehouse_opensky_spark.__main__ import main

    landing = tmp_path / "landing"
    landing.mkdir()
    header = (
        "icao24,callsign,origin_country,time_position,last_contact,longitude,"
        "latitude,baro_altitude,on_ground,velocity,true_track,vertical_rate,"
        "sensors,geo_altitude,squawk,spi,position_source"
    )
    (landing / "states_cli_20251113_090000.csv").write_text(
        header
        + "\nabc123,CS9     ,Germany,1700000000,1700000000,1.0,2.0,100.0,false,"
        "10.0,0.0,0.0,,110.0,1000,false,0\n"
    )
    wh = tmp_path / "wh"
    rc = main(["load", "--landing", str(landing), "--warehouse", str(wh)])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["files"] == {
        "states_cli_20251113_090000.csv": "CLEAN_EXPORTED"
    }

    rc = main(["marts", "--warehouse", str(wh)])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["marts"]["latest_positions"] == 1

    rc = main(
        ["sql", "SELECT count(*) AS n FROM orders", "--sf-dir",
         "/root/testdata/sf0.001"]
    )
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["n"] > 0


def test_opensky_python_datasource(spark):
    """Spark 4 Python DataSource: the bbox splits into latitude-strip
    tiles, one InputPartition each, fetched executor-side — schema,
    decode semantics, and tile->partition mapping all asserted without
    network via injected per-tile payloads."""
    import json

    from data_warehouse_opensky_spark.schemas import RAW_SCHEMA
    from data_warehouse_opensky_spark.sources.opensky_datasource import register

    register(spark)
    payloads = [
        {"states": [["a1", "CALL1   ", "X", 1700000000, 1700000010, 1.0,
                     2.0, 3.0, False, 4.0, 5.0, 6.0, None, 7.0, "1000",
                     False, 0]]},
        {"states": []},  # empty tile — absent/empty states => no rows
        {"states": [["b2", None, "Y", 1700000100, 1700000110, 10.0, 20.0,
                     None, True, None, None, None, None, None, None,
                     False, 0]]},
    ]
    df = (
        spark.read.format("opensky")
        .option("lamin", "40").option("lamax", "55")
        .option("lomin", "-5").option("lomax", "20")
        .option("tiles", "3")
        .option("fake_payloads", json.dumps(payloads))
        .load()
    )
    assert df.schema == RAW_SCHEMA
    assert df.rdd.getNumPartitions() == 3
    rows = {r.icao24: r for r in df.collect()}
    assert set(rows) == {"a1", "b2"}
    # csv.writer-faithful stringification + NULL backfill
    assert rows["a1"].on_ground == "False"
    assert rows["a1"].time_position == "1700000000"
    assert rows["b2"].callsign is None
    assert rows["b2"].baro_altitude is None
    # the decoded stream feeds the SAME clean transform as file ingest
    from data_warehouse_opensky_spark.transform import clean_state_vectors

    clean = clean_state_vectors(df)
    got = {r.icao24: r for r in clean.collect()}
    assert got["a1"].on_ground is False and got["b2"].on_ground is True


def test_opensky_streaming_datasource_polls_and_replays(spark, tmp_path):
    """Spark 4 Python streaming DataSource: each micro-batch is one
    /states/all poll (offset = poll counter). With injected payloads
    the availableNow drain consumes poll 0..N deterministically; rows
    land once each and feed the same clean transform as file ingest."""
    import json

    from data_warehouse_opensky_spark.sources.opensky_datasource import register

    register(spark)
    payloads = [
        {"states": [["a1", "CALL1   ", "X", 1700000000, 1700000010, 1.0,
                     2.0, 3.0, False, 4.0, 5.0, 6.0, None, 7.0, "1000",
                     False, 0]]},
        {"states": [["b2", None, "Y", 1700000100, 1700000110, 10.0, 20.0,
                     None, True, None, None, None, None, None, None,
                     False, 0]]},
    ]
    stream = (
        spark.readStream.format("opensky")
        .option("fake_stream_payloads", json.dumps(payloads))
        .load()
    )
    assert stream.isStreaming
    name = "opensky_stream_sink"
    # Python micro-batch streams do not support availableNow (the
    # engine logs a single-batch fallback) — run the continuous
    # trigger and stop once both polls have landed. A poll source
    # never exhausts by design: empty polls keep advancing the offset.
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    try:
        deadline = time.time() + 120
        while time.time() < deadline and spark.table(name).count() < 2:
            time.sleep(0.5)
    finally:
        q.stop()
    got = {r.icao24 for r in spark.table(name).collect()}
    assert got == {"a1", "b2"}
    assert spark.table(name).count() == 2  # exactly once per poll


def test_opensky_datasource_readers_send_the_bearer_token(monkeypatch):
    """Both DataSource readers make opensky_api's requests: the stream
    reader's poll carries `Authorization: Bearer <token>` when
    `token_url` is set, and the batch tiles carry the driver's token
    and no client secret."""
    import io
    import pickle
    import urllib.request

    from data_warehouse_opensky_spark.sources.opensky_datasource import (
        OpenSkyReader,
        OpenSkyStreamReader,
    )

    seen = []

    def urlopen(req, timeout=None):
        seen.append(req)
        if req.full_url.startswith("https://auth.invalid"):
            return io.BytesIO(json.dumps({"access_token": "tok"}).encode())
        return io.BytesIO(json.dumps(PAYLOAD_1).encode())

    monkeypatch.setattr(urllib.request, "urlopen", urlopen)
    options = {
        "base_url": "https://api.invalid",
        "token_url": "https://auth.invalid/token",
        "client_id": "me",
        "client_secret": "s3cret",
        "tiles": "2",
    }

    rows, offset = OpenSkyStreamReader(options).read({"poll": 0})
    assert [r[0] for r in rows] == ["3c4b31", "4b5da1"] and offset == {"poll": 1}
    polls = [r for r in seen if r.full_url.startswith("https://api.invalid")]
    assert [r.get_header("Authorization") for r in polls] == ["Bearer tok"]

    seen.clear()
    reader = OpenSkyReader(options)
    tiles = reader.partitions()
    assert len(tiles) == 2 and len(seen) == 1  # one token request, on the driver
    assert all(b"s3cret" not in pickle.dumps(t) for t in tiles)
    assert len(list(reader.read(tiles[1]))) == 2
    assert seen[-1].get_header("Authorization") == "Bearer tok"


def test_landing_file_name_accepts_only_plain_job_names():
    """The job name comes from `--job`; a name Spark's file readers
    mishandle (glob characters, `:`) never reaches the landing zone."""
    from data_warehouse_opensky_spark.sources.opensky_api import landing_file_name

    now = datetime(2025, 11, 13, 9, 0, 0, tzinfo=timezone.utc)
    assert landing_file_name("crawl_europe-2", now) == "states_crawl_europe-2_20251113_090000.csv"
    for job in ("eu:1", "a?b", "x[1]", "a b", "../up", ""):
        with pytest.raises(ValueError):
            landing_file_name(job, now)
