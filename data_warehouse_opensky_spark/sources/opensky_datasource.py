"""Spark 4 Python DataSource for the OpenSky /states/all REST API —
`spark.read.format("opensky")` (SURVEY T1.1's native mapping).

The thin driver-side client (opensky_api.py) matches the reference's
one-bbox-per-10-minutes cadence (extract_script.py:106-123). This
DataSource is the scale path the reference cannot express: the bbox
SPLITS INTO LATITUDE-STRIP TILES, one InputPartition per tile, so the
fetch fans out across executors — N independent, smaller API reads
instead of one giant driver-side payload. The token, request and
decode are opensky_api's own (`get_access_token`, `fetch_states`,
`decode_states`), driven by one `JobConfig` built from the options.

The OAuth2 token is obtained ONCE on the driver (in `partitions()`)
and shipped inside each partition value, next to a `JobConfig` with
the client id, secret and token URL blanked, so the tile requests
carry only the bearer token. The reader's options, `client_secret`
included, are still shipped to executors: Spark pickles the reader
with them.

Streaming: `spark.readStream.format("opensky")` maps the reference's
10-minute cron loop (extract_script.py:106-123) onto a
SimpleDataSourceStreamReader — each micro-batch is ONE API poll, the
offset is the poll counter, and `readBetweenOffsets` replays a
committed batch deterministically (test-injected payloads; a real
re-poll cannot replay, which is exactly why the FILE landing zone +
checkpoint (streaming/ingest.py) remains the exactly-once production
path — the live poll stream is for latency-tolerant monitoring marts,
and the docstring of each names the trade).

Deliberately NOT implemented:
* `pushFilters` — the raw contract is all-string columns (SURVEY
  §1.2), so Catalyst pushes STRING comparisons; mapping those onto the
  numeric bbox parameters would silently change semantics (lexical vs
  numeric order). Bbox narrowing belongs in the read options, typed.

Tests inject `fake_payloads` (a JSON list of /states/all payloads, one
per tile) so no network is touched; the real transport is
opensky_api's, executor-side.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence
from dataclasses import replace

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..schemas import RAW_SCHEMA
from .opensky_api import JobConfig, decode_states, fetch_states, get_access_token

FORMAT_NAME = "opensky"


def _job_config(options: dict) -> JobConfig:
    """The reader options as the one request config opensky_api reads."""
    return JobConfig(
        job_name="datasource",
        base_url=options.get("base_url", ""),
        endpoint=options.get("endpoint", "/states/all"),
        lamin=float(options.get("lamin", "-90")),
        lomin=float(options.get("lomin", "-180")),
        lamax=float(options.get("lamax", "90")),
        lomax=float(options.get("lomax", "180")),
        output_path="",
        client_id=options.get("client_id", ""),
        client_secret=options.get("client_secret", ""),
        token_url=options.get("token_url", ""),
    )


def _fake(payloads_json: str, n: int) -> dict:
    """Injected payload `n`; an empty poll past the end of the list."""
    payloads = json.loads(payloads_json)
    return payloads[n] if n < len(payloads) else {"states": []}


class _TilePartition(InputPartition):
    def __init__(self, index: int, cfg: JobConfig, token: str | None):
        self.index = index
        self.cfg = cfg
        self.token = token


class OpenSkyReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def partitions(self) -> Sequence[InputPartition]:
        cfg = _job_config(self.options)
        token = get_access_token(cfg)
        tile = replace(cfg, client_id="", client_secret="", token_url="")
        tiles = max(1, int(self.options.get("tiles", "1")))
        step = (cfg.lamax - cfg.lamin) / tiles
        return [
            _TilePartition(
                i,
                replace(tile, lamin=cfg.lamin + i * step, lamax=cfg.lamin + (i + 1) * step),
                token,
            )
            for i in range(tiles)
        ]

    def read(self, partition: _TilePartition) -> Iterator[tuple]:
        fakes = self.options.get("fake_payloads")
        if fakes is not None:
            payload = _fake(fakes, partition.index)
        else:
            payload = fetch_states(partition.cfg, partition.token)
        yield from decode_states(payload)


class OpenSkyStreamReader(SimpleDataSourceStreamReader):
    """Live-poll micro-batch reader: one /states/all poll per batch,
    with a fresh bearer token per poll when `token_url` is set.

    Offset = {"poll": n} (monotone counter). With test-injected
    `fake_stream_payloads`, poll i deterministically yields payload i
    (and nothing past the list) so `readBetweenOffsets` replays a
    committed range bit-for-bit; against the live API a replay would
    re-poll NOW and see different aircraft — the documented reason
    the file landing zone stays the exactly-once path.
    """

    def __init__(self, options: dict):
        self.options = options

    def initialOffset(self) -> dict:
        return {"poll": 0}

    def _payload(self, n: int) -> dict:
        fakes = self.options.get("fake_stream_payloads")
        if fakes is not None:
            return _fake(fakes, n)
        cfg = _job_config(self.options)
        return fetch_states(cfg, get_access_token(cfg))

    def read(self, start: dict):
        n = start["poll"]
        return decode_states(self._payload(n)), {"poll": n + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows: list[tuple] = []
        for n in range(start["poll"], end["poll"]):
            rows.extend(decode_states(self._payload(n)))
        return rows


class OpenSkyDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        return RAW_SCHEMA

    def reader(self, schema) -> OpenSkyReader:
        return OpenSkyReader(self.options)

    def simpleStreamReader(self, schema) -> OpenSkyStreamReader:
        return OpenSkyStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the format with a session:
    `spark.read.format("opensky")...load()` afterwards."""
    spark.dataSource.register(OpenSkyDataSource)
