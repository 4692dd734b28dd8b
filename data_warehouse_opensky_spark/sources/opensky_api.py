"""OpenSky REST ingestion source (SURVEY T1.1–T1.3, EP1).

Reproduces the reference extractor's behavior (extract_script.py):
OAuth2 client-credentials token (:77-104), bbox-parameterized
/states/all GET (:106-123), positional states→rows decode (:191-238),
timestamped CSV landing files (:205-235) — re-expressed for Spark:
the HTTP fetch stays a thin driver-side client (network I/O is not a
cluster concern at one request per 10 minutes); the payload becomes a
DataFrame immediately, and all downstream movement is Spark.

The HTTP transport is injectable (`fetcher`) so tests run without
network; the real transport uses urllib from the standard library.
The token, request and decode here are the only ones: the
`format("opensky")` DataSource (opensky_datasource.py) calls them too.
"""

from __future__ import annotations

import json
import re
import urllib.parse
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import RAW_COLUMNS, RAW_SCHEMA

#: fetcher(url, data, headers) -> bytes. Injectable for tests.
Fetcher = Callable[[str, bytes | None, dict[str, str]], bytes]


def _urllib_fetcher(url: str, data: bytes | None, headers: dict[str, str]) -> bytes:
    req = urllib.request.Request(url, data=data, headers=headers)
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return resp.read()


@dataclass(frozen=True)
class JobConfig:
    """Per-job config — the reference's `job_definitions` row
    (extract_script.py:136-147), minus DB plumbing."""

    job_name: str
    base_url: str
    endpoint: str
    lamin: float
    lomin: float
    lamax: float
    lomax: float
    output_path: str
    client_id: str = ""
    client_secret: str = ""
    token_url: str = ""


def get_access_token(cfg: JobConfig, fetcher: Fetcher = _urllib_fetcher) -> str | None:
    """OAuth2 client-credentials grant (extract_script.py:77-104);
    None, with no request, when `cfg.token_url` is empty (anonymous
    access)."""
    if not cfg.token_url:
        return None
    body = urllib.parse.urlencode(
        {
            "grant_type": "client_credentials",
            "client_id": cfg.client_id,
            "client_secret": cfg.client_secret,
        }
    ).encode()
    raw = fetcher(
        cfg.token_url, body, {"Content-Type": "application/x-www-form-urlencoded"}
    )
    return json.loads(raw)["access_token"]


def fetch_states(
    cfg: JobConfig, token: str | None = None, fetcher: Fetcher = _urllib_fetcher
) -> dict:
    """GET {base_url}{endpoint}?lamin=…&lomin=…&lamax=…&lomax=… with
    bearer auth (extract_script.py:106-123). The bbox predicate is
    pushed to the source API — the reference's only 'pushdown'."""
    params = urllib.parse.urlencode(
        {"lamin": cfg.lamin, "lomin": cfg.lomin, "lamax": cfg.lamax, "lomax": cfg.lomax}
    )
    headers = {"Authorization": f"Bearer {token}"} if token else {}
    raw = fetcher(f"{cfg.base_url}{cfg.endpoint}?{params}", None, headers)
    return json.loads(raw)


def decode_states(payload: dict) -> list[tuple]:
    """Positional states array-of-arrays → raw rows in `RAW_COLUMNS`
    order (extract_script.py:191-238 semantics: missing/empty `states`
    → no rows; missing tail columns → NULL; every value stringified
    exactly as csv.writer would)."""
    width = len(RAW_COLUMNS)
    rows = []
    for s in payload.get("states") or []:
        vals = list(s[:width]) + [None] * (width - len(s))
        rows.append(tuple(None if v is None else str(v) for v in vals))
    return rows


def states_to_dataframe(spark: SparkSession, payload: dict) -> DataFrame:
    """One payload as a typed-string DataFrame (explicit RAW_SCHEMA)."""
    return spark.createDataFrame(decode_states(payload), RAW_SCHEMA)


def landing_file_name(job_name: str, now: datetime | None = None) -> str:
    """states_{job}_{yyyymmdd_HHMMSS}.csv (extract_script.py:205).

    The job name comes from the command line, so anything but
    `[A-Za-z0-9_-]+` raises ValueError: Spark's streaming file source
    double-reads names with glob characters, and a `:` fails both
    readers (streaming/ingest.py)."""
    if not re.fullmatch(r"[A-Za-z0-9_-]+", job_name):
        raise ValueError(f"job name must match [A-Za-z0-9_-]+, got {job_name!r}")
    now = now or datetime.now(timezone.utc)
    return f"states_{job_name}_{now.strftime('%Y%m%d_%H%M%S')}.csv"


def write_landing_csv(df: DataFrame, directory: str, file_name: str) -> str:
    """Write one crawl's rows as a single headered CSV into the landing
    zone (T1.3). Single file by design — a crawl is ≤ a few hundred
    rows; the landing zone's unit of idempotency is the file."""
    target = f"{directory}/{file_name}"
    tmp = f"{directory}/.tmp_{file_name}"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    # promote the single part file to its final name (atomic rename)
    import glob
    import os
    import shutil

    part = glob.glob(f"{tmp}/part-*.csv")[0]
    os.makedirs(directory, exist_ok=True)
    shutil.move(part, target)
    shutil.rmtree(tmp)
    return target


def extract_job(
    spark: SparkSession,
    cfg: JobConfig,
    fetcher: Fetcher = _urllib_fetcher,
    now: datetime | None = None,
) -> tuple[str, int]:
    """EP1 end-to-end: token → fetch → decode → landing CSV.

    Returns (path, row_count). Audit logging is the caller's concern
    (warehouse.control.log_job) — unlike the reference, ingest and
    bookkeeping are decoupled so either can be retried alone."""
    payload = fetch_states(cfg, get_access_token(cfg, fetcher), fetcher)
    df = states_to_dataframe(spark, payload)
    n = df.count()
    path = write_landing_csv(df, cfg.output_path, landing_file_name(cfg.job_name, now))
    return path, n
