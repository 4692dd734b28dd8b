"""Zone ETL: landing CSV → bronze → silver → gold (SURVEY §1.1.3, EP2,
and the diagram's missing stages 4–6).

The reference's sequential per-file/per-chunk loops (load_warehouse.py
:145,:196 — its scalability ceiling, SURVEY §3 EP2) become one Spark
write per tick: every file of the tick is cleaned and appended to
silver together. Its two sinks (raw Postgres append + clean CSV)
become a bronze archive of the landing file and a silver parquet
write. Per-file fault isolation (T1.22) is preserved: when the batched
write fails, the files are staged one by one, so one bad file logs
FAILED and the others still land. The gold marts' independent chains
are written concurrently.

Scale design (the 100 TB layout):
* bronze: the landing CSV itself, hard-linked on the driver into
  `ingest_date=<UTC date>/` — raw, append-only, never rewritten, and
  no Spark job or second parse of the file.
* silver: typed clean table partitioned by event date
  (`last_contact`), the column every time-windowed query prunes on.
* gold marts: pre-aggregated cubes rebuilt per load (tiny relative to
  fact data; at scale, incremental MERGE per partition).
"""

from __future__ import annotations

import fnmatch
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import latest_per_key
from ..schemas import LANDING_GLOB, RAW_SCHEMA, SILVER_SCHEMA
from ..session import configure_runtime
from ..sources.config import DbConfig
from ..transform import source_file_name, to_silver
from .control import FileLog
from .export import export_clean_csv, write_staging_jdbc


def link_or_copy(src: str, dst: str) -> None:
    """Hard-link `src` to `dst`. Where the link fails (another
    filesystem, no hard-link support) copy to a dot-prefixed temp file
    and rename it into place, so `dst` is never seen partial. An
    existing `dst` is left as it is."""
    if os.path.lexists(dst):
        return
    try:
        os.link(src, dst)
    except OSError:
        head, name = os.path.split(dst)
        tmp = os.path.join(head, f".{name}.{os.getpid()}.tmp")
        try:
            shutil.copy2(src, tmp)
            os.replace(tmp, dst)
        finally:
            if os.path.lexists(tmp):
                os.remove(tmp)


def discover_new_files(landing_dir: str, file_log: FileLog) -> list[str]:
    """T1.4 + T1.5: glob the landing zone, register unseen files as NEW
    in the ledger, return the paths of every file still NEW."""
    names = sorted(f for f in os.listdir(landing_dir) if fnmatch.fnmatchcase(f, LANDING_GLOB))
    return [f"{landing_dir}/{n}" for n in file_log.register_new(names)]


def stage_files(
    spark: SparkSession,
    paths: list[str],
    bronze_dir: str,
    silver_dir: str,
    file_log: FileLog,
    clean_csv_dir: str | None = None,
    jdbc: "DbConfig | None" = None,
) -> dict[str, str]:
    """EP2 staging of one tick's files with per-file fault isolation
    (T1.22). Returns {file_name: final_status}.

    Each file is recorded PROCESSING and hard-linked into
    `bronze_dir/ingest_date=<UTC date>/` (byte copy across
    filesystems; no Spark job); a link failure marks only that file
    FAILED. Every linked file is then staged by one `_stage_together`
    call: ONE raw read of the tick (explicit schema, each path read
    literally), `transform.to_silver` and ONE silver append partitioned
    by event date, with each file's row count observed on that write.
    Optional reference-contract sinks: `clean_csv_dir`
    emits DataStaging-style clean_<name>.csv per file (T1.18), `jdbc`
    appends the raw rows plus `file_source`/`load_timestamp` to a
    relational staging table in one write (T1.17) — see
    warehouse/export.py.

    If the batched write raises, the same helper runs once per file, so
    a bad file ends FAILED and the others still land (T1.22). Two
    failure windows are wider than a per-file loop's: a kill between
    the silver append and the CLEAN_EXPORTED records leaves every file
    of the tick in PROCESSING, and a batch that fails inside its commit
    after some output moved can have those rows appended again by the
    per-file fallback."""
    configure_runtime(spark)
    results: dict[str, str] = {}

    def failed(name: str, ex: Exception) -> None:
        file_log.record(name, "FAILED", error_message=str(ex))
        results[name] = "FAILED"

    linked: list[str] = []
    for path in paths:
        name = os.path.basename(path)
        file_log.record(name, "PROCESSING")
        try:
            bronze = f"{bronze_dir}/ingest_date={datetime.now(timezone.utc).date()}"
            os.makedirs(bronze, exist_ok=True)
            link_or_copy(path, f"{bronze}/{name}")
            linked.append(path)
        except Exception as ex:  # noqa: BLE001 — per-file isolation is the contract
            failed(name, ex)

    counts: dict[str, int] = {}
    if linked:
        try:
            counts = _stage_together(spark, linked, silver_dir, clean_csv_dir, jdbc)
        except Exception:  # noqa: BLE001 — retry file by file to isolate the bad one
            for path in linked:
                try:
                    counts |= _stage_together(spark, [path], silver_dir, clean_csv_dir, jdbc)
                except Exception as ex:  # noqa: BLE001
                    failed(os.path.basename(path), ex)
    for name, n in counts.items():
        file_log.record(name, "CLEAN_EXPORTED", row_count=n)
        results[name] = "CLEAN_EXPORTED"
    # Auto-compaction cadence (VERDICT r11 #6 / SCALE.md §42): after
    # the batch's status writes, fold the event log back to one row
    # per file once its directory listing crosses the threshold —
    # keeps control-table listing O(keys) over unbounded cron runs.
    file_log.maybe_compact()
    return results


#: Hadoop glob metacharacters; each is backslash-escaped in a staged
#: path so the read matches exactly that one file.
_GLOB_CHARS = re.compile(r"([\\*?\[\]{}])")


def _stage_together(
    spark: SparkSession,
    paths: list[str],
    silver_dir: str,
    clean_csv_dir: str | None,
    jdbc: "DbConfig | None",
) -> dict[str, int]:
    """Read `paths` in one scan, append them to silver in one write and
    return {file_name: rows}."""
    names = [os.path.basename(p) for p in paths]
    raw = spark.read.csv(
        [_GLOB_CHARS.sub(r"\\\1", p) for p in paths], header=True, schema=RAW_SCHEMA
    )
    if jdbc is not None:
        write_staging_jdbc(
            raw.withColumns(
                {"file_source": source_file_name(), "load_timestamp": F.current_timestamp()}
            ),
            jdbc,
        )

    silver = to_silver(raw)
    if clean_csv_dir is not None:
        for n in names:
            export_clean_csv(silver.filter(F.col("file_source") == n), clean_csv_dir, n)
    # Per-file row counts ride along the write via observe() — one scan
    # of the tick, not a count() pass plus a write pass.
    obs = Observation("stage")
    silver.observe(
        obs, *[F.count_if(F.col("file_source") == n).alias(str(i)) for i, n in enumerate(names)]
    ).write.mode("append").partitionBy("event_date").parquet(silver_dir)
    counts = obs.get
    return {n: counts[str(i)] for i, n in enumerate(names)}


def _state_vector_rules() -> list[tuple[str, "F.Column"]]:
    """Row-level contract rules for raw state vectors: (rule_name,
    passes-predicate). The reference coerces bad values to NULL
    silently (load_warehouse.py:63-75); a production pipeline also
    wants to KNOW which rows violated the contract — these rules make
    that observable without changing the coercion semantics."""
    return [
        ("icao24_hex6", F.col("icao24").rlike("^[0-9a-fA-F]{6}$")),
        (
            "last_contact_epoch",
            F.col("last_contact").cast("long").isNotNull(),
        ),
        (
            "lon_range",
            F.col("longitude").isNull()
            | F.col("longitude").cast("double").between(-180.0, 180.0),
        ),
        (
            "lat_range",
            F.col("latitude").isNull()
            | F.col("latitude").cast("double").between(-90.0, 90.0),
        ),
        (
            "on_ground_bool",
            F.col("on_ground").isNull()
            | F.lower("on_ground").isin("true", "false"),
        ),
    ]


def with_violations(
    df: DataFrame, rules: list[tuple[str, "F.Column"]] | None = None
) -> DataFrame:
    """Add a `violations` array column naming every failed rule.

    One projection, row-local, zero shuffles: each rule evaluates to
    its name or NULL and the array compacts out the NULLs — the
    data-quality check costs one pass regardless of rule count, vs one
    filter job per rule. Callers split on `size(violations)`.
    """
    rules = rules if rules is not None else _state_vector_rules()
    checks = F.array_compact(
        F.array(
            *[F.when(~pred, F.lit(name)).otherwise(F.lit(None)) for name, pred in rules]
        )
    )
    return df.withColumn("violations", checks)


def quarantine_split(
    df: DataFrame, rules: list[tuple[str, "F.Column"]] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split rows into (good, quarantined-with-reasons) — the ROW-level
    complement of the per-FILE fault isolation above (T1.22): a file
    with a few bad rows no longer fails or silently null-coerces; the
    bad rows land in a rejects frame carrying the violated rule names
    for reprocessing.

    Both branches derive from one `with_violations` projection; writing
    them is two scans of the source (or one with persist/foreachBatch —
    at 100 TB quarantine volume is ~0, so the second scan is cheap and
    AQE prunes it to the violating partitions when a partition filter
    exists).
    """
    v = with_violations(df, rules)
    good = v.filter(F.size("violations") == 0).drop("violations")
    bad = v.filter(F.size("violations") > 0)
    return good, bad


def run_incremental_load(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
) -> dict[str, str]:
    """EP2 end-to-end: discover → stage → (idempotent on re-run)."""
    file_log = FileLog(spark, f"{warehouse_dir}/control/file_log")
    new_paths = discover_new_files(landing_dir, file_log)
    return stage_files(
        spark,
        new_paths,
        f"{warehouse_dir}/bronze/state_vectors",
        f"{warehouse_dir}/silver/state_vectors",
        file_log,
    )


def build_gold_marts(spark: SparkSession, silver_dir: str, gold_dir: str) -> dict[str, int]:
    """Diagram stages 5–6: aggregate marts off the silver table.

    country_hour_cube  — T2.8 cube (country × hour × on_ground)
    latest_positions   — T2.5 current state per aircraft
    country_toplists   — T2.10 fastest aircraft per country
    trajectory_deltas  — T2.9 lag deltas per aircraft

    Silver is read with `SILVER_SCHEMA`, so no schema-inference job
    runs. The three independent chains (the cube; latest_positions then
    the toplists read back from it; the deltas) write concurrently on
    three threads that inherit the caller's job group and tags. An
    exception from any chain propagates once all three have stopped.
    """
    s = spark.read.schema(SILVER_SCHEMA).parquet(silver_dir)

    def write_mart(df: DataFrame, name: str) -> int:
        # Mart row counts ride along the write via observe() — each
        # cube/window computes exactly once (a trailing .count() on the
        # unwritten plan would re-run the whole aggregation).
        obs = Observation(f"mart:{name}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{gold_dir}/{name}")
        return obs.get["n"]

    cube = (
        s.withColumn("hour", F.date_trunc("hour", "last_contact"))
        .cube("origin_country", "hour", "on_ground")
        .agg(
            F.count("*").alias("n_states"),
            F.countDistinct("icao24").alias("n_aircraft"),
            F.avg("velocity").alias("avg_velocity"),
            F.avg("baro_altitude").alias("avg_baro_altitude"),
        )
    )
    latest = latest_per_key(
        s, "icao24", ["last_contact", "time_position", "file_source"]
    )
    tw = Window.partitionBy("icao24").orderBy("last_contact", "file_source")
    deltas = s.select(
        "icao24",
        "last_contact",
        (F.col("velocity") - F.lag("velocity").over(tw)).alias("velocity_delta"),
        (F.col("baro_altitude") - F.lag("baro_altitude").over(tw)).alias(
            "altitude_delta"
        ),
        (
            F.unix_timestamp("last_contact")
            - F.lag(F.unix_timestamp("last_contact")).over(tw)
        ).alias("gap_s"),
    )

    def latest_then_toplists() -> dict[str, int]:
        n_latest = write_mart(latest, "latest_positions")
        # Toplists rank the written mart, so the two cannot disagree on a tie.
        written = spark.read.schema(SILVER_SCHEMA).parquet(f"{gold_dir}/latest_positions")
        w = Window.partitionBy("origin_country").orderBy(F.desc_nulls_last("velocity"))
        top = (
            written.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("origin_country", "rank", "icao24", "callsign", "velocity")
        )
        n_top = write_mart(top, "country_toplists")
        return {"latest_positions": n_latest, "country_toplists": n_top}

    chains = [
        lambda: {"country_hour_cube": write_mart(cube, "country_hour_cube")},
        latest_then_toplists,
        lambda: {"trajectory_deltas": write_mart(deltas, "trajectory_deltas")},
    ]
    # One inheritable_thread_target(spark) per task: each copies the
    # caller's local properties, and Spark sets per-query ones on them.
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in chains]
    out: dict[str, int] = {}
    for f in futures:
        out |= f.result()
    return out
