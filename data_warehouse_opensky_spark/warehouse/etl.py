"""Zone ETL: landing CSV → bronze → silver → gold (SURVEY §1.1.3, EP2,
and the diagram's missing stages 4–6).

The reference's sequential per-file/per-chunk loops (load_warehouse.py
:145,:196 — its scalability ceiling, SURVEY §3 EP2) become Spark
partitioned scans; its two sinks (raw Postgres append + clean CSV)
become a bronze archive of the landing file and a silver parquet
write. Per-file fault isolation (T1.22)
is preserved: one bad file logs FAILED and the loop continues.

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

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import latest_per_key
from ..schemas import RAW_SCHEMA
from ..session import configure_runtime
from ..sources.config import DbConfig
from ..transform import clean_state_vectors
from .control import FileLog
from .export import export_clean_csv, write_staging_jdbc
from .versioned import link_or_copy


def discover_new_files(landing_dir: str, file_log: FileLog) -> list[str]:
    """T1.4 + T1.5: glob the landing zone, register unseen files as NEW
    in the ledger, return the paths of every file still NEW."""
    names = sorted(
        f for f in os.listdir(landing_dir) if f.startswith("states_") and f.endswith(".csv")
    )
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
    """EP2 core loop with per-file fault isolation (T1.22).

    Returns {file_name: final_status}. Each file: hard link into
    `bronze_dir/ingest_date=<UTC date>/` (byte copy across
    filesystems; no Spark job) → one raw read (explicit schema, no
    inference) → §1.3 clean transform → silver append partitioned by
    event date. Optional reference-contract sinks: `clean_csv_dir`
    emits DataStaging-style clean_<name>.csv per file (T1.18), `jdbc`
    appends the raw frame plus `file_source`/`load_timestamp` to a
    relational staging table (T1.17) — see warehouse/export.py."""
    configure_runtime(spark)
    results: dict[str, str] = {}
    for path in paths:
        name = os.path.basename(path)
        file_log.record(name, "PROCESSING")
        try:
            bronze = f"{bronze_dir}/ingest_date={datetime.now(timezone.utc).date()}"
            os.makedirs(bronze, exist_ok=True)
            link_or_copy(path, f"{bronze}/{name}")
            raw = spark.read.csv(path, header=True, schema=RAW_SCHEMA)
            if jdbc is not None:
                write_staging_jdbc(
                    raw.withColumn("file_source", F.lit(name)).withColumn(
                        "load_timestamp", F.current_timestamp()
                    ),
                    jdbc,
                )

            clean = clean_state_vectors(raw, file_source=F.lit(name))
            if clean_csv_dir is not None:
                export_clean_csv(clean, clean_csv_dir, name)
            # Row count rides along the write via observe() — one scan
            # per file, not a count() pass plus a write pass (the
            # double-compute doubles ETL cost at 100× file counts).
            obs = Observation(f"stage:{name}")
            clean.observe(obs, F.count(F.lit(1)).alias("n")).withColumn(
                "event_date", F.to_date(F.coalesce("last_contact", "load_timestamp"))
            ).write.mode("append").partitionBy("event_date").parquet(silver_dir)
            n = obs.get["n"]

            file_log.record(name, "CLEAN_EXPORTED", row_count=n)
            results[name] = "CLEAN_EXPORTED"
        except Exception as ex:  # noqa: BLE001 — per-file isolation is the contract
            file_log.record(name, "FAILED", error_message=str(ex))
            results[name] = "FAILED"
    # Auto-compaction cadence (VERDICT r11 #6 / SCALE.md §42): after
    # the batch's status writes, fold the event log back to one row
    # per file once its directory listing crosses the threshold —
    # keeps control-table listing O(keys) over unbounded cron runs.
    file_log.maybe_compact()
    return results


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
    """
    s = spark.read.parquet(silver_dir)
    out: dict[str, int] = {}

    def write_mart(df: DataFrame, name: str) -> None:
        # Mart row counts ride along the write via observe() — each
        # cube/window computes exactly once (a trailing .count() on the
        # unwritten plan would re-run the whole aggregation).
        obs = Observation(f"mart:{name}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{gold_dir}/{name}")
        out[name] = obs.get["n"]

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
    write_mart(cube, "country_hour_cube")

    latest = latest_per_key(
        s, "icao24", ["last_contact", "time_position", "file_source"]
    )
    write_mart(latest, "latest_positions")
    latest = spark.read.parquet(f"{gold_dir}/latest_positions")

    w = Window.partitionBy("origin_country").orderBy(F.desc_nulls_last("velocity"))
    top = (
        latest.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("origin_country", "rank", "icao24", "callsign", "velocity")
    )
    write_mart(top, "country_toplists")

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
    write_mart(deltas, "trajectory_deltas")
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    path: str,
    sort_cols: list[str] | None = None,
) -> None:
    """Write a table bucketed (and optionally sorted) on its join key.

    The 100 TB co-location primitive: two tables bucketed on the same
    key with the same bucket count join WITHOUT any shuffle — each task
    zips bucket i with bucket i (tests/test_plans.py pins the no-
    Exchange plan). This is how repeated fact↔fact joins (e.g.
    state-vectors ↔ per-aircraft dims rebuilt hourly) amortize their
    shuffle: pay one bucketed write, skip the exchange on every later
    join. Sorting within buckets additionally drops the per-join sort
    for sort-merge.
    """
    w = df.write.mode("overwrite").option("path", path).bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
