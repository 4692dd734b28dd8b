"""Explicit schema contracts (SURVEY §1.2 — never rely on CSV inference).

Raw zone: the positional 17-column OpenSky state-vector layout written
by the reference's extractor (hard-coded header list at
extract_script.py:222-227). Read as ALL STRINGS — the typed contract
is applied by transform.py, reproducing the reference's coercion
semantics exactly (load_warehouse.py:62-91), not the CSV reader's.

Clean zone: raw 17 + load_timestamp + file_source appended by the
stager (load_warehouse.py:77-85 `final_columns`, :148-149).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: extract_script.py:222-227 — positional OpenSky /states/all layout.
RAW_COLUMNS: tuple[str, ...] = (
    "icao24",
    "callsign",
    "origin_country",
    "time_position",
    "last_contact",
    "longitude",
    "latitude",
    "baro_altitude",
    "on_ground",
    "velocity",
    "true_track",
    "vertical_rate",
    "sensors",
    "geo_altitude",
    "squawk",
    "spi",
    "position_source",
)

#: The landing files both ingest paths read (extract_script.py:205).
LANDING_GLOB = "states_*.csv"

#: load_warehouse.py:77-85 — raw 17 + 2 derived, in this exact order.
CLEAN_COLUMNS: tuple[str, ...] = ("load_timestamp", "file_source") + RAW_COLUMNS

#: Raw landing-zone read schema: all strings (typing happens in transform).
RAW_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), nullable=True) for c in RAW_COLUMNS]
)

#: SURVEY §1.3 typed contract. Divergence (documented): `squawk` stays
#: StringType — the reference float-ifies it by pandas inference accident
#: (load_warehouse.py:144), which corrupts leading-zero squawk codes.
CLEAN_SCHEMA = T.StructType(
    [
        T.StructField("load_timestamp", T.TimestampType()),
        T.StructField("file_source", T.StringType()),
        T.StructField("icao24", T.StringType()),
        T.StructField("callsign", T.StringType()),  # 8-char padded, NOT trimmed
        T.StructField("origin_country", T.StringType()),
        T.StructField("time_position", T.TimestampType()),
        T.StructField("last_contact", T.TimestampType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("baro_altitude", T.DoubleType()),
        T.StructField("on_ground", T.BooleanType()),
        T.StructField("velocity", T.DoubleType()),
        T.StructField("true_track", T.DoubleType()),
        T.StructField("vertical_rate", T.DoubleType()),
        T.StructField("sensors", T.StringType()),  # always NULL in practice
        T.StructField("geo_altitude", T.DoubleType()),
        T.StructField("squawk", T.StringType()),
        T.StructField("spi", T.BooleanType()),
        T.StructField("position_source", T.IntegerType()),
    ]
)

#: The silver table as `transform.to_silver` defines it, partitioned by
#: `event_date` (UTC date of `last_contact`, else `load_timestamp`).
#: Readers pass it to skip a schema-inference job.
SILVER_SCHEMA = T.StructType(
    CLEAN_SCHEMA.fields + [T.StructField("event_date", T.DateType())]
)

#: load_warehouse.py:63-66 — the seven coerce-to-double telemetry columns.
NUMERIC_COLS: tuple[str, ...] = (
    "longitude",
    "latitude",
    "baro_altitude",
    "velocity",
    "true_track",
    "vertical_rate",
    "geo_altitude",
)

#: load_warehouse.py:70-71 — epoch-seconds → timestamp columns.
EPOCH_COLS: tuple[str, ...] = ("time_position", "last_contact")

#: load_warehouse.py:73-75 — strict-parse boolean columns.
BOOL_COLS: tuple[str, ...] = ("on_ground", "spi")
