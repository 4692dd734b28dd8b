"""Reference-contract export sinks (T1.17 JDBC staging, T1.18 clean CSV).

The repo's warehouse truth lives in the bronze archive of landing
files and silver/gold parquet (warehouse/etl.py) — the scale-correct
layout. These two sinks exist
for consumers of the REFERENCE's contracts:

* `export_clean_csv` — the `DataStaging/clean_<name>.csv` header-once
  file the reference stager emits per raw file
  (load_warehouse.py:131-161: output path :133, header-once append
  loop :147-159). Values are rendered pandas-`to_csv`-compatible
  (True/False booleans, per-value sub-second timestamp suffix, empty
  string for NULL) so a downstream reader of the reference's files
  can read ours unchanged.
* `write_staging_jdbc` — the raw append to a relational staging table
  (`chunk.to_sql('raw_flight_states', …, if_exists='append')`,
  load_warehouse.py:151). Spark-side this is one `df.write.jdbc`
  append; partition-parallel inserts replace the reference's
  sequential chunk loop. Optional — the bronze archive remains the
  default; no JDBC driver jar ships with this repo.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import BOOL_COLS, CLEAN_COLUMNS, EPOCH_COLS
from ..sources.config import DbConfig

_TS_COLS = ("load_timestamp",) + EPOCH_COLS


def _pandas_ts(c: str) -> Column:
    """Render a timestamp the way pandas str(Timestamp) does: seconds
    precision normally, '.ffffff' suffix only when sub-second is
    non-zero (pandas formats per value, not per column)."""
    base = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    micros = F.date_format(c, "SSSSSS")
    return F.when(
        micros == "000000", base
    ).otherwise(F.concat(base, F.lit("."), micros))


def _pandas_bool(c: str) -> Column:
    """pandas writes Python bool repr: True/False (NULL → empty)."""
    return F.when(F.col(c), "True").when(~F.col(c), "False")


def clean_csv_frame(clean_df: DataFrame) -> DataFrame:
    """Project the typed clean frame to its pandas-compatible CSV
    rendering (all strings, reference column order)."""
    exprs = []
    for c in CLEAN_COLUMNS:
        if c in _TS_COLS:
            exprs.append(_pandas_ts(c).alias(c))
        elif c in BOOL_COLS:
            exprs.append(_pandas_bool(c).alias(c))
        else:
            exprs.append(F.col(c).cast("string").alias(c))
    return clean_df.select(*exprs)


def export_clean_csv(clean_df: DataFrame, out_dir: str, file_name: str) -> str:
    """Write `<out_dir>/clean_<file_name>` — single file, header once.

    The reference appends chunk-by-chunk with header only on the first
    chunk (load_warehouse.py:147-159); a single headered CSV is the
    same artifact. coalesce(1) is correct here BY CONTRACT: the unit
    is one raw landing file (≤ a few hundred thousand rows) — bulk
    exports at scale use the parquet silver zone instead.
    """
    target = os.path.join(out_dir, f"clean_{file_name}")
    tmp = os.path.join(out_dir, f".tmp_clean_{file_name}")
    (
        clean_csv_frame(clean_df)
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("emptyValue", "")  # pandas writes nothing for NaN/None
        # univocity trims cell whitespace on write by default, which
        # would clobber the callsign's contractual 8-char padding
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(tmp)
    )
    os.makedirs(out_dir, exist_ok=True)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    if os.path.exists(target):
        os.remove(target)  # idempotent re-export (load_warehouse.py:141-142)
    shutil.move(part, target)
    shutil.rmtree(tmp)
    return target


def staging_jdbc_options(
    db: DbConfig,
    table: str = "raw_flight_states",
    batchsize: int = 10_000,
) -> dict[str, str]:
    """JDBC writer options for the staging append — pure and unit-
    testable without a driver jar on the classpath."""
    return {
        "url": db.jdbc_url(),
        "dbtable": table,
        "user": db.user,
        "password": db.password,
        "driver": db.jdbc_properties()["driver"],
        "batchsize": str(batchsize),
    }


def write_jdbc_append(df: DataFrame, options: dict[str, str]) -> None:
    """The JDBC append sink itself: mode(append) + format(jdbc) with
    the supplied connection options. Split from write_staging_jdbc so
    the live round-trip can be exercised against ANY reachable JDBC
    endpoint (the integration test uses Spark's bundled embedded
    Derby; production uses the Postgres options above) — same code
    path either way."""
    df.write.mode("append").format("jdbc").options(**options).save()


def write_staging_jdbc(
    df: DataFrame,
    db: DbConfig,
    table: str = "raw_flight_states",
    batchsize: int = 10_000,
) -> None:
    """Append `df` to a JDBC staging table (T1.17,
    load_warehouse.py:151). Each partition inserts in parallel with
    `batchsize`-row batches — the Spark replacement for the
    reference's sequential 100k-row chunk loop (:137,:145)."""
    write_jdbc_append(df, staging_jdbc_options(db, table, batchsize))
