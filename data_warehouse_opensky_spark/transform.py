"""The reference-faithful clean transform (SURVEY §1.3 contract).

Reproduces `transform_chunk` + the derived columns of the reference
stager (load_warehouse.py:62-91,148-149) as a pure DataFrame→DataFrame
function built entirely from JVM-side expressions — one narrow
projection, no UDFs, no shuffle; Catalyst folds it into the scan stage.

Semantics reproduced exactly:
* 7 telemetry columns: string → double, invalid → NULL
  (pd.to_numeric(errors='coerce'), load_warehouse.py:63-66) → try_cast.
* position_source: → nullable int (astype('Int64'), :68) → try_cast.
* time_position/last_contact: epoch seconds → timestamp, invalid →
  NULL (:70-71) → try_cast long + timestamp_seconds.
* on_ground/spi: STRICT bool — lowercase ∈ {'true','false'} else NULL
  (:73-75). Spark's cast('boolean') is wider (t/f/y/n/0/1) — not used.
* callsign: passthrough, trailing 8-char padding preserved (§1.3).
* squawk: passthrough STRING (documented divergence: the reference
  accidentally float-ifies via pandas inference, corrupting
  leading-zero codes — an inference bug, not intended semantics).
* Projection to the exact 19-column clean order, missing raw columns
  back-filled as NULL (:77-91).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import strict_bool, try_double, try_int
from .schemas import BOOL_COLS, CLEAN_COLUMNS, EPOCH_COLS, NUMERIC_COLS


def source_file_name() -> Column:
    """The name of the row's input file exactly as it is on disk ("" on
    a frame that is not a file scan). `input_file_name()` is a
    percent-encoded URI; `+` is protected as `%2B` first because
    `url_decode` would read a literal `+` as a space."""
    name = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return F.url_decode(F.regexp_replace(name, r"\+", "%2B"))


def clean_state_vectors(
    raw: DataFrame,
    file_source: Column | None = None,
    load_timestamp: Column | None = None,
) -> DataFrame:
    """Apply the §1.3 typed contract to an all-strings raw DataFrame.

    `file_source` defaults to `source_file_name()` (the Spark-native
    form of load_warehouse.py:149); `load_timestamp` defaults to
    current_timestamp() (:148). Both are injectable so tests can pin
    deterministic values.
    """
    if file_source is None:
        file_source = source_file_name()
    if load_timestamp is None:
        load_timestamp = F.current_timestamp()

    exprs: dict[str, Column] = {
        "load_timestamp": load_timestamp.cast("timestamp"),
        "file_source": file_source.cast("string"),
    }
    cols = set(raw.columns)
    for c in CLEAN_COLUMNS[2:]:
        if c not in cols:
            exprs[c] = F.lit(None).cast("string")  # back-fill (:87-89)
        elif c in NUMERIC_COLS:
            exprs[c] = try_double(c)
        elif c in EPOCH_COLS:
            exprs[c] = F.timestamp_seconds(F.col(c).try_cast("long"))
        elif c in BOOL_COLS:
            exprs[c] = strict_bool(c)
        elif c == "position_source":
            exprs[c] = try_int(c)  # astype('Int64'), load_warehouse.py:68
        else:
            exprs[c] = F.col(c).cast("string")

    return raw.select(*[exprs[c].alias(c) for c in CLEAN_COLUMNS])


def to_silver(raw: DataFrame) -> DataFrame:
    """A `SILVER_SCHEMA` row per raw row, for cron and stream ingest
    alike: the clean contract plus the `event_date` partition column
    (UTC date of `last_contact`, else `load_timestamp`)."""
    return clean_state_vectors(raw).withColumn(
        "event_date", F.to_date(F.coalesce("last_contact", "load_timestamp"))
    )
