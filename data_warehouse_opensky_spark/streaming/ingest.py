"""Structured Streaming ingest (SURVEY T2.16).

The reference's 10-minute crawl cadence + hourly staging load (diagram
labels "Chạy 10p/lần" / "1h/lần") is a micro-batch streaming pattern;
its hand-rolled incremental machinery — directory diff (T1.4/T1.5),
per-file ledger (T1.6), never-reprocess guarantee — is exactly what a
Structured Streaming file source's checkpoint provides natively
(exactly-once per file). That replacement IS the design point: the
control table shrinks to an audit log, and correctness no longer
depends on our own bookkeeping.

Late data: `time_position`/`last_contact` (event time) lag
`load_timestamp` (arrival) by design — watermarks bound that skew and
let windowed state be dropped in the catalog's streaming queries
(plans/streaming_queries.py; bounded memory at 100 TB, where the batch
equivalent would re-scan everything each hour).

Each `stream_clean_to_silver` call is one availableNow drain, so the
caller sets the cadence; it writes the silver rows and layout
`stage_files` writes (`transform.to_silver`, partitioned by `event_date`).

Out of scope, limits of Spark's file readers that the extractor never
meets (`opensky_api.landing_file_name` takes only `[A-Za-z0-9_-]` jobs):
* The streaming file source double-reads in a micro-batch holding a
  name with glob characters: `states_a?b.csv` next to `states_aXb.csv`
  gave aXb's rows twice, `states_[x]{y}.csv` next to `states_plain.csv`
  gave plain's rows twice.
* A `:` in a file name fails both the batch and the streaming reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..schemas import LANDING_GLOB, RAW_SCHEMA
from ..session import configure_runtime
from ..transform import to_silver


def stream_landing_source(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over the landing zone (subsumes T1.4/T1.5:
    glob filter + incremental cut via checkpoint)."""
    configure_runtime(spark)
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .option("header", True)
        .option("pathGlobFilter", LANDING_GLOB)
        .option("maxFilesPerTrigger", 16)  # bound per-micro-batch work
        .csv(landing_dir)
    )


def stream_clean_to_silver(
    spark: SparkSession,
    landing_dir: str,
    silver_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """EP2 as a stream: landing CSVs → `to_silver` → silver parquet
    partitioned by `event_date`, exactly-once per file via checkpoint;
    one availableNow run per call."""
    return (
        to_silver(stream_landing_source(spark, landing_dir))
        .writeStream.format("parquet")
        .option("path", silver_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("event_date")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
