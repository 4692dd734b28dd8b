"""Catalog queries that exercise Structured Streaming END-TO-END
(SURVEY T2.16) inside the driver's correctness gate.

Each query starts a real stream over the parquet table (file source →
event-time windowed agg → memory sink), drains it with
`trigger(availableNow=True)`, and returns the sink contents as a batch
DataFrame. Complete output mode means every window is emitted
regardless of watermark progress, so the result equals the batch
group-by — which is exactly what the DuckDB oracle computes. That
equivalence (stream replay == batch query) is the correctness property
Structured Streaming guarantees and the thing worth gating.

Scale: the same plan on an unbounded source with the watermark keeps
state bounded; `maxFilesPerTrigger` bounds per-micro-batch work.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents
from ..session import configure_runtime
from .catalog import query


#: events.parquet path -> ((mtime_ns, size), schema) — every streaming
#: query re-derived the schema with a fresh batch-reader footer read (a
#: driver round trip per query × 12 streaming queries per catalog pass);
#: one footer read per file state suffices. Keyed by path so a
#: regenerated fixture replaces its entry instead of adding one.
_EVENT_SCHEMA_CACHE: dict[str, tuple[tuple[int, int], "object"]] = {}


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet with the same ts normalization as
    the batch path (ns → µs floor, sources/registry.py)."""
    configure_runtime(spark)
    path = f"{sf_dir}/events.parquet"
    # The entry carries (mtime_ns, size) so a regenerated fixture at the
    # same path revalidates with one os.stat instead of serving a stale
    # schema (ADVICE r12). A failed stat is never cached: a missing file
    # falls through to the reader for its native error, and a read that
    # races with the file's creation is not pinned.
    try:
        st = os.stat(path)
        stat_key = (st.st_mtime_ns, st.st_size)
    except OSError:
        stat_key = None
    cached_key, schema = _EVENT_SCHEMA_CACHE.get(path, (None, None))
    if stat_key is None or cached_key != stat_key:
        schema = spark.read.parquet(path).schema
        if stat_key is not None:
            _EVENT_SCHEMA_CACHE[path] = (stat_key, schema)
    # File stream sources take a DIRECTORY; select just the events file
    # out of the sf_dir with a glob filter.
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet → NTZ, which
        # withWatermark rejects; session tz is pinned UTC so the cast is
        # wall-clock identity (same normalization as sources/registry.py).
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def drain_with_state_metrics(
    windowed: DataFrame, mode: str = "complete"
) -> tuple[DataFrame, list[dict]]:
    """Run the streaming query to completion into a memory sink and
    return (sink table, per-micro-batch state-operator metrics).
    availableNow processes the whole source then stops — bounded,
    checkpoint-free (fresh sink per call).

    The metrics are the drained query's `recentProgress[*]
    .stateOperators` (numRowsTotal / numRowsRemoved /
    numRowsDroppedByWatermark per batch) — the observable proof that
    watermarks actually evict state, which tests assert on instead of
    trusting the plan shape (VERDICT r2 directive #7).

    Stateful operators allocate one state-store instance per shuffle
    partition, and each instance pays fixed per-batch snapshot cost —
    at gate scale that fixed cost dominates, so the drain runs with 8
    state partitions instead of the session's 32 (captured from the
    session conf at stream start; results are partition-count
    invariant). A production deployment sizes this to live-key volume.
    """
    name = f"stream_sink_{uuid.uuid4().hex[:12]}"
    spark = windowed.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            windowed.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        metrics = [
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "stateOperators": [
                    {
                        "operatorName": so.operatorName,
                        "numRowsTotal": so.numRowsTotal,
                        "numRowsUpdated": so.numRowsUpdated,
                        "numRowsRemoved": so.numRowsRemoved,
                        "numRowsDroppedByWatermark": so.numRowsDroppedByWatermark,
                    }
                    for so in p.stateOperators
                ],
            }
            for p in q.recentProgress
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name), metrics


def _drain_to_memory(windowed: DataFrame, mode: str = "complete") -> DataFrame:
    table, _ = drain_with_state_metrics(windowed, mode)
    return table


@query(
    "streaming_tumbling_counts",
    tier="T2",
    doc="Structured Streaming end-to-end (T2.16): file source → "
    "watermarked 1-hour tumbling event-time window → memory sink, "
    "drained with availableNow. Complete mode ⇒ result equals the "
    "batch group-by (the replay-equivalence guarantee the oracle "
    "checks).",
    oracle="""
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour_bucket,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _stream_events(spark, sf_dir)
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("sum_value"),
        )
    )
    result = _drain_to_memory(windowed, mode="complete")
    return result.select(
        F.expr("unix_timestamp(w.start) div 3600").cast("long").alias("hour_bucket"),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("hour_bucket", "event_type")


@query(
    "streaming_dedup_latest",
    tier="T2",
    doc="Streaming exactly-once dedup within the watermark horizon "
    "(T1.6's keyed idempotent insert as a stream): dropDuplicates on "
    "(user_id, event_id) over the replayed event stream, then a batch "
    "count per user over the sink. Source has no true dups, so the "
    "oracle is the plain per-user count — the gate proves the dedup "
    "path loses nothing.",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _stream_events(spark, sf_dir)
    deduped = stream.withWatermark("ts", "2 hours").dropDuplicates(
        ["user_id", "event_id"]
    )
    sink = _drain_to_memory(deduped, mode="append")
    return (
        sink.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_stateful_running_agg",
    tier="T2",
    doc="Custom stateful streaming operator via applyInPandasWithState "
    "(T2.16): per-user running count / max / last-event kept in "
    "GroupState across micro-batches. Integer prep (cents, epoch "
    "seconds) happens JVM-side before the Python operator. The drained "
    "final state per key equals the batch aggregate — the oracle.",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           max(CAST(round(value * 100) AS BIGINT)) AS max_value_c,
           max_by(event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id)
             AS last_event_type
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import running_user_stats

    stream = _stream_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
        "event_type",
        cents("value").alias("value_c"),
    )
    sink = _drain_to_memory(running_user_stats(stream), mode="append")
    # One output row per key per micro-batch; the final row (max
    # n_events — it grows monotonically) is the key's end state.
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_value_c").alias("max_value_c"),
            F.max_by("last_event_type", "n_events").alias("last_event_type"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_session_windows",
    tier="T2",
    doc="Streaming sessionization (T2.16): watermarked session_window "
    "with a 30-min inactivity gap, per-user session stats over the "
    "drained stream. Complete mode ⇒ equals the batch sessionization "
    "(same oracle as session_window_stats — the replay-equivalence "
    "property, now for MERGING windows whose bounds depend on data).",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN ts_s - lag(ts_s) OVER (
                    PARTITION BY user_id ORDER BY ts_s, event_id) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sessions AS (
      SELECT user_id, event_id, ts_s,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts_s, event_id
               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT session_no) AS BIGINT) AS n_sessions,
           CAST(sum(cnt) AS BIGINT) AS n_events,
           CAST(max(dur) AS BIGINT) AS max_session_dur_s
    FROM (
      SELECT user_id, session_no, count(*) AS cnt,
             max(ts_s) - min(ts_s) AS dur
      FROM sessions GROUP BY user_id, session_no
    ) GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _stream_events(spark, sf_dir).select(
        "user_id",
        F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts_floor"),
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
    )
    per_session = (
        stream.withWatermark("ts_floor", "2 hours")
        .groupBy("user_id", F.session_window("ts_floor", "30 minutes"))
        .agg(
            F.count("*").alias("cnt"),
            (F.max("ts_s") - F.min("ts_s")).alias("dur"),
        )
    )
    sink = _drain_to_memory(per_session, mode="complete")
    return (
        sink.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("cnt").cast("long").alias("n_events"),
            F.max("dur").cast("long").alias("max_session_dur_s"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_stream_stream_join",
    tier="T2",
    doc="Stream-stream inner join (T2.16): clicks joined to the same "
    "user's purchases within the following hour, both sides "
    "watermarked so Spark can bound join state (the time-range "
    "predicate is what lets the state store evict — without it the "
    "join buffers forever). availableNow drain emits every match; "
    "the oracle is the identical batch self-join.",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS delta_s
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    ORDER BY 1, 2, 3
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _stream_events(spark, sf_dir)
    joined = click_purchase_join(stream)
    sink = _drain_to_memory(joined, mode="append")
    return sink.orderBy("user_id", "click_id", "purchase_id")


@query(
    "streaming_static_enrich",
    tier="T2",
    doc="Stream-static enrichment join (T2.16): the event stream joins "
    "a STATIC broadcast dimension (customer market segment on user_id "
    "= c_custkey) before a watermarked 6-hour tumbling aggregate — "
    "the canonical streaming-ingest enrichment shape. The static side "
    "is stateless for the join (re-read per micro-batch, broadcast, "
    "no state store), so only the windowed agg holds state; at 100 TB "
    "the dimension broadcast amortizes across every micro-batch. "
    "Complete-mode drain equals the batch join+group-by the oracle "
    "computes.",
    oracle="""
    SELECT CAST(floor(epoch(e.ts)) AS BIGINT) // 21600 AS bucket_6h,
           c.c_mktsegment AS segment,
           count(*) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    result = _drain_to_memory(static_enrich_windowed(spark, sf_dir), mode="complete")
    return result.select(
        F.expr("unix_timestamp(w.start) div 21600").cast("long").alias("bucket_6h"),
        "segment",
        "n_events",
        "sum_value",
    ).orderBy("bucket_6h", "segment")


def static_enrich_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstarted stream-static enrichment plan: events stream joined to
    the broadcast customer dimension, then a watermarked 6-hour
    tumbling aggregate per segment. Exposed separately so tests can
    pin the join strategy (BroadcastHashJoin, dimension stateless) on
    the streaming plan template without draining it."""
    from ..sources import load_table

    stream = _stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    return (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours").alias("w"), "segment")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("sum_value"),
        )
    )


def click_purchase_join(stream: DataFrame) -> DataFrame:
    """Watermarked stream-stream inner join: clicks to purchases within
    one hour, both sides bounded by a 2-hour watermark. The time-range
    predicate + two-sided watermark is exactly the condition that lets
    the join's state store evict buffered rows (asserted on real
    stateOperators metrics in tests/test_streaming.py)."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND p_ts >= click_ts"
            " AND p_ts <= click_ts + interval 1 hour"
        ),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.unix_timestamp("p_ts").cast("long")
            - F.unix_timestamp("click_ts").cast("long")
        ).alias("delta_s"),
    )
    return joined


@query(
    "streaming_hopping_topk",
    tier="T2",
    doc="Hopping (sliding) event-time windows on a live stream: 2-hour "
    "windows every 1 hour (each event lands in two windows), counts "
    "per (window, type) in the stateful agg, then the top type per "
    "window ranked on the DRAINED mart (stream → windowed state → "
    "batch top-k report; ranking is not a streaming-stateful op and "
    "belongs after the sink). Oracle replicates each event into its "
    "two hop windows with unnest.",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h
      FROM events
    ),
    x AS (SELECT event_type, unnest([h - 3600, h]) AS ws FROM e),
    c AS (SELECT ws, event_type, count(*) AS n FROM x GROUP BY 1, 2),
    r AS (
      SELECT ws, event_type, n,
             row_number() OVER (PARTITION BY ws
                                ORDER BY n DESC, event_type) AS rn
      FROM c
    )
    SELECT CAST(ws AS BIGINT) AS win_start_s, event_type,
           CAST(n AS BIGINT) AS n
    FROM r WHERE rn = 1 ORDER BY win_start_s
    """,
)
def streaming_hopping_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    stream = _stream_events(spark, sf_dir)
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    result = _drain_to_memory(windowed, mode="complete")
    ranked = Window.partitionBy("win_start_s").orderBy(F.desc("n"), "event_type")
    return (
        result.select(
            F.col("w.start").cast("long").alias("win_start_s"), "event_type", "n"
        )
        .withColumn("rn", F.row_number().over(ranked))
        .filter(F.col("rn") == 1)
        .select("win_start_s", "event_type", "n")
        .orderBy("win_start_s")
    )


@query(
    "streaming_upsert_sink_snapshot",
    tier="T2",
    doc="The upsert SINK under the gate end-to-end (T1.6/T1.7/T2.16): "
    "stream events through foreachBatch into a flat parquet target "
    "(latest-wins per user on the exact epoch-s·1e7+event_id version; "
    "streaming/sink.py merges the stale snapshot with each micro-batch, "
    "appends the result and deletes the stale files), then read the "
    "snapshot back. The returned frame is the MERGED TARGET, not a "
    "memory sink — a green row proves write path, merge rule and "
    "append-then-delete all compose to batch latest-per-key semantics.",
    oracle="""
    SELECT user_id,
           max_by(CAST(round(value * 10000) AS BIGINT),
                  CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id)
             AS last_value_e4,
           max_by(event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id)
             AS last_event_type,
           count(*) AS n_events_seen
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_upsert_sink_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..streaming.sink import CURRENT, upsert_parquet_sink

    stream = _stream_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        (
            F.floor(F.unix_timestamp("ts")).cast("long") * 10000000
            + F.col("event_id")
        ).alias("version"),
        F.round(F.col("value") * 10000).cast("long").alias("last_value_e4"),
        F.lit(1).cast("long").alias("n_events_seen"),
    )
    # The sink keeps ONE row per key (latest-wins), so a per-key event
    # COUNT cannot ride the merged row; n_events_seen is derived from
    # the batch table below — the SINK gates key identity + latest
    # value/type. The tmp dir must outlive this function: the returned
    # frame reads the snapshot lazily (driver collects later).
    root = tempfile.mkdtemp(prefix="upsert_gate_")
    q = upsert_parquet_sink(
        stream.drop("n_events_seen"),
        root,
        key_cols=["user_id"],
        order_col="version",
        checkpoint_dir=os.path.join(root, "_chk"),
    )
    # availableNow terminates on its own; a False here means the drain
    # is still running and the snapshot below would be INCOMPLETE —
    # fail loudly instead of returning silently wrong rows.
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("upsert-sink drain did not finish within 300 s")
    snap = spark.read.parquet(os.path.join(root, CURRENT))
    batch_counts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_events_seen"))
    )
    return (
        snap.select("user_id", "last_value_e4", "event_type")
        .withColumnRenamed("event_type", "last_event_type")
        .join(batch_counts, "user_id")
        .select("user_id", "last_value_e4", "last_event_type", "n_events_seen")
        .orderBy("user_id")
    )


@query(
    "streaming_timeout_sessions",
    tier="T2",
    doc="EventTimeTimeout sessions under the gate (T2.16 state "
    "EXPIRY): events replay as two slabs (split at the CDC watermark, "
    "slab order pinned by explicit file mtimes; maxFilesPerTrigger=1 "
    "→ two micro-batches, plus Spark's closing no-data batch that "
    "advances the watermark to the global max event time), sessions "
    "keyed by (user, day) emit ONLY when the watermark closes them: "
    "the final closure set is every key whose last event + 60 s lies "
    "strictly before the global max — which the oracle computes "
    "exactly; the last day's stragglers stay open and do NOT emit. "
    "Green row = watermark-driven state expiry is replayable, "
    "not just configured (the bounded-state guarantee at 100 TB: "
    "every idle key leaves the store one watermark advance later). "
    "Cost driver: applyInPandasWithState invokes the Python fn once "
    "PER KEY per batch, so state is keyed by USER ONLY with open "
    "day-sessions folded into the per-user blob (streaming/"
    "stateful.py:timeout_day_sessions) — ~1.5k invocations per batch "
    "instead of the ~40k a (user, day) composite key costs; that "
    "re-grain took the query from 31.66 s (BENCH_r06, the flagged r6 "
    "scale-killer) to ~7 s at sf0.1, with closure semantics and the "
    "oracle unchanged.",
    oracle="""
    WITH a AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             CAST(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS BIGINT)
               AS day_s
      FROM events
    ),
    wm AS (SELECT max(ts_s) AS w FROM a),
    k AS (
      SELECT user_id, day_s, CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(ts_s) AS BIGINT) AS start_s,
             CAST(max(ts_s) AS BIGINT) AS end_s
      FROM a GROUP BY 1, 2
    )
    SELECT user_id, day_s, n_events, start_s, end_s
    FROM k, wm WHERE k.end_s + 60 < wm.w
    ORDER BY user_id, day_s
    """,
)
def streaming_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile

    from ..sources import load_table
    from ..streaming.stateful import timeout_day_sessions

    # Both replay slabs are written by ONE partitioned write (one
    # events scan, one job) instead of two coalesce(1) writes (two
    # scans, two jobs — guide §1/§2: sequential actions are barriers).
    # Still EXECUTOR-side — never toPandas(): at any real scale that
    # would be a driver-side collect of the fact table (VERDICT r3
    # #3). repartition(1) keeps exactly one part file per slab dir (a
    # slab is one micro-batch by construction; single-file slabs keep
    # the move-into-place rename trivial), and the file source orders
    # micro-batches by modification time — pinned explicitly so slab
    # A's watermark is the one batch 2 times out against, on any
    # filesystem mtime granularity.
    cut = "2024-01-04"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("ts_s"),
        F.unix_timestamp(F.to_date("ts").cast("timestamp"))
        .cast("long")
        .alias("day_s"),
        "ts",
    )
    slabs = tempfile.mkdtemp(prefix="timeout_slabs_")
    stage = os.path.join(slabs, "_stage")
    (
        ev.withColumn(
            "slab",
            F.when(
                F.col("ts") < F.lit(cut).cast("timestamp"), "a"
            ).otherwise("b"),
        )
        .drop("ts")
        .repartition(1)
        .write.partitionBy("slab")
        .mode("overwrite")
        .parquet(stage)
    )
    for name, mtime in (("a", 1_000_000), ("b", 2_000_000)):
        dest = os.path.join(slabs, f"{name}.parquet")
        parts = glob.glob(
            os.path.join(stage, f"slab={name}", "part-*.parquet")
        )
        if parts:
            shutil.move(parts[0], dest)
        else:
            # dynamic partitioning writes NO dir for an empty slab
            # (possible on a degenerate fixture); keep the two-batch
            # replay shape with an explicit empty file.
            ev.drop("ts").limit(0).coalesce(1).write.mode(
                "overwrite"
            ).parquet(dest + "_empty")
            shutil.move(
                glob.glob(os.path.join(dest + "_empty", "part-*.parquet"))[0],
                dest,
            )
            shutil.rmtree(dest + "_empty")
        os.utime(dest, (mtime, mtime))
    shutil.rmtree(stage)

    stream = (
        spark.readStream.schema("user_id long, ts_s long, day_s long")
        .option("maxFilesPerTrigger", "1")
        .parquet(slabs)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
        .withWatermark("ts", "0 seconds")
    )
    sink = _drain_to_memory(timeout_day_sessions(stream), mode="append")
    return sink.select(
        "user_id", "day_s", "n_events", "start_s", "end_s"
    ).orderBy("user_id", "day_s")


@query(
    "streaming_dedup_within_watermark",
    tier="T2",
    doc="Bounded-state streaming dedup: the event stream UNIONED with "
    "itself (every event arrives exactly twice) flows through "
    "dropDuplicatesWithinWatermark(event_id) under a 2-hour "
    "watermark; per-type counts over the drained sink equal the "
    "plain batch counts — proof each duplicate was dropped exactly "
    "once. The WithinWatermark variant is the 100 TB shape: its "
    "dedup state EVICTS once keys age past the watermark (asserted "
    "from stateOperators metrics in tests/test_streaming.py), where "
    "plain dropDuplicates retains every key forever and OOMs on an "
    "unbounded stream. Duplicates here share an identical event "
    "time, so they always land inside the horizon and the dedup is "
    "exact, not best-effort.",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _stream_events(spark, sf_dir)
    doubled = stream.unionByName(_stream_events(spark, sf_dir))
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = _drain_to_memory(deduped, mode="append")
    return (
        sink.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_outer_join_unmatched",
    tier="T2",
    doc="Stream-stream LEFT OUTER join with watermarked time-range "
    "state: clicks (bounded 4 h before stream end — control-plane "
    "cutoff) left-join purchases within the following hour; clicks "
    "with no purchase emit a NULL row once the watermark proves no "
    "match can still arrive. The oracle replicates Spark's emission "
    "rule EXACTLY, in integer microseconds: global watermark = "
    "min(max event time per input) − 2 h delay, and an unmatched "
    "click emits iff click_ts + 1 h (the last instant a match could "
    "exist) < watermark — the tail inside that horizon stays "
    "buffered at termination BY DESIGN (outer results are complete "
    "only up to WM − range; a production pipeline either keeps the "
    "stream running or flushes state on a final punctuation). "
    "Matched pairs emit unconditionally, exactly once. Validated "
    "set-exact vs the batch replica at sf0.001 AND sf0.01.",
    oracle="""
    WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
    c AS (
      SELECT user_id, event_id AS click_id, ts AS cts, epoch_us(ts) AS cus
      FROM events, mx
      WHERE event_type = 'click' AND epoch_us(ts) <= mx.m - 14400000000
    ),
    p AS (
      SELECT user_id AS pu, event_id AS purchase_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least((SELECT max(cus) FROM c),
                   (SELECT max(epoch_us(pts)) FROM p))
             - 7200000000 AS w
    ),
    m AS (
      SELECT c.user_id, c.click_id, p.purchase_id
      FROM c JOIN p ON c.user_id = p.pu AND p.pts >= c.cts
            AND p.pts <= c.cts + INTERVAL 1 HOUR
    )
    SELECT user_id, click_id, purchase_id, true AS matched FROM m
    UNION ALL
    SELECT c.user_id, c.click_id, NULL, false AS matched
    FROM c, wm
    WHERE c.click_id NOT IN (SELECT click_id FROM m)
      AND c.cus + 3600000000 < wm.w
    ORDER BY user_id, click_id, purchase_id
    """,
)
def streaming_outer_join_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    # Control-plane scalar: the click-side cutoff (4 h before stream
    # end), same closed form the oracle computes in SQL.
    ev_max_us = (
        load_table(spark, sf_dir, "events")
        .agg(F.max(F.unix_micros("ts")))
        .collect()[0][0]
    )
    cutoff_us = ev_max_us - 4 * 3600 * 1000000
    stream = _stream_events(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .filter(F.unix_micros("click_ts") <= cutoff_us)
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND p_ts >= click_ts"
            " AND p_ts <= click_ts + interval 1 hour"
        ),
        "left_outer",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.col("purchase_id").isNotNull().alias("matched"),
    )
    sink = _drain_to_memory(joined, mode="append")
    return sink.orderBy("user_id", "click_id", "purchase_id")


@query(
    "streaming_join_then_window",
    tier="T2",
    doc="CHAINED stateful operators in one streaming query (Spark "
    "3.5+/4.x multi-stateful support): the watermarked click→purchase "
    "stream-stream join feeds a 1-day tumbling window aggregate of "
    "conversions — two state stores, one query, no intermediate sink. "
    "Append mode emits a day only once the propagated watermark "
    "passes its end; the oracle replicates that finalization rule in "
    "integer microseconds (day_end ≤ min(per-input max event time) − "
    "2 h delay), so the open tail day is absent from BOTH engines by "
    "design — same emission doctrine as the outer-join gate. Before "
    "multi-stateful support this pipeline needed two queries and a "
    "durable intermediate topic; the fused form is one checkpoint "
    "and no re-serialization of the join output.",
    oracle="""
    WITH c AS (
      SELECT user_id, ts AS cts, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id AS pu, ts AS pts, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least((SELECT max(cus) FROM c), (SELECT max(pus) FROM p))
             - 7200000000 AS w
    ),
    m AS (
      SELECT p.pus FROM c JOIN p ON c.user_id = p.pu
        AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
    ),
    b AS (
      SELECT CAST((pus // 86400000000) * 86400 AS BIGINT) AS day_start_s,
             CAST(count(*) AS BIGINT) AS n_conversions
      FROM m GROUP BY 1
    )
    SELECT day_start_s, n_conversions
    FROM b, wm
    WHERE (day_start_s + 86400) * 1000000 <= wm.w
    ORDER BY day_start_s
    """,
)
def streaming_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _stream_events(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND p_ts >= click_ts"
            " AND p_ts <= click_ts + interval 1 hour"
        ),
    )
    agg = joined.groupBy(F.window("p_ts", "1 day").alias("w")).agg(
        F.count("*").alias("n_conversions")
    )
    sink = _drain_to_memory(agg, mode="append")
    return sink.select(
        F.unix_timestamp(F.col("w.start")).cast("long").alias("day_start_s"),
        F.col("n_conversions").cast("long").alias("n_conversions"),
    ).orderBy("day_start_s")
