"""The three benchmark workloads and their correctness checks.

Each workload runs against the package's public API in one process:
set-up (session start plus one untimed warm-up op), a timed loop of ops
that lasts at least ``--seconds``, then untimed correctness checks.
query_mix runs its checks before the timed loop: the first one is its
warm-up op, and together they warm every query plan. With tracing on,
the same code runs with spans around every call into a layer.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import Counter
from contextlib import contextmanager

from crawlgen import CrawlGenerator
from probes import dir_usage, jvm_times_s, peak_rss_mb, progress_totals
from tracing import JobCounter, Tracer

#: Crawl files landed per tick, and rows per file. Real crawls hold 26-346
#: rows (BASELINE.md), so small files keep fixed per-file costs dominant.
FILES_PER_TICK = 2
ROWS_PER_FILE = 500
#: Untimed warm-up ticks: the first ticks of a session still run partly
#: interpreted. On 4 cores, a cron tick took 13-20 s cold, 7-12 s second
#: and 6-8 s third. Stream ticks got faster until about the fourth; six
#: stream warm-up ticks did not narrow the spread over five seeds.
CRON_WARMUP_TICKS = 2
STREAM_WARMUP_TICKS = 4
#: The repository's sf0.01 test fixture (TPC-H-like star schema plus
#: events, documents and embeddings), copied read-only into the benchmark.
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
#: Query whose cold oracle check is the query_mix warm-up op: scan,
#: broadcast join, agg, sort.
WARMUP_QUERY = "join_star_revenue"
#: Seed-shuffled closed-loop mix, at most one query per plans module
#: besides the short `point_lookup`. Left out: `opensky` (its queries read
#: the reference repository's crawl directory, not the fixture tables),
#: and `sketches`, `streaming_queries`, `corpus` and `multimodal`, because
#: each query costs about 3 s per run (a cold check plus a timed warm
#: execution) and all workloads' runs must fit the benchmark's time budget.
QUERY_MIX = (
    "point_lookup", "join_star_revenue", "window_rank_dense_ntile",
    "window_sliding_2h", "cdc_apply_log", "stats_ks_drift", "ann_ivf_topk",
    "dedup_minhash_lsh", "text_bm25_topk", "graph_pagerank",
    "report_volume_shipping", "udf_grouped_map_share",
)
#: Fewest timed ops in a run. A cron tick can outlast `--seconds`, and a
#: run that times one tick reports that tick's noise as its median.
MIN_TIMED_OPS = 2
#: Longest wait for the JVM to settle before a timed loop starts. The JIT
#: queue of a Spark session rarely drains, so this is mostly a GC pause.
QUIESCE_CAP_S = 1.0
STORAGE_ZONES = ("bronze", "silver", "gold", "control", "sink_current", "checkpoints")
PKG = "data_warehouse_opensky_spark"


class Run:
    """State shared by a workload's phases: session, timers, counters."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tracer = Tracer() if trace else None
        self.jobs: JobCounter | None = None
        self.spark = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.setup_s = 0.0
        self.op_s: list[float] = []
        self.op_labels: list[str] = []
        self.timed_ops: set[str] = set()
        self.timed_s = 0.0
        self.report: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self._n_ops = 0

    # -- phases ---------------------------------------------------------
    def start_session(self):
        import importlib

        session = importlib.import_module(f"{PKG}.session")
        if self.tracer:
            install_patches(self.tracer)
        with self.span("session.get_spark"):
            self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer:
            self.jobs = JobCounter(self.spark, self.tracer)
        return self.spark

    @contextmanager
    def span(self, name: str):
        if self.tracer is None:
            yield
        else:
            with self.tracer.span(name):
                yield

    @contextmanager
    def op(self, kind: str, timed: bool = True, groups: list[str] | None = None,
           label: str = ""):
        """One op: a root span, its own Spark job group, and (if timed)
        one latency sample. `groups` collects extra job groups, such as
        the run ids of streaming queries the op started."""
        self._n_ops += 1
        op_id = f"{kind}-{self._n_ops}"
        extra = groups if groups is not None else []
        if self.tracer:
            self.tracer.op = op_id
            self.jobs.begin(op_id)
        t0 = time.perf_counter()
        with self.span(f"bench.{kind}"):
            yield
        dt = time.perf_counter() - t0
        if self.tracer:
            self.tracer.op = None
            if timed:
                self.jobs.collect([op_id, *extra])
        if timed:
            self.op_s.append(dt)
            self.op_labels.append(label or kind)
            self.timed_ops.add(op_id)

    def timed_loop(self):
        """Yield until `MIN_TIMED_OPS` ops ran and `seconds` have passed.
        Before the clock starts, let the JVM settle (see `quiesce`)."""
        quiesce(self.spark)
        t0 = time.perf_counter()
        while len(self.op_s) < MIN_TIMED_OPS or time.perf_counter() - t0 < self.seconds:
            yield
        self.timed_s = time.perf_counter() - t0
        if self.tracer:
            self.layers["trace.op_p50_s"] = statistics.median(self.op_s)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"check {name} failed {detail}".strip())

    def finish(self, input_bytes: int, zones: dict[str, str]) -> None:
        """Probe memory, JVM and storage; derive per-layer metrics."""
        self.report["peak_rss_mb"] = (peak_rss_mb(self.spark), "MB")
        usage = {z: dir_usage(p) for z, p in zones.items()}
        if input_bytes:
            stored = sum(b for b, _ in usage.values())
            self.report["bytes_stored_per_input_byte"] = (stored / input_bytes, "ratio")
        if self.tracer is None:
            return
        self.layers["mem.peak_rss_mb"] = self.report["peak_rss_mb"][0]
        t = self.tracer
        ops = self.timed_ops
        gc_s, jit_s = jvm_times_s(self.spark)
        L = self.layers
        L["jvm.gc_s"], L["jvm.jit_s"] = gc_s, jit_s
        for z in STORAGE_ZONES:
            b, f = usage.get(z, (0, 0))
            L[f"storage.{z}.bytes"], L[f"storage.{z}.files"] = float(b), float(f)
        L["storage.bytes_per_input_byte"] = self.report.get(
            "bytes_stored_per_input_byte", (0.0, "")
        )[0]
        n = max(1, len(ops))
        for k in ("jobs", "stages", "tasks"):
            L[f"spark.{k}"] = self.jobs.totals[k] / n
        L["session.get_spark.s"] = sum(
            s.end - s.start for s in t.spans if s.name == "session.get_spark"
        )
        for name in ("record", "register_new", "current"):
            L[f"warehouse.control.{name}.s"] = t.total_s(ops, f"warehouse.control.{name}")
        L["warehouse.control.record.calls"] = float(t.count(ops, "warehouse.control.record"))
        for name in ("discover_new_files", "stage_files", "build_gold_marts"):
            L[f"warehouse.etl.{name}.s"] = t.total_s(ops, f"warehouse.etl.{name}")
        L["transform.clean_state_vectors.calls"] = float(
            t.count(ops, "transform.clean_state_vectors")
        )
        for name in ("streaming.ingest.stream_clean_to_silver", "streaming.sink.upsert_parquet_sink"):
            L[f"{name}.s"] = t.total_s(ops, name)
        build = [s for s in t.timed_spans(ops) if s.name.endswith(".build")]
        execute = [s for s in t.timed_spans(ops) if s.name.endswith(".execute")]
        L["plans.build_s"] = sum(s.end - s.start for s in build)
        L["plans.execute_s"] = sum(s.end - s.start for s in execute)
        for s in build + execute:
            key = f"plans.{s.name.split('.')[1]}.s"
            L[key] = L.get(key, 0.0) + s.end - s.start
        selfs = t.self_times(ops)
        for layer in ("bench", "session", "transform", "warehouse.etl", "warehouse.control",
                      "streaming.ingest", "streaming.sink", "plans"):
            L[f"{layer}.self_s"] = selfs.get(layer, 0.0)
        busy = sum(self.op_s)
        L["warehouse.control.tick_share"] = selfs.get("warehouse.control", 0.0) / busy
        L["trace.bookkeeping_s"] = t.bookkeeping_s
        t.restore()


def quiesce(spark) -> None:
    """Collect garbage, then wait (at most `QUIESCE_CAP_S`) for the JIT
    compile queue left by the warm-up to drain, so neither a GC pause nor
    a burst of compiler threads owed to set-up lands in the timed window."""
    import gc

    gc.collect()
    spark._jvm.java.lang.System.gc()
    deadline = time.perf_counter() + QUIESCE_CAP_S
    last = jvm_times_s(spark)[1]
    while time.perf_counter() < deadline:
        time.sleep(0.25)
        now = jvm_times_s(spark)[1]
        if now - last < 0.02:
            return
        last = now


def install_patches(tracer: Tracer) -> None:
    """Wrap the package's public layer entry points with spans."""
    import importlib

    def mod(name):
        return importlib.import_module(f"{PKG}.{name}")

    transform = mod("transform")
    etl, control = mod("warehouse.etl"), mod("warehouse.control")
    tracer.patch(transform, "clean_state_vectors", "transform.clean_state_vectors")
    for f in ("run_incremental_load", "discover_new_files", "stage_files", "build_gold_marts"):
        tracer.patch(etl, f, f"warehouse.etl.{f}")
    for m in ("record", "register_new", "current", "maybe_compact"):
        tracer.patch(control.FileLog, m, f"warehouse.control.{m}")


# ---------------------------------------------------------------------------
# cron_ingest
# ---------------------------------------------------------------------------
def cron_ingest(run: Run) -> None:
    landing = os.path.join(run.work, "landing")
    wh = os.path.join(run.work, "wh")
    silver, gold = f"{wh}/silver/state_vectors", f"{wh}/gold"
    gen = CrawlGenerator(run.seed, ROWS_PER_FILE)
    gen.write(landing, FILES_PER_TICK)

    t0 = time.perf_counter()
    spark = run.start_session()
    from data_warehouse_opensky_spark.warehouse import etl
    from data_warehouse_opensky_spark.warehouse.control import FileLog

    def tick(timed: bool) -> None:
        with run.op("tick", timed=timed):
            statuses = etl.run_incremental_load(spark, landing, wh)
            etl.build_gold_marts(spark, silver, gold)
        run.attempted += len(statuses)
        bad = [f for f, s in statuses.items() if s != "CLEAN_EXPORTED"]
        run.failed += len(bad)
        run.problems += [f"file {f} ended {statuses[f]}" for f in bad]

    for i in range(CRON_WARMUP_TICKS):
        if i:
            gen.write(landing, FILES_PER_TICK)
        tick(timed=False)
    run.setup_s = time.perf_counter() - t0

    for _ in run.timed_loop():
        gen.write(landing, FILES_PER_TICK)
        tick(timed=True)
    rows = sum(len(c.rows) for c in gen.crawls[CRON_WARMUP_TICKS * FILES_PER_TICK:])
    run.report["tick_p50_s"] = (statistics.median(run.op_s), "s")
    run.report["ingest_rows_per_s"] = (rows / sum(run.op_s), "rows/s")
    run.finish(
        sum(c.n_bytes for c in gen.crawls),
        {"bronze": f"{wh}/bronze", "silver": f"{wh}/silver", "gold": gold,
         "control": f"{wh}/control"},
    )
    if run.tracer:
        run.layers["warehouse.control.log_files"] = float(
            dir_usage(f"{wh}/control/file_log")[1]
        )

    # -- correctness (untimed) --
    from pyspark.sql import functions as F

    truth = gen.truth_rows()
    status = {r.file_name: r.status for r in FileLog(spark, f"{wh}/control/file_log").current().collect()}
    names = {c.name for c in gen.crawls}
    run.check("all_files_clean_exported",
              set(status) == names and set(status.values()) == {"CLEAN_EXPORTED"},
              f"{Counter(status.values())}")
    n_silver = spark.read.parquet(silver).count()
    run.check("silver_rows_equal_generated", n_silver == len(truth), f"{n_silver} != {len(truth)}")
    again = etl.run_incremental_load(spark, landing, wh)
    run.check("rerun_finds_no_new_files", again == {}, f"{len(again)} files")
    latest = {
        r[0]: r[1]
        for r in spark.read.parquet(f"{gold}/latest_positions")
        .select("icao24", F.col("last_contact").cast("long"))
        .collect()
    }
    want = {k: v[1] for k, v in gen.latest_per_aircraft().items()}
    run.check("latest_positions_match", latest == want,
              f"{sum(latest.get(k) != v for k, v in want.items())} keys differ")
    grand = (
        spark.read.parquet(f"{gold}/country_hour_cube")
        .filter(F.col("origin_country").isNull() & F.col("hour").isNull()
                & F.col("on_ground").isNull())
        .select("n_states").collect()
    )
    run.check("cube_grand_total", [r[0] for r in grand] == [len(truth)], f"{grand}")


# ---------------------------------------------------------------------------
# stream_upsert
# ---------------------------------------------------------------------------
def stream_upsert(run: Run) -> None:
    landing = os.path.join(run.work, "landing")
    silver = os.path.join(run.work, "silver")
    sink = os.path.join(run.work, "sink")
    ck = os.path.join(run.work, "checkpoints")
    gen = CrawlGenerator(run.seed, ROWS_PER_FILE)
    gen.write(landing, FILES_PER_TICK)

    t0 = time.perf_counter()
    spark = run.start_session()
    from data_warehouse_opensky_spark.streaming import ingest, sink as sink_mod
    from data_warehouse_opensky_spark.transform import clean_state_vectors

    progress = {"streaming.ingest": Counter(), "streaming.sink": Counter()}
    rewritten = [0]

    def bucket_inodes() -> dict[str, int]:
        cur = os.path.join(sink, sink_mod.CURRENT)
        if not os.path.isdir(cur):
            return {}
        return {d: os.stat(os.path.join(cur, d)).st_ino for d in os.listdir(cur)}

    def await_query(q, layer: str, timed: bool) -> None:
        try:
            q.awaitTermination()
        except Exception as ex:  # noqa: BLE001 — a failed stream is a failed op
            run.failed += 1
            run.problems.append(f"{layer} query failed: {str(ex)[:300]}")
        if timed and run.tracer:
            progress[layer].update(progress_totals(q))

    def tick(timed: bool) -> None:
        groups: list[str] = []
        before = bucket_inodes() if run.tracer and timed else {}
        with run.op("tick", timed=timed, groups=groups):
            with run.span("streaming.ingest.stream_clean_to_silver"):
                q = ingest.stream_clean_to_silver(spark, landing, silver, f"{ck}/silver")
                groups.append(str(q.runId))
                await_query(q, "streaming.ingest", timed)
            with run.span("streaming.sink.upsert_parquet_sink"):
                src = clean_state_vectors(ingest.stream_landing_source(spark, landing))
                q = sink_mod.upsert_parquet_sink(
                    src, sink, key_cols=["icao24"], order_col="last_contact",
                    checkpoint_dir=f"{ck}/sink",
                )
                groups.append(str(q.runId))
                await_query(q, "streaming.sink", timed)
        run.attempted += 2
        if run.tracer and timed:
            t = time.perf_counter()
            after = bucket_inodes()
            rewritten[0] += sum(1 for d, ino in after.items() if before.get(d) != ino)
            run.tracer.bookkeeping_s += time.perf_counter() - t

    for i in range(STREAM_WARMUP_TICKS):
        if i:
            gen.write(landing, FILES_PER_TICK)
        tick(timed=False)
    run.setup_s = time.perf_counter() - t0

    for _ in run.timed_loop():
        gen.write(landing, FILES_PER_TICK)
        tick(timed=True)
    rows = sum(len(c.rows) for c in gen.crawls[STREAM_WARMUP_TICKS * FILES_PER_TICK:])
    run.report["tick_p50_s"] = (statistics.median(run.op_s), "s")
    run.report["ingest_rows_per_s"] = (rows / sum(run.op_s), "rows/s")
    current =os.path.join(sink, sink_mod.CURRENT)
    run.finish(
        sum(c.n_bytes for c in gen.crawls),
        {"silver": silver, "sink_current": current, "checkpoints": ck},
    )
    if run.tracer:
        for layer, totals in progress.items():
            for k, v in totals.items():
                run.layers[f"{layer}.{k}"] = float(v)
        run.layers["streaming.sink.buckets_rewritten"] = float(rewritten[0])

    # -- correctness (untimed) --
    from pyspark.sql import functions as F

    got = Counter(
        tuple(r)
        for r in spark.read.parquet(silver)
        .select("file_source", "icao24", F.col("last_contact").cast("long"))
        .collect()
    )
    want = Counter((r[0], r[1], r[2]) for r in gen.truth_rows())
    run.check("silver_every_row_once", got == want,
              f"{sum((got - want).values())} extra, {sum((want - got).values())} missing")
    snap = [
        tuple(r)
        for r in spark.read.parquet(current)
        .select("icao24", F.col("last_contact").cast("long"), "velocity",
                "baro_altitude", "on_ground", "callsign")
        .collect()
    ]
    keys = {r[0] for r in snap}
    run.check("sink_one_row_per_key", len(keys) == len(snap), f"{len(snap)} rows, {len(keys)} keys")
    truth = gen.latest_per_aircraft()
    differ = sum(1 for r in snap if truth.get(r[0]) != r)
    run.check("sink_equals_truth", keys == set(truth) and differ == 0,
              f"{differ} rows differ, {len(set(truth) ^ keys)} keys differ")


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------
def query_mix(run: Run) -> None:
    mix = list(QUERY_MIX)
    random.Random(run.seed).shuffle(mix)

    t0 = time.perf_counter()
    spark = run.start_session()
    from data_warehouse_opensky_spark.plans import QUERIES

    def execute(name: str) -> None:
        q = QUERIES[name]
        module = q.fn.__module__.rsplit(".", 1)[-1]
        with run.op("query", label=name):
            try:
                with run.span(f"plans.{module}.build"):
                    df = q.fn(spark, QUERY_DATA)
                with run.span(f"plans.{module}.execute"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001 — a failed query is a failed op
                run.failed += 1
                run.problems.append(f"query {name} failed: {str(ex)[:300]}")
            finally:
                spark.catalog.clearCache()
        run.attempted += 1

    # -- correctness (untimed; also warms every plan before timing) --
    from tests.oracle_harness import compare, duck_connection

    con = duck_connection(QUERY_DATA)

    def check(name: str) -> None:
        try:
            res = compare(name, QUERIES[name].fn(spark, QUERY_DATA), QUERIES[name].oracle, con)
            run.check(f"oracle:{name}", res.ok, "; ".join(res.errors[:2]))
        except Exception as ex:  # noqa: BLE001 — a crashing check is a failed check
            run.check(f"oracle:{name}", False, str(ex)[:300])
        finally:
            spark.catalog.clearCache()

    # The warm-up op is the (cold) oracle check of the warm-up query.
    check(WARMUP_QUERY)
    run.setup_s = time.perf_counter() - t0
    for name in mix:
        if name != WARMUP_QUERY:
            check(name)
    con.close()

    # Whole passes only, so every run times the same mix.
    for _ in run.timed_loop():
        for name in mix:
            execute(name)
    n = len(run.op_s)
    run.report["query_p50_s"] = (statistics.median(run.op_s), "s")
    if n >= 100:
        run.report["query_p90_s"] = (statistics.quantiles(run.op_s, n=10)[-1], "s")
    run.report["queries_per_min"] = (60.0 * n / run.timed_s, "1/min")
    run.finish(0, {})


WORKLOADS = {"cron_ingest": cron_ingest, "stream_upsert": stream_upsert, "query_mix": query_mix}
