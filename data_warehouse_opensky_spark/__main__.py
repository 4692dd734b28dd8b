"""CLI — the reference's entry points, Spark-native (SURVEY §3).

EP1  extract   `python -m data_warehouse_opensky_spark extract --job eu ...`
               (reference: `python extract_script.py <job_name>`)
EP2  load      `... load --landing data/ --warehouse wh/`
               (reference: `python load_warehouse.py`)
     marts     `... marts --warehouse wh/` (the diagram's stages 5-6)
EP3  sql       `... sql "SELECT ..." --sf-dir /root/testdata/sf0.01`
     query     `... query pricing_summary` (any catalog query by name)
     corpus    `... corpus --decontaminate --out packed/` (the composed
               training-corpus pipeline, pipeline.py)

A user of the reference switches by replacing the two scripts with
these subcommands. `extract` writes the job audit log (JobLog) the way
`job_logs` did (STARTED → COMPLETED/FAILED, T1.20/T1.22); `load` and
`marts` write no run record yet.
"""

from __future__ import annotations

import argparse
import json
import sys

from .session import get_spark


def _cmd_extract(args: argparse.Namespace) -> int:
    from .sources.opensky_api import JobConfig, extract_job
    from .warehouse.control import JobLog

    spark = get_spark("extract")
    cfg = JobConfig(
        job_name=args.job,
        base_url=args.base_url,
        endpoint=args.endpoint,
        lamin=args.lamin,
        lomin=args.lomin,
        lamax=args.lamax,
        lomax=args.lomax,
        output_path=args.out,
        client_id=args.client_id or "",
        client_secret=args.client_secret or "",
        token_url=args.token_url or "",
    )
    log = JobLog(spark, f"{args.out}/_control/job_logs")
    log_id = log.start(args.job)
    try:
        path, n = extract_job(spark, cfg)
        log.end(log_id, args.job, "COMPLETED", f"{n} rows -> {path}")
        print(json.dumps({"status": "COMPLETED", "path": path, "rows": n}))
        return 0
    except Exception as ex:  # noqa: BLE001 — T1.22: log FAILED, exit nonzero
        log.end(log_id, args.job, "FAILED", str(ex))
        print(json.dumps({"status": "FAILED", "error": str(ex)[:500]}))
        return 1


def _cmd_load(args: argparse.Namespace) -> int:
    from .warehouse.etl import run_incremental_load

    spark = get_spark("load")
    results = run_incremental_load(spark, args.landing, args.warehouse)
    print(json.dumps({"files": results}))
    return 0 if all(v == "CLEAN_EXPORTED" for v in results.values()) else 1


def _cmd_marts(args: argparse.Namespace) -> int:
    from .warehouse.etl import build_gold_marts

    spark = get_spark("marts")
    counts = build_gold_marts(
        spark,
        f"{args.warehouse}/silver/state_vectors",
        f"{args.warehouse}/gold",
    )
    print(json.dumps({"marts": counts}))
    return 0


def _cmd_sql(args: argparse.Namespace) -> int:
    from .sources import register_views

    spark = get_spark("sql")
    register_views(spark, args.sf_dir)
    df = spark.sql(args.statement)
    rows = df.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from .plans import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; known: {', '.join(sorted(QUERIES))}")
        return 2
    spark = get_spark("query")
    df = QUERIES[args.name].fn(spark, args.sf_dir)
    for r in df.limit(args.limit).collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def _cmd_corpus(args: argparse.Namespace) -> int:
    from .pipeline import corpus_pipeline
    from .sources import load_table

    spark = get_spark("corpus")
    docs = load_table(spark, args.sf_dir, "documents")
    bench = None
    if args.decontaminate:
        from pyspark.sql import functions as F

        bench = docs.filter(F.col("doc_id") % 50 == 0)
        docs = docs.filter(F.col("doc_id") % 50 != 0)
    packed, report = corpus_pipeline(docs, benchmark=bench)
    if args.out:
        packed.write.mode("overwrite").partitionBy("shard").parquet(args.out)
        report["output"] = args.out
    print(json.dumps(report))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="data_warehouse_opensky_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("extract", help="EP1: OpenSky crawl -> landing CSV")
    ex.add_argument("--job", required=True)
    ex.add_argument("--base-url", default="https://opensky-network.org/api")
    ex.add_argument("--endpoint", default="/states/all")
    ex.add_argument("--lamin", type=float, default=35.0)
    ex.add_argument("--lomin", type=float, default=-10.0)
    ex.add_argument("--lamax", type=float, default=60.0)
    ex.add_argument("--lomax", type=float, default=30.0)
    ex.add_argument("--out", required=True)
    ex.add_argument("--client-id")
    ex.add_argument("--client-secret")
    ex.add_argument("--token-url")
    ex.set_defaults(fn=_cmd_extract)

    ld = sub.add_parser("load", help="EP2: landing -> bronze/silver")
    ld.add_argument("--landing", required=True)
    ld.add_argument("--warehouse", required=True)
    ld.set_defaults(fn=_cmd_load)

    mt = sub.add_parser("marts", help="stages 5-6: silver -> gold marts")
    mt.add_argument("--warehouse", required=True)
    mt.set_defaults(fn=_cmd_marts)

    sq = sub.add_parser("sql", help="EP3: SQL over the testdata views")
    sq.add_argument("statement")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--limit", type=int, default=100)
    sq.set_defaults(fn=_cmd_sql)

    qr = sub.add_parser("query", help="run a catalog query by name")
    qr.add_argument("name")
    qr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qr.add_argument("--limit", type=int, default=100)
    qr.set_defaults(fn=_cmd_query)

    cp = sub.add_parser(
        "corpus",
        help="training-corpus pipeline: quality -> dedup -> near-dup ->"
        " decontaminate -> sample -> pack; prints the survivor report",
    )
    cp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cp.add_argument("--out", help="write packed sequences here (parquet)")
    cp.add_argument(
        "--decontaminate",
        action="store_true",
        help="hold out doc_id %% 50 == 0 as the eval set and scrub overlaps",
    )
    cp.set_defaults(fn=_cmd_corpus)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
