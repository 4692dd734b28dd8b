"""Bronze archive (warehouse/etl.py::stage_files): each staged landing
file is hard-linked, as it came in, into
`bronze/state_vectors/ingest_date=<UTC date>/`, on the driver and
without a Spark job; where the link fails the file is copied in whole."""

from __future__ import annotations

import errno
import glob
import os
from datetime import datetime, timezone

from data_warehouse_opensky_spark.warehouse.control import FileLog
from data_warehouse_opensky_spark.warehouse.etl import run_incremental_load, stage_files

from .test_control import HEADER, job_group


def _utc_today() -> str:
    return datetime.now(timezone.utc).date().isoformat()


def _landing_file(landing, minute: int, n_rows: int = 3) -> str:
    """One headered crawl CSV of `n_rows` distinct aircraft."""
    os.makedirs(landing, exist_ok=True)
    name = f"states_job_20251113_09{minute:02d}00.csv"
    rows = "".join(
        f"{minute:02x}{i:04x},CALL{i:03d} ,Nowhere,1700000000,{1700000010 + i},"
        f"1.0,2.0,3.0,false,4.0,5.0,6.0,,7.0,1000,false,0\n"
        for i in range(n_rows)
    )
    path = os.path.join(landing, name)
    with open(path, "w") as f:
        f.write(HEADER + rows)
    return path


def _bronze_entries(wh: str, name: str) -> list[str]:
    return glob.glob(f"{wh}/bronze/state_vectors/ingest_date=*/{name}")


def test_bronze_is_the_landing_file_and_restaging_keeps_one_entry(spark, tmp_path):
    landing, wh = str(tmp_path / "landing"), str(tmp_path / "warehouse")
    path = _landing_file(landing, 0)
    name = os.path.basename(path)
    before = _utc_today()

    assert run_incremental_load(spark, landing, wh) == {name: "CLEAN_EXPORTED"}

    [entry] = _bronze_entries(wh, name)
    date = os.path.basename(os.path.dirname(entry)).removeprefix("ingest_date=")
    assert date in {before, _utc_today()}
    assert open(entry, "rb").read() == open(path, "rb").read()
    assert os.path.samefile(entry, path)

    file_log = FileLog(spark, f"{wh}/control/file_log")
    again = stage_files(
        spark, [path], f"{wh}/bronze/state_vectors", f"{wh}/silver/state_vectors", file_log
    )
    assert again == {name: "CLEAN_EXPORTED"}
    assert _bronze_entries(wh, name) == [entry]
    assert os.listdir(os.path.dirname(entry)) == [name]


def test_stage_files_runs_one_spark_job_per_call(spark, tmp_path):
    landing, wh = str(tmp_path / "landing"), str(tmp_path / "warehouse")
    paths = [_landing_file(landing, m) for m in (0, 10, 20)]
    file_log = FileLog(spark, f"{wh}/control/file_log")

    with job_group(spark, "stage-files-jobs") as jobs:
        res = stage_files(
            spark,
            paths,
            f"{wh}/bronze/state_vectors",
            f"{wh}/silver/state_vectors",
            file_log,
        )
        assert set(res.values()) == {"CLEAN_EXPORTED"}
        assert len(jobs()) == 1


def test_stage_files_keeps_exact_file_names_in_one_batch(spark, tmp_path):
    """A batch tags each file with its own name: Spark URL-encodes
    `input_file_name()`, which would turn `a b%2+c` into `a%20b%252+c`."""
    landing, wh = tmp_path / "landing", str(tmp_path / "warehouse")
    landing.mkdir()
    row = "abcdef,CALL1   ,Nowhere,1700000000,{},1.0,2.0,3.0,false,4.0,5.0,6.0,,7.0,1000,false,0\n"
    sizes = {"states_a b%2+c.csv": 3, "states_plain.csv": 2}
    paths = []
    for name, n in sizes.items():
        (landing / name).write_text(HEADER + "".join(row.format(1700000010 + i) for i in range(n)))
        paths.append(str(landing / name))
    file_log = FileLog(spark, f"{wh}/control/file_log")

    res = stage_files(
        spark, paths, f"{wh}/bronze/state_vectors", f"{wh}/silver/state_vectors", file_log
    )

    assert res == {name: "CLEAN_EXPORTED" for name in sizes}
    silver = spark.read.parquet(f"{wh}/silver/state_vectors")
    per_file = silver.groupBy("file_source").count().collect()
    assert {r.file_source: r["count"] for r in per_file} == sizes
    assert {r.file_name: r.row_count for r in file_log.current().collect()} == sizes


def test_stage_files_reads_each_path_literally(spark, tmp_path):
    """Glob characters in a file name match only that file (read as a
    glob, `states_[x]{y}.csv` is not found and `states_a?b.csv` also
    reads `states_aXb.csv`), and every name keeps its exact spelling."""
    landing, wh = tmp_path / "landing", str(tmp_path / "warehouse")
    landing.mkdir()
    row = "abcdef,CALL1   ,Nowhere,1700000000,{},1.0,2.0,3.0,false,4.0,5.0,6.0,,7.0,1000,false,0\n"
    sizes = {"states_[x]{y}.csv": 2, "states_a?b.csv": 1, "states_aXb.csv": 4, "states_é#x.csv": 3}
    for name, n in sizes.items():
        (landing / name).write_text(HEADER + "".join(row.format(1700000010 + i) for i in range(n)))
    file_log = FileLog(spark, f"{wh}/control/file_log")

    res = stage_files(
        spark,
        [str(landing / name) for name in sizes],
        f"{wh}/bronze/state_vectors",
        f"{wh}/silver/state_vectors",
        file_log,
    )

    assert res == {name: "CLEAN_EXPORTED" for name in sizes}
    assert {r.file_name: r.row_count for r in file_log.current().collect()} == sizes
    silver = spark.read.parquet(f"{wh}/silver/state_vectors")
    per_file = silver.groupBy("file_source").count().collect()
    assert {r.file_source: r["count"] for r in per_file} == sizes


def test_bronze_falls_back_to_a_whole_copy_when_links_fail(spark, tmp_path, monkeypatch):
    landing, wh = str(tmp_path / "landing"), str(tmp_path / "warehouse")
    path = _landing_file(landing, 30)
    name = os.path.basename(path)

    def cross_device(src, dst, *args, **kwargs):
        raise OSError(errno.EXDEV, os.strerror(errno.EXDEV), src, None, dst)

    monkeypatch.setattr(os, "link", cross_device)
    assert run_incremental_load(spark, landing, wh) == {name: "CLEAN_EXPORTED"}

    [entry] = _bronze_entries(wh, name)
    assert open(entry, "rb").read() == open(path, "rb").read()
    assert not os.path.samefile(entry, path)
    assert os.listdir(os.path.dirname(entry)) == [name]
    status = {
        r.file_name: r.status
        for r in FileLog(spark, f"{wh}/control/file_log").current().collect()
    }
    assert status == {name: "CLEAN_EXPORTED"}
