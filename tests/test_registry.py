"""Table registry (sources/registry.py): the `spread` gate's split
estimate follows Spark's dynamic split size."""

from __future__ import annotations

import os

from data_warehouse_opensky_spark.sources.registry import _estimated_scan_splits


def test_split_estimate_uses_spark_dynamic_split_size(tmp_path):
    """One 300 MB parquet file at parallelism 4: Spark splits it at
    min(128 MB, max(4 MB, 304 MB / 4)) = 76 MB, so 4 splits. A fixed
    128 MB divisor estimates 3 and would add a redundant respread."""
    part = tmp_path / "part-0.parquet"
    part.touch()
    os.truncate(part, 300 * 1024 * 1024)  # sparse: no bytes on disk

    assert _estimated_scan_splits(str(tmp_path), 4) >= 4
    assert _estimated_scan_splits(str(tmp_path), 1) == 3
    assert _estimated_scan_splits(str(tmp_path / "missing"), 4) == 1
