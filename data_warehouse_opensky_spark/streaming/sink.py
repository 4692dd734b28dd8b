"""foreachBatch upsert sink: latest-wins keyed MERGE into a parquet
target, one transaction per micro-batch, partition-scoped rewrite.

The reference's staging load is an append plus a keyed ON CONFLICT
update on its ledger (load_warehouse.py:110-125); in Structured
Streaming the idiomatic shape for any merge/upsert sink is
`writeStream.foreachBatch` — the batch DataFrame API (joins, windows,
arbitrary writers) applied to each micro-batch, with the streaming
checkpoint guaranteeing each batch is applied exactly once per
batch_id.

Scale: the target is hash-partitioned on the merge key into
`current/bucket=N/` directories (N = pmod(xxhash64(key), num_buckets),
persisted in a `_buckets` marker so restarts keep the layout). Each
micro-batch:

  1. computes the bucket of every incoming row,
  2. reads ONLY the touched `bucket=N` slices of the target,
  3. merges latest-wins (union → row_number over key ORDER BY version
     desc, incoming batch wins ties) — one key-shuffle sized by
     |touched slices ∪ batch|, NOT |target|,
  4. rewrites only the touched buckets, with an atomic per-bucket
     directory rename.

Because the bucket is a pure function of the key, rows that could
merge always live in the same bucket, so untouched buckets are
byte-identical after the batch — at 100 TB the rewrite cost is
O(|batch| + |touched slices|), independent of target size. The swap
is atomic at the bucket-directory level (write to `_staging_v{id}`,
rename over `current/bucket=N`), so readers never observe a
half-written bucket — the parquet twin of the reference's per-file
transaction (T1.23). Cross-bucket visibility is eventually-atomic
per batch (buckets swap one rename apart); readers needing a fully
consistent multi-bucket snapshot read latest-wins per key, which is
idempotent under replay anyway.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.asof import latest_per_key

#: Subdirectory of the sink root holding the current merged snapshot.
CURRENT = "current"
#: Marker file persisting the bucket count chosen at sink creation.
BUCKETS_MARKER = "_buckets"
#: Hive partition column name used for the bucket directories.
BUCKET_COL = "bucket"


def _bucket_expr(key_cols: list[str], num_buckets: int):
    return F.pmod(F.xxhash64(*key_cols), F.lit(num_buckets)).cast("int")


def _merge_latest(
    target: DataFrame | None, batch: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """Latest-wins merge: one row per key, max order_col (ties broken by
    preferring the incoming batch, tagged _src=1)."""
    batch = batch.withColumn("_src", F.lit(1))
    merged = (
        batch
        if target is None
        else target.withColumn("_src", F.lit(0)).unionByName(batch)
    )
    return latest_per_key(merged, key_cols, [order_col, "_src"]).drop("_src")


def _load_num_buckets(sink_dir: str, requested: int) -> int:
    """The first batch pins the layout; later batches (and restarts with
    a different `num_buckets` argument) follow the persisted value, so
    bucket membership never drifts from what's on disk."""
    marker = os.path.join(sink_dir, BUCKETS_MARKER)
    if os.path.exists(marker):
        with open(marker, encoding="ascii") as f:
            return int(f.read().strip())
    os.makedirs(sink_dir, exist_ok=True)
    with open(marker, "w", encoding="ascii") as f:
        f.write(str(requested))
    return requested


#: Subdirectory of the sink root receiving quarantined rows.
REJECTS = "rejects"


def upsert_parquet_sink(
    stream: DataFrame,
    sink_dir: str,
    *,
    key_cols: list[str],
    order_col: str,
    checkpoint_dir: str,
    num_buckets: int = 16,
    rules: "list[tuple[str, F.Column]] | None" = None,
) -> StreamingQuery:
    """Start a foreachBatch streaming query that upserts each
    micro-batch into `sink_dir/current` (latest-wins per key),
    rewriting only the `bucket=N` partitions the batch touches.

    With `rules` (rule_name, passes-predicate pairs — see
    warehouse/etl.py::quarantine_split), each micro-batch is first
    split row-level: violating rows append to `sink_dir/rejects/`
    tagged with the violated rule names and batch_id (replay-
    idempotent: a replayed batch_id overwrites its own rejects
    partition), and only clean rows enter the merge — the streaming
    twin of the batch quarantine, so one poison row degrades to one
    quarantined row instead of a poisoned snapshot or a dead query.
    """
    spark = stream.sparkSession

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        n_buckets = _load_num_buckets(sink_dir, num_buckets)
        cur_path = os.path.join(sink_dir, CURRENT)

        if rules is not None:
            from ..warehouse.etl import quarantine_split

            batch, bad = quarantine_split(batch, rules)
            rejects_path = os.path.join(sink_dir, REJECTS, f"batch_id={batch_id}")
            # Mode=overwrite per batch_id partition: exactly-once under
            # foreachBatch replay without a distributed commit.
            bad.withColumn("violations", F.concat_ws(",", "violations")).write.mode(
                "overwrite"
            ).parquet(rejects_path)

        batch = batch.withColumn(BUCKET_COL, _bucket_expr(key_cols, n_buckets))
        # Control-plane only: ≤ num_buckets small ints, not data rows.
        touched = sorted(
            r[0] for r in batch.select(BUCKET_COL).distinct().collect()
        )
        if not touched:
            return

        existing = [
            os.path.join(cur_path, f"{BUCKET_COL}={b}")
            for b in touched
            if os.path.exists(os.path.join(cur_path, f"{BUCKET_COL}={b}"))
        ]
        target = None
        if existing:
            # basePath keeps the hive partition column; we drop it and
            # recompute after the merge so batch/target schemas align.
            target = (
                spark.read.option("basePath", cur_path)
                .parquet(*existing)
                .drop(BUCKET_COL)
            )

        merged = _merge_latest(target, batch.drop(BUCKET_COL), key_cols, order_col)
        merged = merged.withColumn(BUCKET_COL, _bucket_expr(key_cols, n_buckets))

        staged = os.path.join(sink_dir, f"_staging_v{batch_id}")
        merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staged)

        # Atomic swap PER BUCKET: a reader of any bucket sees the old
        # slice or the new one, never a partial write. Untouched
        # buckets are not opened, not rewritten, not renamed.
        os.makedirs(cur_path, exist_ok=True)
        for b in touched:
            part = f"{BUCKET_COL}={b}"
            new_part = os.path.join(staged, part)
            if not os.path.exists(new_part):
                continue  # all rows of b were superseded duplicates
            cur_part = os.path.join(cur_path, part)
            old_part = os.path.join(sink_dir, f"_old_v{batch_id}_{b}")
            if os.path.exists(cur_part):
                os.rename(cur_part, old_part)
            os.rename(new_part, cur_part)
            shutil.rmtree(old_part, ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
