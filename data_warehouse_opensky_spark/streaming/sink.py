"""foreachBatch upsert sink: latest-wins keyed MERGE into a parquet
target, one merge write per micro-batch.

The reference's staging load is an append plus a keyed ON CONFLICT
update on its ledger (load_warehouse.py:110-125); in Structured
Streaming the idiomatic shape for any merge/upsert sink is
`writeStream.foreachBatch` — the batch DataFrame API (joins, windows,
arbitrary writers) applied to each micro-batch, with the streaming
checkpoint guaranteeing each batch is applied exactly once per
batch_id.

Layout: the target is one flat parquet directory, `sink_dir/current/`,
readable as plain parquet. It holds latest state per key, so its size
is bounded by the key space, not by history. Each micro-batch:

  1. lists the `part-*` files of `current` and their `.part-*.crc`
     sidecars — the stale snapshot,
  2. merges those files with the batch latest-wins (union →
     row_number over key ORDER BY version desc, incoming batch wins
     ties), reading the batch once,
  3. appends the merged result to `current`,
  4. deletes the stale files.

This is the append-then-delete discipline of the control plane's
event-log compaction (warehouse/control.py::_EventLog.compact).

Replay is self-healing. A failure at any step leaves `current`
holding the old snapshot, the new one (whole or, if the write itself
failed, some of its files), or both; every row in it is a correct
latest-wins row for the keys it covers. The checkpoint then replays
the same batch_id: its merge collapses the copies per key (the batch
wins ties again, as it did the first time) and its delete step removes
every file that predates the replay's write.

Reader contract: a reader listing `current` between the append and the
delete sees both snapshots, i.e. up to two rows per key. Readers that
need one row per key at every instant read latest-wins per key, which
is what the merge itself does.

The replay and reader contracts hold for any caller of `upsert_latest`,
not only `foreachBatch`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.asof import latest_per_key

#: Subdirectory of the sink root holding the current merged snapshot.
CURRENT = "current"
#: Subdirectory of the sink root receiving quarantined rows.
REJECTS = "rejects"


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


def upsert_latest(
    batch: DataFrame, cur_path: str, key_cols: list[str], order_col: str
) -> None:
    """Upsert `batch` into the flat parquet snapshot at `cur_path`
    (latest-wins per key by `order_col`, `batch` wins ties): merge the
    stale part files with the batch, append the result, then delete the
    stale files. See the module docstring for the replay contract."""
    # Stale = part files and their `.part-*.crc` sidecars, listed
    # before the append; the merge reads exactly the part files that
    # the delete below removes.
    names = os.listdir(cur_path) if os.path.isdir(cur_path) else []
    stale = [n for n in names if n.lstrip(".").startswith("part-")]
    parts = [os.path.join(cur_path, n) for n in stale if n.startswith("part-")]
    target = batch.sparkSession.read.parquet(*parts) if parts else None
    _merge_latest(target, batch, key_cols, order_col).write.mode(
        "append"
    ).parquet(cur_path)
    for n in stale:
        os.remove(os.path.join(cur_path, n))


def upsert_parquet_sink(
    stream: DataFrame,
    sink_dir: str,
    *,
    key_cols: list[str],
    order_col: str,
    checkpoint_dir: str,
    rules: "list[tuple[str, F.Column]] | None" = None,
) -> StreamingQuery:
    """Start a foreachBatch streaming query that upserts each
    micro-batch into `sink_dir/current` (latest-wins per key): the
    stale snapshot files and the batch are merged, the result is
    appended to `current`, then the stale files are deleted. See the
    module docstring for why a replay after a failure at any step
    converges to the same snapshot.

    With `rules` (rule_name, passes-predicate pairs — see
    warehouse/etl.py::quarantine_split), each micro-batch is first
    split row-level: violating rows append to `sink_dir/rejects/`
    tagged with the violated rule names and batch_id (replay-
    idempotent: a replayed batch_id overwrites its own rejects
    partition), and only clean rows enter the merge — the streaming
    twin of the batch quarantine, so one poison row degrades to one
    quarantined row instead of a poisoned snapshot or a dead query.
    """
    cur_path = os.path.join(sink_dir, CURRENT)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if rules is not None:
            from ..warehouse.etl import quarantine_split

            batch, bad = quarantine_split(batch, rules)
            rejects_path = os.path.join(sink_dir, REJECTS, f"batch_id={batch_id}")
            # Mode=overwrite per batch_id partition: exactly-once under
            # foreachBatch replay without a distributed commit.
            bad.withColumn("violations", F.concat_ws(",", "violations")).write.mode(
                "overwrite"
            ).parquet(rejects_path)
        upsert_latest(batch, cur_path, key_cols, order_col)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
