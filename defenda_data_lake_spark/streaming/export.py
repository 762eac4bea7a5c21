"""Streaming shard-export maintenance: the deterministic JSONL shard
set (`operators/export.py`) kept live by a document stream, one
micro-batch at a time — the export-side member of the streaming
maintenance family (rollup / SCD / CDC).

Fold law: each micro-batch runs `incremental_export_jsonl` — shard
membership is content-addressed and the intra-shard order is a
deterministic re-sort of the touched shard, so ANY batching of the
same rows yields the same shard files, byte for byte (parity-tested
against a single full export).

Restart contract: the ``_last_batch_id`` marker makes checkpoint
redeliveries no-ops, and the crash window between the shard write
and the marker write is SELF-HEALING because documents carry ids:
the fold runs with ``if_exists="verify-noop"``, so a replayed batch
whose ids are all already exported returns a no-op instead of
doubling rows, while a PARTIAL overlap (never a legitimate replay)
still fails the query loudly.  This is the append-only analogue of
the CDC fold's equal-seq idempotence.

Scale: per-trigger cost is O(batch + touched shards) — untouched
shard files are never read or rewritten; at production shard counts a
small batch touches few shards, and the rewrite amortizes like any
LSM-ish append structure.  Size ``n_shards`` (at the initial
``export_jsonl_shards``) so a shard stays a few hundred MB; a
compaction is never needed — every fold already rewrites its touched
shards to exactly one file each.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from defenda_data_lake_spark.operators.export import (
    incremental_export_jsonl,
)
from defenda_data_lake_spark.streaming.rollup import (
    _read_last_batch_id,
    _write_last_batch_id,
)


def start_export_maintenance(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_path: str,
    id_col: str | None = None,
    trigger_seconds: int | None = 60,
    query_name: str = "export_maintenance",
    on_batch: Callable[[int, dict], None] | None = None,
) -> StreamingQuery:
    """Maintain the shard set at ``out_dir`` from a document stream.
    The shard set must exist (``export_jsonl_shards``) — bootstrap
    is a batch decision.  ``on_batch(batch_id,
    report)`` receives each fold's `incremental_export_jsonl` report
    (``appended``, ``touched_shards``, ``total_rows``, and
    ``replayed`` on a self-healed redelivery)."""
    spark = stream_df.sparkSession

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        last = _read_last_batch_id(spark, out_dir)
        if batch_id <= last:
            return  # redelivered after a crash-after-marker: skip
        report = incremental_export_jsonl(
            spark,
            batch_df,
            out_dir,
            id_col=id_col,
            if_exists="verify-noop",
        )
        _write_last_batch_id(spark, out_dir, batch_id)
        if on_batch is not None:
            on_batch(batch_id, report)

    writer = (
        stream_df.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
