"""Batch replay loop: ordered micro-batches → apply_batch, exactly-once.

Used by tests and the bench harness.  The streaming path
(``streaming.stream``) wraps the same ``apply_batch`` in foreachBatch; the
replay loop is the deterministic, offset-explicit equivalent (the
reference's unvalidated-COMPLETED-batch discovery loop,
``migration-data-validation.py:1792-1830``, without the manual SQL
bookkeeping — the manifest's applied-batch set IS the bookkeeping).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

from ..lake.table import LakeTable
from .apply import apply_batch


def pending_batches(table: LakeTable, events_dir: str) -> list[int]:
    """Unapplied batch ids, in order — the replay-native form of the
    reference's unvalidated-COMPLETED-batch discovery join
    (migration-data-validation.py:1792-1818): available batches minus the
    batches the table's manifest records as applied, no SQL bookkeeping
    tables."""
    available = sorted(
        int(d.split("=")[1])
        for d in os.listdir(events_dir)
        if d.startswith("batch_hint=")
    )
    return [b for b in available if not table.has_batch(b)]


def replay(
    table: LakeTable,
    events_dir: str,
    lineage: LakeTable | None = None,
    batch_ids: list[int] | None = None,
    salt_buckets: int = 1,
    count_deletes: bool = False,
    merge_mode: str | None = None,
    compact_every: int | None = None,
    quarantine: LakeTable | None = None,
) -> dict:
    """Replay batched events (written by ``write_events_batched``) in order.

    Each batch is read with directory pruning (``batch_hint=<id>/``), applied
    idempotently, and committed.  Re-running after a crash (or calling with
    overlapping ``batch_ids``) re-applies nothing.

    ``merge_mode="mor"`` lands each batch as merge-on-read deltas (O(batch)
    bytes per batch instead of O(touched table) — the high-rate ingest
    shape); ``compact_every=k`` folds deltas back into base files after
    every k applied batches (compaction is idempotent maintenance — a crash
    between a merge and its compaction loses nothing).
    """
    spark: SparkSession = table.spark
    if batch_ids is None:
        batch_ids = sorted(
            int(d.split("=")[1])
            for d in os.listdir(events_dir)
            if d.startswith("batch_hint=")
        )
    t0 = time.monotonic()
    n_applied = n_skipped = total_upserted = total_deleted = total_del_req = 0
    total_kept = total_rewritten = 0
    for bid in batch_ids:
        if table.has_batch(bid):
            # applied-batch skip BEFORE the read: a restart over an 800-batch
            # stream should not pay per-batch listing + footer reads for
            # work it will immediately skip
            n_skipped += 1
            continue
        batch_df = spark.read.parquet(os.path.join(events_dir, f"batch_hint={bid}"))
        stats = apply_batch(
            table,
            batch_df,
            batch_id=bid,
            lineage=lineage,
            salt_buckets=salt_buckets,
            count_deletes=count_deletes,
            merge_mode=merge_mode,
            quarantine=quarantine,
        )
        if stats.get("skipped"):
            n_skipped += 1
        else:
            n_applied += 1
            total_upserted += stats.get("rows_upserted", 0)
            total_deleted += stats.get("rows_deleted", 0)
            total_del_req += stats.get("rows_delete_requested", 0)
            total_kept += stats.get("files_kept", 0)
            total_rewritten += stats.get("files_rewritten", 0)
            if compact_every and n_applied % compact_every == 0:
                table.compact()
    out = {
        "batches_applied": n_applied,
        "batches_skipped": n_skipped,
        "rows_upserted": total_upserted,
        "rows_delete_requested": total_del_req,
        # MERGE file-prune write-amp accounting (COW batches only; a kept
        # file was neither read nor rewritten)
        "files_kept": total_kept,
        "files_rewritten": total_rewritten,
        "wall_s": time.monotonic() - t0,
    }
    if count_deletes:
        out["rows_deleted"] = total_deleted
    return out
