"""CDC ingest job driver — the spark-submit entry point of the engine.

    spark-submit --py-files pkg.zip scripts/run_cdc_job.py \
        --events-dir /data/events --table-root /lake/repo_content \
        [--checkpoint-dir /lake/_checkpoints/repo_content] \
        [--lineage-root /lake/_metrics/lineage] \
        [--mode batch|stream] [--num-buckets 32] [--salt-buckets 16] \
        [--merge-mode cow|mor] [--compact-ratio 0.3] \
        [--ordering-gate] [--gate-ttl-minutes 30] \
        [--quarantine-root /lake/_dlq/repo_content] \
        [--demux-tables ta,tb --table-col table_name]

Batch mode replays every batch the table's manifest does not yet record as
applied (exactly-once; the reference's unvalidated-COMPLETED-batch loop,
migration-data-validation.py:1792-1830); stream mode runs one availableNow
Structured Streaming pass and resumes from the checkpoint.  Either mode is
safe to re-run after a crash — redelivered batches no-op.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession

from data_migration_validator_spark.cdc.apply import make_lineage_table
from data_migration_validator_spark.cdc.quarantine import make_quarantine_table
from data_migration_validator_spark.cdc.replay import pending_batches, replay
from data_migration_validator_spark.lake.table import LakeTable
from data_migration_validator_spark.streaming.stream import run_stream_once

REPO_CONTENT_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events-dir", required=True)
    ap.add_argument("--table-root", required=True)
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--lineage-root")
    ap.add_argument("--mode", choices=["batch", "stream"], default="batch")
    ap.add_argument("--num-buckets", type=int, default=32)
    ap.add_argument("--salt-buckets", type=int, default=1,
                    help="two-phase salted dedup fan-out; 1 = single-phase "
                         "(library default — the salted form costs a second "
                         "payload shuffle, reach for it only at extreme fan-in)")
    ap.add_argument("--count-deletes", action="store_true")
    ap.add_argument("--merge-mode", choices=["cow", "mor"], default=None,
                    help="MERGE strategy; mor = O(batch) delta commits")
    ap.add_argument("--compact-ratio", type=float, default=None,
                    help="stream mode: fold deltas back when delta bytes "
                         "exceed ratio x base bytes (in-loop maintenance)")
    ap.add_argument("--ordering-gate", action="store_true",
                    help="stream mode: stateful per-key event_seq gate "
                         "(row-level redelivery protection)")
    ap.add_argument("--gate-ttl-minutes", type=float, default=None,
                    help="bound gate state: evict keys idle this long")
    ap.add_argument("--quarantine-root", default=None,
                    help="dead-letter table root: malformed events (unknown "
                         "op, null key, no payload) are split out and "
                         "upserted exactly-once instead of dropped")
    ap.add_argument("--progress-root", default=None,
                    help="stream mode: persist per-trigger progress "
                         "(rows/s, trigger wall) captured by a "
                         "StreamingQueryListener to this lake table")
    ap.add_argument("--view-root", default=None,
                    help="maintain an incremental COUNT+SUM materialized "
                         "view at this root, refreshed from the change feed "
                         "after the ingest pass (O(delta), never a rescan)")
    ap.add_argument("--view-group", default=None,
                    help="comma-separated group columns for --view-root")
    ap.add_argument("--view-sums", default=None,
                    help="comma-separated columns to SUM for --view-root")
    ap.add_argument("--demux-tables", default=None,
                    help="comma-separated table names: treat the stream as "
                         "a MIXED multi-table feed (routing column "
                         "--table-col) and demux to per-table lake tables "
                         "under <table-root>/<name>")
    ap.add_argument("--table-col", default="table_name",
                    help="routing column for --demux-tables")
    args = ap.parse_args()

    # fail fast on flags the selected mode silently ignores — an operator
    # who asked for the ordering gate must not believe it is on when the
    # batch path never wires it
    stream_only = {
        "--ordering-gate": args.ordering_gate,
        "--gate-ttl-minutes": args.gate_ttl_minutes is not None,
        "--compact-ratio": args.compact_ratio is not None,
        "--progress-root": args.progress_root is not None,
    }
    if args.mode == "batch":
        bad = [k for k, v in stream_only.items() if v]
        if bad:
            ap.error(f"{', '.join(bad)} only apply to --mode stream")
    if args.mode == "stream" and args.count_deletes:
        ap.error("--count-deletes only applies to --mode batch")
    if args.view_root and not args.view_group:
        ap.error("--view-root requires --view-group")
    if args.view_sums and not args.view_root:
        ap.error("--view-sums requires --view-root")
    if args.view_root:
        # validate against an existing view's stored definition BEFORE any
        # replay runs — rejecting after batches were applied would leave a
        # "failed" run that silently advanced the table
        if LakeTable.exists(args.view_root):
            # the definition lives in the view's manifest: no session needed
            st = LakeTable.load(None, args.view_root).manifest.get("view", {})
            want_group = [c.strip() for c in args.view_group.split(",") if c.strip()]
            want_sums = [
                c.strip() for c in (args.view_sums or "").split(",") if c.strip()
            ]
            have_group = st.get("group_cols")
            have_sums = st.get("sum_cols")
            if (have_group is not None and have_group != want_group) or (
                want_sums and have_sums is not None and have_sums != want_sums
            ):
                ap.error(
                    f"existing view at {args.view_root} was defined with "
                    f"group={have_group} sums={have_sums}; rerun flags "
                    "must match (or point at a new --view-root)"
                )
    if args.demux_tables:
        demux_unsupported = {
            **stream_only, "--count-deletes": args.count_deletes,
            "--view-root": args.view_root is not None,
        }
        bad = [k for k, v in demux_unsupported.items() if v]
        if bad:
            ap.error(f"{', '.join(bad)} not supported with --demux-tables")

    spark = SparkSession.builder.getOrCreate()
    if args.demux_tables:
        _run_demux(spark, args)
        return
    if LakeTable.exists(args.table_root):
        table = LakeTable.load(spark, args.table_root)
    else:
        table = LakeTable.create(
            spark,
            args.table_root,
            REPO_CONTENT_SCHEMA,
            key_cols=["repo", "path"],
            bucket_col="repo",
            num_buckets=args.num_buckets,
        )
    lineage = (
        make_lineage_table(spark, args.lineage_root) if args.lineage_root else None
    )
    quarantine = (
        make_quarantine_table(spark, args.quarantine_root)
        if args.quarantine_root
        else None
    )

    if args.mode == "stream":
        if not args.checkpoint_dir:
            ap.error("--checkpoint-dir is required in stream mode")
        progress = None
        if args.progress_root:
            from data_migration_validator_spark.streaming.metrics import (
                make_progress_table,
            )

            progress = make_progress_table(spark, args.progress_root)
        run_stream_once(
            table,
            args.events_dir,
            args.checkpoint_dir,
            lineage=lineage,
            salt_buckets=args.salt_buckets,
            merge_mode=args.merge_mode,
            compact_ratio=args.compact_ratio,
            ordering_gate=args.ordering_gate,
            gate_ttl_minutes=args.gate_ttl_minutes,
            quarantine=quarantine,
            progress=progress,
        )
        stats = {"mode": "stream", "rows": table.row_count(), "seq": table.manifest["seq"]}
        if progress is not None:
            stats["progress_rows"] = progress.row_count()
    else:
        pending = pending_batches(table, args.events_dir)
        stats = replay(
            table,
            args.events_dir,
            lineage=lineage,
            batch_ids=pending,
            salt_buckets=args.salt_buckets,
            count_deletes=args.count_deletes,
            merge_mode=args.merge_mode,
            quarantine=quarantine,
        )
        stats["mode"] = "batch"
    if quarantine is not None:
        stats["rows_quarantined"] = quarantine.row_count()
    if args.view_root:
        from data_migration_validator_spark.lake.ivm import IncrementalAggView

        group = [c.strip() for c in args.view_group.split(",") if c.strip()]
        sums = [c.strip() for c in (args.view_sums or "").split(",") if c.strip()]
        if LakeTable.exists(args.view_root):
            # definition mismatch was already rejected up front, pre-replay
            view = IncrementalAggView.load(spark, args.view_root, table)
        else:
            view = IncrementalAggView.create(
                spark, args.view_root, table, group, sums
            )
        stats["view"] = view.refresh()
    print(json.dumps(stats))


def _run_demux(spark, args) -> None:
    """Multi-table mode: the events dir carries a mixed stream; each named
    table gets its own lake root and lineage table, and records applied
    batches in its own manifest."""
    from data_migration_validator_spark.cdc.demux import demux_replay
    from data_migration_validator_spark.streaming.stream import start_demux_stream

    names = [n.strip() for n in args.demux_tables.split(",") if n.strip()]
    tables = {}
    for n in names:
        root = os.path.join(args.table_root, n)
        tables[n] = (
            LakeTable.load(spark, root)
            if LakeTable.exists(root)
            else LakeTable.create(
                spark, root, REPO_CONTENT_SCHEMA, key_cols=["repo", "path"],
                bucket_col="repo", num_buckets=args.num_buckets,
            )
        )
    lineage = (
        {n: make_lineage_table(spark, os.path.join(args.lineage_root, n))
         for n in names}
        if args.lineage_root
        else None
    )
    quarantine = (
        make_quarantine_table(spark, args.quarantine_root)
        if args.quarantine_root
        else None
    )
    if args.mode == "stream":
        if not args.checkpoint_dir:
            raise SystemExit("--checkpoint-dir is required in stream mode")
        start_demux_stream(
            tables, args.events_dir, args.checkpoint_dir,
            table_col=args.table_col, lineage=lineage, quarantine=quarantine,
            salt_buckets=args.salt_buckets, merge_mode=args.merge_mode,
        )
        stats = {
            "mode": "stream-demux",
            "rows": {n: LakeTable.load(spark, t.root).row_count()
                     for n, t in tables.items()},
        }
    else:
        stats = demux_replay(
            tables, args.events_dir, table_col=args.table_col,
            lineage=lineage, quarantine=quarantine,
            salt_buckets=args.salt_buckets, merge_mode=args.merge_mode,
        )
        stats["mode"] = "batch-demux"
    if quarantine is not None:
        stats["rows_quarantined"] = quarantine.row_count()
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
