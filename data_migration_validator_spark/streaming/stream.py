"""Structured Streaming ingest: readStream → foreachBatch(apply) → lake sink.

The reference is batch-with-manual-bookkeeping (SURVEY.md §2.9); this module
is the native-streaming re-expression:

- source offsets + checkpoint (``option("checkpointLocation", …)``) replace
  the unvalidated-COMPLETED-batch discovery SQL
  (``migration-data-validation.py:1792-1818``);
- ``foreachBatch(fn, batchId)`` replaces the ``_aud_batch_load_id IN (...)``
  row scoping (``databricks-extract.py:172-178``);
- exactly-once: foreachBatch is at-least-once on retry, so the sink is made
  idempotent — ``apply_batch`` consults the applied-batch set in the lake table's
  manifest and no-ops on a replayed batchId (SURVEY.md §7.4 known-hard part 1).
"""

from __future__ import annotations

from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..cdc.apply import apply_batch
from ..lake.table import LakeTable

def _await_or_raise(q: StreamingQuery, timeout_s: int) -> None:
    """Block until the query terminates; a TIMEOUT is an ERROR, not a
    success.  ``awaitTermination(t)`` returns False when the query is still
    running — silently ``stop()``-ing there would report a half-applied
    stream as complete.  The checkpoint keeps the drained prefix, so the
    caller can re-run to resume after raising."""
    done = q.awaitTermination(timeout_s)
    if not done:
        q.stop()
        raise TimeoutError(
            f"stream did not drain within {timeout_s}s; "
            "checkpoint retains progress — re-run to resume"
        )


EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("schema_change", T.StringType()),
        T.StructField("batch_hint", T.IntegerType()),
    ]
)


def start_stream(
    table: LakeTable,
    events_dir: str,
    checkpoint_dir: str,
    lineage: LakeTable | None = None,
    max_files_per_trigger: int = 4,
    salt_buckets: int = 1,
    merge_mode: str | None = None,
    compact_ratio: float | None = None,
    ordering_gate: bool = False,
    gate_ttl_minutes: float | None = None,
    quarantine: LakeTable | None = None,
) -> StreamingQuery:
    """Tail a growing directory of event files into the lake table.

    ``merge_mode="mor"`` makes every micro-batch an O(batch) delta commit —
    the sustained-ingest shape.  ``compact_ratio`` enables in-loop
    maintenance: after each committed batch, buckets whose delta bytes
    exceed ``ratio × base bytes`` are folded back into base files
    (:meth:`LakeTable.maybe_compact` — a metadata-only decision per batch,
    compaction cost amortized across the stream instead of one stop-the-
    world rewrite).  Leave ``None`` to schedule compaction as separate
    maintenance.

    ``ordering_gate=True`` interposes the stateful per-key monotonic
    event_seq gate (:func:`..streaming.windowed.stateful_ordering_gate`)
    between source and sink: the manifest's applied-batch set already absorbs
    whole-batch redelivery; the gate additionally drops ROW-level
    duplicates a tailing source can re-emit under new file names (e.g. a
    re-uploaded binlog segment).  Costs the gate's state shuffle per batch;
    ``gate_ttl_minutes`` bounds its state (windowed.py docstring trade).

    ``quarantine``: dead-letter LakeTable (``cdc.quarantine``) — malformed
    events are split out per micro-batch and upserted exactly-once keyed by
    (batch_id, event_seq); only clean DML reaches the MERGE."""
    spark = table.spark
    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )
    if ordering_gate:
        from .windowed import stateful_ordering_gate

        stream = stateful_ordering_gate(stream, ttl_minutes=gate_ttl_minutes)

    def _sink(batch_df, batch_id: int):
        apply_batch(
            table,
            batch_df,
            batch_id=f"stream-{batch_id}",
            lineage=lineage,
            salt_buckets=salt_buckets,
            merge_mode=merge_mode,
            quarantine=quarantine,
        )
        if compact_ratio is not None:
            table.maybe_compact(max_delta_ratio=compact_ratio)

    writer = stream.writeStream.foreachBatch(_sink)
    if ordering_gate:
        # the stateful gate requires update mode (ignored by foreachBatch
        # delivery itself — each batch is exactly the gate's emitted rows)
        writer = writer.outputMode("update")
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_once(
    table: LakeTable,
    events_dir: str,
    checkpoint_dir: str,
    lineage: LakeTable | None = None,
    max_files_per_trigger: int = 4,
    timeout_s: int = 600,
    salt_buckets: int = 1,
    merge_mode: str | None = None,
    compact_ratio: float | None = None,
    ordering_gate: bool = False,
    gate_ttl_minutes: float | None = None,
    quarantine: LakeTable | None = None,
    progress: LakeTable | None = None,
) -> None:
    """Run the stream to exhaustion of currently-available input (one
    availableNow pass) and stop.  Safe to call repeatedly: the checkpoint
    resumes from the recorded offsets, and the idempotent sink absorbs any
    batch replayed across a kill/restart.

    ``progress``: optional ops-metrics LakeTable (``streaming.metrics``) —
    per-trigger input/processed rows-per-second and trigger wall captured by
    a StreamingQueryListener and appended after the run."""
    listener = None
    if progress is not None:
        from .metrics import ProgressMetricsListener

        listener = ProgressMetricsListener()
        table.spark.streams.addListener(listener)
    query_id = None
    try:
        q = start_stream(
            table,
            events_dir,
            checkpoint_dir,
            lineage=lineage,
            max_files_per_trigger=max_files_per_trigger,
            salt_buckets=salt_buckets,
            merge_mode=merge_mode,
            compact_ratio=compact_ratio,
            ordering_gate=ordering_gate,
            gate_ttl_minutes=gate_ttl_minutes,
            quarantine=quarantine,
        )
        query_id = q.id
        _await_or_raise(q, timeout_s)
    finally:
        # always detach: a leaked listener would keep accumulating rows for
        # every later streaming query in the shared session
        if listener is not None:
            _drain_listener(listener)
            table.spark.streams.removeListener(listener)
    if listener is not None:
        # flush ONLY this query's rows: the listener hears every stream in
        # the shared session (rows are tagged with their query id at
        # capture, so filtering at flush time is race-free)
        listener.flush_to(progress, query_id=query_id)


def _drain_listener(listener, max_wait_s: float = 10.0) -> None:
    """Listener events arrive on a separate driver thread after each trigger
    commit; wait for the buffer to go stable.  Stable-at-ZERO only counts
    after a 2 s grace window — the last trigger's callback can take longer
    than one poll interval to cross the py4j bridge, and exiting early
    would silently flush nothing for a run that processed data.  A genuine
    no-new-input run pays the 2 s once; runs with rows exit on the first
    stable non-zero reading."""
    import time as _time

    t0 = _time.monotonic()
    deadline = t0 + max_wait_s
    last = -1
    while _time.monotonic() < deadline:
        n = len(listener.snapshot())
        if n == last and (n > 0 or _time.monotonic() - t0 >= 2.0):
            break
        last = n
        _time.sleep(0.3)


def run_scd2_stream_once(
    history: LakeTable,
    events_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    timeout_s: int = 600,
    compact_ratio: float | None = None,
    **scd_kwargs,
) -> None:
    """Tail the event directory into an SCD Type-2 *history* table
    (``cdc.scd.scd2_apply`` in foreachBatch) — the streaming form of
    :func:`cdc.scd.scd2_replay`, sharing its exactly-once MERGE keyed on
    the stream's batchId.

    Ordering contract: :func:`scd2_apply` needs micro-batches applied in
    ``order_col`` order per key.  An availableNow file tail delivers files
    in listing order, the same contract batch replay relies on (the fixture
    writes ``batch_hint=N`` directories in sequence); a source that can
    reorder needs the stateful ordering gate upstream.  Safe to re-run with
    the same checkpoint: replayed batchIds no-op via the manifest's batch set.

    ``merge_mode="mor"`` (forwarded via ``scd_kwargs``) makes each batch an
    O(batch) delta commit; ``compact_ratio`` then bounds the delta pile the
    close-set scan resolves per batch (:meth:`LakeTable.maybe_compact` — a
    metadata-only decision per batch, same in-loop policy as the mirror
    sink above)."""
    spark = history.spark
    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )

    def _sink(batch_df, batch_id: int):
        from ..cdc.scd import scd2_apply

        scd2_apply(history, batch_df, batch_id=f"scd2-{batch_id}", **scd_kwargs)
        if compact_ratio is not None:
            history.maybe_compact(max_delta_ratio=compact_ratio)

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_s)


def start_demux_stream(
    tables: dict[str, LakeTable],
    events_dir: str,
    checkpoint_dir: str,
    table_col: str = "table_name",
    lineage: dict[str, LakeTable] | None = None,
    quarantine: LakeTable | None = None,
    max_files_per_trigger: int = 4,
    salt_buckets: int = 1,
    merge_mode: str | None = None,
    timeout_s: int = 600,
) -> None:
    """Multi-table tail: one mixed stream (schema = event stream + the
    routing column) demuxed to per-table lake tables inside foreachBatch
    (:func:`cdc.demux.demux_batch`).  Per-table batch sets make the sink
    idempotent table-by-table — a micro-batch redelivered after a crash
    mid-demux no-ops on the tables that committed and applies on the rest.
    One availableNow pass; resumes from the checkpoint like
    :func:`run_stream_once`."""
    from ..cdc.demux import demux_batch

    spark = next(iter(tables.values())).spark
    schema = T.StructType(
        list(EVENT_STREAM_SCHEMA.fields) + [T.StructField(table_col, T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )

    def _sink(batch_df, batch_id: int):
        demux_batch(
            tables,
            batch_df,
            batch_id=f"stream-{batch_id}",
            table_col=table_col,
            lineage=lineage,
            quarantine=quarantine,
            salt_buckets=salt_buckets,
            merge_mode=merge_mode,
        )

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_s)
