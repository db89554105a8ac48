"""Per-batch change application: schema evolution → last-writer-wins
dedup → MERGE, with lineage metrics and exactly-once batch commits.

This is the engine core demanded by the north rule.  The skew story is
explicit, in three layers:

1. **Map-side partial aggregation** (default): the dedup's hash aggregate
   emits at most one candidate row per key per map task before the
   exchange, so a hot repo's (repo, path) never reaches a reducer as raw
   events — the reducer sees ≤ #map-tasks partials however hot the key is,
   and the payload crosses the wire exactly once.
2. **Explicit salt** (``salt_buckets > 1``): for extreme fan-in (one key
   spread over many thousands of map tasks), a two-phase form first groups
   by (repo, path, salt) with salt = pmod(xxhash64(event_seq), K) — a hot
   key's partials spread over K reducers — then reduces the ≤K winners per
   key.  Costs a second payload shuffle; reach for it only when layer 1's
   #map-tasks bound is itself too many rows per reducer.
3. **AQE skew-join splitting** stays on for the join shapes (session.py).

Event payload fields map to current table columns **by field id**, so events
that still say ``lang`` keep landing in the column even after it is renamed
to ``language`` (schema evolution by id, not by name).
"""

from __future__ import annotations

import json
import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lake.table import LakeTable
from ..session import local_frame

# immutable ids of the event payload fields == ids of the initial
# repo_content schema columns (FIXTURES.md §F1/F2).
EVENT_FIELD_IDS: dict[str, int] = {
    "repo": 1,
    "path": 2,
    "commit": 3,
    "lang": 4,
    "content": 5,
}


def _event_names(table: LakeTable, cols) -> list[str]:
    """Map current TABLE column names to the fixed EVENT payload names by
    field id (rename-safe): a renamed key/bucket column still resolves to
    the event field that carries it."""
    cur = table.schema
    id_to_event = {fid: n for n, fid in EVENT_FIELD_IDS.items()}

    def one(col: str) -> str:
        fld = cur.field_by_name(col)
        return id_to_event.get(fld.id, col) if fld is not None else col

    return [one(c) for c in cols]


def dedup_last_writer_wins(
    events: DataFrame,
    key_cols: list[str] = ("repo", "path"),
    order_col: str = "event_seq",
    salt_buckets: int = 1,
) -> DataFrame:
    """One row per key: the max-``order_col`` event (ties broken by commit).

    Single-phase by default; ``salt_buckets > 1`` switches to the two-phase
    salted form (module docstring, skew layer 2).  ``max_by`` over a struct
    keeps the whole payload with the winning order key — no second join
    back.  Both forms are result-identical (tested).
    """
    payload_cols = [c for c in events.columns if c not in key_cols]
    winner = F.struct(F.col(order_col), F.col("commit"), *[F.col(c) for c in payload_cols if c not in (order_col, "commit")])
    order_key = F.struct(F.col(order_col), F.col("commit"))

    if salt_buckets <= 1:
        # Single-phase fast path: one groupBy, ONE payload shuffle.  Skew
        # stays defused — the hash aggregate's map-side partial ``max_by``
        # collapses each key to at most one candidate row per map task
        # before the exchange, so a hot key's reducer receives ≤ #map-tasks
        # rows, never the raw events.  The salted two-phase form below only
        # adds value at extreme fan-in (ONE key spread over many thousands
        # of map tasks); for typical CDC batches it shuffles the payload
        # twice for nothing, and on a memory-bandwidth-bound host that
        # second payload shuffle is measurable wall.
        final = events.groupBy(*key_cols).agg(F.max_by(winner, order_key).alias("__w"))
        return final.select(
            *key_cols, *[F.col(f"__w.{c}").alias(c) for c in payload_cols]
        )

    # Phase 1 groups by (key, salt): the salt column IS the explicit skew
    # defusal (north rule) — a hot key's events spread over ``salt_buckets``
    # reducers.  No repartition() before it: the hash aggregate's map-side
    # partial max_by already collapses each (key, salt) to one row per task,
    # so the only full-width shuffle moves ≤ tasks × keys × salt partial
    # winners, not the raw events.
    salted = events.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(order_col)), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(
        F.max_by(winner, order_key).alias("__w"), F.max(order_key).alias("__k")
    )
    final = partial.groupBy(*key_cols).agg(F.max_by("__w", "__k").alias("__w"))
    return final.select(
        *key_cols, *[F.col(f"__w.{c}").alias(c) for c in payload_cols]
    )


def dedup_bucket_aligned(
    events: DataFrame,
    key_cols: list[str],
    bucket_col: F.Column,
    order_col: str = "event_seq",
    wsalt: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Last-writer-wins dedup whose ONE shuffle is also the sink layout.

    ``dedup_last_writer_wins`` + a bucketed write costs two payload
    shuffles: the groupBy exchange (hash on key) and the write's
    repartition (hash on bucket).  This form spends a single exchange on
    ``(__bucket, __wsalt)`` — bucket for the file layout, a key-hash salt
    for balance (one bucket's keys spread over ``wsalt`` reducers, so a
    fat bucket is not one straggler task) — then dedups WITHOUT another
    exchange: a window over (__bucket, __wsalt) sorted by (keys,
    order_col DESC, commit DESC) marks each key group's first row as the
    winner via lag().  Every event of a key lands in the same partition
    (salt is a pure key hash), so the per-partition scan is exact.

    The output keeps ``__bucket`` and stays partitioned AND sorted by it,
    so the delta writer's partitionBy needs neither a repartition nor its
    own sort — on a memory-bandwidth-bound host (and at 100 TB shuffle
    volumes) the payload crosses the wire exactly once per batch.

    Trade-off vs the hash-aggregate forms: sort CPU instead of hash CPU
    (scales with cores), and skew layer 1 (map-side collapse) is replaced
    by the explicit (__bucket, __wsalt) spread — skew layer 2 of the
    module docstring, fused with the layout.
    """
    from pyspark.sql import Window

    khash = F.xxhash64(*[F.col(k) for k in key_cols])
    df = events.withColumn("__bucket", bucket_col).withColumn(
        "__wsalt", F.pmod(khash, F.lit(wsalt))
    )
    # Column-only repartition (no fixed number) by default: AQE right-sizes
    # the exchange to the advisory partition size, so a small batch doesn't
    # pay dozens of near-empty task launches and a big one still fans out.
    # A fixed ``repartition(N, cols)`` would pin REPARTITION_BY_NUM and
    # disable that coalescing (measured: 64 micro-tasks cost ~3s/batch of
    # pure scheduling at low core counts).  ``num_partitions`` overrides for
    # callers whose downstream is a partitionBy file write (the demux gang):
    # there AQE's byte-targeted coalescing folds many (bucket, salt) groups
    # into few tasks, and each task then opens a writer per (table, bucket)
    # it holds — the file-count explosion costs ~3x the wall the saved
    # tasks were worth (measured: 0.9s vs 2.6s per 100k-event batch).
    if num_partitions:
        df = df.repartition(
            num_partitions, F.col("__bucket"), F.col("__wsalt")
        )
    else:
        df = df.repartition(F.col("__bucket"), F.col("__wsalt"))
    # The key hash leads the sort (computed post-shuffle as a sort-key
    # expression, NOT shuffled as a column): most adjacent comparisons are
    # between DIFFERENT keys, and an 8-byte long compare resolves them
    # without touching the key strings; the strings only break exact hash
    # ties — collisions stay correct (same hash, different key → string
    # compare), they just cost one extra compare.
    w = Window.partitionBy("__bucket", "__wsalt").orderBy(
        khash,
        *[F.col(k) for k in key_cols],
        F.desc(order_col),
        F.desc("commit"),
    )
    same_key = reduce(
        lambda a, b: a & b,
        [F.lag(F.col(k)).over(w).eqNullSafe(F.col(k)) for k in key_cols],
    )
    # lag(order_col) is null exactly on each partition's first row — needed
    # because eqNullSafe would wrongly group a partition-leading NULL key
    # with the (absent) previous row.
    winner = F.lag(F.col(order_col)).over(w).isNull() | ~same_key
    return df.withColumn("__is_winner", winner).filter("__is_winner").drop(
        "__is_winner", "__wsalt"
    )


def _apply_schema_changes(table: LakeTable, actions: list[dict]) -> list[str]:
    """Apply ordered schema-change actions (JSON per FIXTURES.md §F2).

    IDEMPOTENT under crash-retry: schema evolution commits its own manifest
    versions BEFORE the MERGE commit that records the batch, so a crash
    between the two redelivers the batch with the evolution already
    applied.  Each action therefore checks the current schema first and
    no-ops when its effect is already present (add: column exists; rename:
    source gone and target present; widen: already the target type) —
    without this, the retry raises on every redelivery and the stream
    wedges permanently.
    """
    applied = []
    for a in actions:
        kind = a["action"]
        cur = table.schema
        if kind == "add_column":
            if cur.field_by_name(a["name"]) is None:
                table.add_column(a["name"], a["type"])
        elif kind == "rename_column":
            already = (
                cur.field_by_name(a["from"]) is None
                and cur.field_by_name(a["to"]) is not None
            )
            if not already:
                table.rename_column(a["from"], a["to"])
        elif kind == "widen_type":
            fld = cur.field_by_name(a["name"])
            if fld is None or str(fld.type) != str(a["to"]):
                table.widen_type(a["name"], a["to"])
        else:
            raise ValueError(f"unknown schema_change action {kind!r}")
        applied.append(kind)
    return applied


def _project_to_table(
    table: LakeTable, changes: DataFrame, op_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Map event payload columns to current table columns by field id.
    ``keep`` carries extra passthrough columns (e.g. the event offset the
    MOR write observes for lineage before dropping it)."""
    cur = table.schema
    id_to_event = {fid: name for name, fid in EVENT_FIELD_IDS.items()}
    proj = []
    for fld in cur.fields:
        ev_name = id_to_event.get(fld.id)
        if ev_name is not None and ev_name in changes.columns:
            proj.append(F.col(ev_name).cast(fld.type).alias(fld.name))
        elif fld.name in changes.columns:
            proj.append(F.col(fld.name).cast(fld.type).alias(fld.name))
        else:
            proj.append(F.lit(None).cast(fld.type).alias(fld.name))
    proj.append(F.col(op_col))
    proj.extend(F.col(c) for c in keep)
    return changes.select(*proj)


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    batch_id=None,
    lineage: LakeTable | None = None,
    salt_buckets: int = 1,
    count_deletes: bool = False,
    merge_mode: str | None = None,
    quarantine: LakeTable | None = None,
    pre_discovered: dict | None = None,
) -> dict:
    """Apply one micro-batch of change events to ``table``.

    Idempotent on ``batch_id``: a redelivered or replayed-after-crash batch
    is a no-op (generalizes the reference's skip of already-validated
    batches, ``migration-data-validation.py:1816-1817``).

    ``count_deletes=True`` adds an exact semi-join accounting pass so
    ``rows_deleted`` counts only deletes of keys actually present; the
    default hot path reports ``rows_delete_requested`` only.

    ``merge_mode``: "cow" | "mor" | None (table property, default cow).
    The MOR path is ONE heavy Spark action per batch — events scan → dedup
    → delta write, with per-bucket stats and lineage offsets observed on
    the write itself — plus one footer-pruned scan for the rare schema
    events; no change-set cache, no existing-table scan.  That is the shape
    a 10^10-event ingest needs: per-batch cost O(batch), serial driver work
    one action's planning.

    ``quarantine``: optional dead-letter LakeTable (``cdc.quarantine``).
    When given, malformed events (unknown op, null key, empty payload) are
    tagged declaratively, EXCLUDED from the DML path, counted inside the
    batch's existing fused stats action, and — only when the count is
    non-zero — upserted into the quarantine table keyed by
    (batch_id, event_seq), so crash-retry redelivery is exactly-once.
    Without it, out-of-contract ops are dropped silently (the historical
    trusted-fixture behavior) and null-key DML flows through.

    ``pre_discovered``: {"schema_rows": [...], "n_quarantined": int} from a
    caller that already ran the batch's discovery (the demux layer folds
    EVERY routed table's schema/bad-row counts into its single
    materialization action) — the per-table schema/DLQ collect is then
    skipped, leaving the MOR path exactly ONE Spark job per table per
    batch.  ``schema_rows``: [{"event_seq": ..., "schema_change": json}]
    for THIS table only.
    """
    t0 = time.monotonic()
    if batch_id is not None and table.has_batch(batch_id):
        return {"skipped": True, "batch_id": batch_id}
    if quarantine is not None:
        from .quarantine import classify_events

        # classify against THIS table's key columns (mapped to event names),
        # not a hardcoded (repo, path) — demux routes to arbitrary tables
        events = classify_events(
            events, key_cols=_event_names(table, table.key_cols)
        )
    merge_mode = merge_mode or table.manifest["properties"].get(
        "write.merge.mode", "cow"
    )
    if merge_mode == "mor":
        return _apply_batch_mor(
            table, events, batch_id, lineage, salt_buckets, count_deletes, t0,
            quarantine=quarantine, pre_discovered=pre_discovered,
        )

    # 1. DML: salted last-writer-wins dedup (schema-agnostic — it works on
    #    the fixed event payload names, so it can be BUILT before schema
    #    changes are known).  Persist the deduped change-set once — every
    #    downstream action reuses it instead of re-running the salted
    #    two-phase shuffle.
    dml = events.filter(F.col("op").isin("insert", "update", "delete"))
    if quarantine is not None:
        dml = dml.filter(F.col("dlq_reason").isNull())
    # key/bucket columns resolved BY FIELD ID to their event-payload names,
    # so a rename_column('repo', ...) in an earlier batch doesn't break the
    # dedup/bucket expressions (the MOR path already did this; the COW path
    # used raw table names and crashed after any key/bucket-source rename)
    ev_keys = _event_names(table, table.key_cols)
    ev_bucket_src = _event_names(table, [table.bucket_source])[0]
    deduped = dedup_last_writer_wins(
        dml.select("event_seq", "op", "repo", "path", "commit", "lang", "content"),
        key_cols=ev_keys,
        salt_buckets=salt_buckets,
    ).persist()
    try:
        # 2. ONE combined driver action per batch: per-bucket stats over the
        #    deduped change-set (they feed the MERGE's touched-bucket
        #    discovery + broadcast decision AND the lineage rows) unioned
        #    with the batch's rare schema-change events.  Fusing the three
        #    former collects (schema scan, bucket stats, lineage agg) into
        #    one job matters at high batch rates: each extra action is a
        #    fixed driver/planning cost that no executor count can shrink —
        #    exactly the serial term the N→4N scaling gate punishes.  This
        #    action also populates the ``deduped`` cache for the write.
        k_type = deduped.schema[ev_keys[0]].dataType
        bucket_stats_df = (
            deduped.withColumn(
                "__bucket",
                F.pmod(
                    F.xxhash64(F.col(ev_bucket_src)), F.lit(table.num_buckets)
                ).cast("int"),
            )
            .groupBy("__bucket")
            .agg(
                F.min("event_seq").alias("first_event_seq"),
                F.max("event_seq").alias("last_event_seq"),
                F.sum(F.when(F.col("op") != "delete", 1).otherwise(0)).alias("n_up"),
                F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_del"),
                # per-bucket change-key range: the free tier of the MERGE
                # file prune rides this same shuffle (values are unchanged
                # by the projection/rename below, so event-name min/max ==
                # table-key min/max)
                F.min(ev_keys[0]).alias("k_lo"),
                F.max(ev_keys[0]).alias("k_hi"),
            )
            .select(
                F.lit("stats").alias("kind"),
                "__bucket", "first_event_seq", "last_event_seq", "n_up", "n_del",
                "k_lo", "k_hi",
                F.lit(None).cast("string").alias("schema_change"),
            )
        )
        combined_df = bucket_stats_df
        if pre_discovered is None:
            schema_df = events.filter(
                F.col("schema_change").isNotNull()
            ).select(
                F.lit("schema").alias("kind"),
                F.lit(None).cast("int").alias("__bucket"),
                F.col("event_seq").alias("first_event_seq"),
                F.lit(None).cast("long").alias("last_event_seq"),
                F.lit(None).cast("long").alias("n_up"),
                F.lit(None).cast("long").alias("n_del"),
                F.lit(None).cast(k_type).alias("k_lo"),
                F.lit(None).cast(k_type).alias("k_hi"),
                "schema_change",
            )
            combined_df = combined_df.unionByName(schema_df)
        if quarantine is not None and pre_discovered is None:
            # Bad-row count rides the SAME fused action — the quarantine
            # upsert job below only launches when it lands non-zero.
            dlq_count_df = (
                events.filter(F.col("dlq_reason").isNotNull())
                .agg(F.count("*").alias("n_up"))
                .select(
                    F.lit("dlq").alias("kind"),
                    F.lit(None).cast("int").alias("__bucket"),
                    F.lit(None).cast("long").alias("first_event_seq"),
                    F.lit(None).cast("long").alias("last_event_seq"),
                    "n_up",
                    F.lit(None).cast("long").alias("n_del"),
                    F.lit(None).cast(k_type).alias("k_lo"),
                    F.lit(None).cast(k_type).alias("k_hi"),
                    F.lit(None).cast("string").alias("schema_change"),
                )
            )
            combined_df = combined_df.unionByName(dlq_count_df)
        combined = combined_df.collect()
        bucket_stats = [r for r in combined if r["kind"] == "stats"]
        if pre_discovered is not None:
            sc_rows = sorted(
                pre_discovered.get("schema_rows", []),
                key=lambda r: r["event_seq"],
            )
            # schema rows arrive in the demux shape {event_seq,
            # schema_change}; normalize for the shared json-load below
            sc_rows = [
                {"schema_change": r["schema_change"]} for r in sc_rows
            ]
            n_quarantined = int(pre_discovered.get("n_quarantined", 0))
        else:
            sc_rows = sorted(
                (r for r in combined if r["kind"] == "schema"),
                key=lambda r: r["first_event_seq"],
            )
            n_quarantined = sum(
                int(r["n_up"]) for r in combined if r["kind"] == "dlq"
            )
        if quarantine is not None and n_quarantined:
            from .quarantine import quarantine_rows

            quarantine.merge(
                quarantine_rows(events, batch_id), count_deletes=False
            )

        # 3. schema evolution (rare; applied driver-side, BEFORE the change
        #    projection below is constructed against the current schema).
        schema_applied = _apply_schema_changes(
            table, [json.loads(r["schema_change"]) for r in sc_rows]
        )

        lineage_rows = bucket_stats if lineage is not None else None

        changes = _project_to_table(table, deduped, op_col="op")

        # 4. MERGE (its manifest records the batch) — bucket stats are
        #    handed over, so the write is the batch's only other action.
        #    Exact-delete accounting (semi-join vs existing) is skipped on
        #    the hot path — the stats then carry only rows_delete_requested,
        #    never an approximate value under the exact stat's name.
        stats = table.merge(
            changes,
            op_col="op",
            batch_id=batch_id,
            count_deletes=count_deletes,
            bucket_stats=[
                {
                    "__bucket": r["__bucket"],
                    "n_up": r["n_up"],
                    "n_del": r["n_del"],
                    "k_lo": r["k_lo"],
                    "k_hi": r["k_hi"],
                }
                for r in bucket_stats
            ],
        )
    finally:
        deduped.unpersist()
    stats["schema_changes_applied"] = schema_applied
    latency_ms = int((time.monotonic() - t0) * 1000)
    stats["apply_latency_ms"] = latency_ms

    if lineage is not None and lineage_rows:
        _emit_lineage(lineage, batch_id, lineage_rows, latency_ms)
    return stats


def _emit_lineage(
    lineage: LakeTable, batch_id, rows, latency_ms: int
) -> None:
    """Per-partition lineage rows (event offsets, row counts, apply latency)
    appended to the metrics table — north rule's lineage requirement.  The
    rows are built on the driver (``local_frame``): no Python-worker job."""
    now = time.time()
    ldf = local_frame(
        lineage.spark,
        [
            (
                int(batch_id) if batch_id is not None and str(batch_id).isdigit() else -1,
                int(r["__bucket"]),
                int(r["first_event_seq"]),
                int(r["last_event_seq"]),
                int(r["n_up"]),
                int(r["n_del"]),
                latency_ms,
                now,
            )
            for r in rows
        ],
        "batch_id long, partition_id int, first_event_seq long, "
        "last_event_seq long, rows_upserted long, rows_delete_requested long, "
        "apply_latency_ms long, committed_at double",
    )
    lineage.append(ldf)


def _apply_batch_mor(
    table: LakeTable,
    events: DataFrame,
    batch_id,
    lineage: LakeTable | None,
    salt_buckets: int,
    count_deletes: bool,
    t0: float,
    quarantine: LakeTable | None = None,
    pre_discovered: dict | None = None,
) -> dict:
    """MOR fast path: schema events via one footer-pruned collect (the
    ``schema_change`` column is almost-all-null, so parquet row-group null
    stats skip nearly every page), then dedup → delta write as ONE action —
    bucket stats and lineage offsets ride the write via ``observe``.

    With ``quarantine``, the bad-row count rides the same collect — still
    ONE job per batch, though the count leg reads the classification
    columns (op/keys/payload) rather than just the pruned schema_change
    footer stats; the quarantine upsert launches only when it lands
    non-zero.

    ``pre_discovered`` (see :func:`apply_batch`) skips the collect
    entirely: the demux layer already counted this table's schema/bad rows
    inside its shared materialization action, so the only Spark job left
    here is the delta write itself — the fixed per-table cost a
    many-small-tables fan-out amortizes."""
    if pre_discovered is not None:
        sc_rows = sorted(
            pre_discovered.get("schema_rows", []),
            key=lambda r: r["event_seq"],
        )
        n_quarantined = int(pre_discovered.get("n_quarantined", 0))
    else:
        sc_frame = events.filter(F.col("schema_change").isNotNull()).select(
            F.lit("schema").alias("kind"), "event_seq", "schema_change"
        )
        if quarantine is not None:
            dlq_frame = (
                events.filter(F.col("dlq_reason").isNotNull())
                .agg(F.count("*").alias("event_seq"))
                .select(
                    F.lit("dlq").alias("kind"),
                    F.col("event_seq").cast("long"),
                    F.lit(None).cast("string").alias("schema_change"),
                )
            )
            sc_frame = sc_frame.unionByName(dlq_frame)
        combined = sc_frame.collect()
        sc_rows = sorted(
            (r for r in combined if r["kind"] == "schema"),
            key=lambda r: r["event_seq"],
        )
        n_quarantined = sum(
            int(r["event_seq"]) for r in combined if r["kind"] == "dlq"
        )
    schema_applied = _apply_schema_changes(
        table, [json.loads(r["schema_change"]) for r in sc_rows]
    )
    if quarantine is not None and n_quarantined:
        from .quarantine import quarantine_rows

        quarantine.merge(
            quarantine_rows(events, batch_id), count_deletes=False
        )

    dml = events.filter(F.col("op").isin("insert", "update", "delete"))
    if quarantine is not None:
        dml = dml.filter(F.col("dlq_reason").isNull())
    # Dedup and layout share ONE exchange: the change-set leaves the dedup
    # already partitioned and sorted by __bucket (salted within bucket for
    # balance), so the delta write repartitions nothing.
    ev_keys = _event_names(table, table.key_cols)
    bucket_col = F.pmod(
        F.xxhash64(F.col(_event_names(table, [table.bucket_source])[0])),
        F.lit(table.num_buckets),
    ).cast("int")
    deduped = dedup_bucket_aligned(
        dml.select("event_seq", "op", "repo", "path", "commit", "lang", "content"),
        key_cols=ev_keys,
        bucket_col=bucket_col,
        # In this path the key-hash salt is the within-bucket parallelism
        # spread (always on — it IS the skew defusal here); ``salt_buckets``
        # overrides the spread when > 1.
        wsalt=salt_buckets if salt_buckets > 1 else 8,
    )
    changes = _project_to_table(
        table, deduped, op_col="op", keep=("event_seq", "__bucket")
    )
    stats = table.merge(
        changes,
        op_col="op",
        batch_id=batch_id,
        count_deletes=count_deletes,
        mode="mor",
        order_col="event_seq",
        pre_partitioned=True,
    )
    stats["schema_changes_applied"] = schema_applied
    latency_ms = int((time.monotonic() - t0) * 1000)
    stats["apply_latency_ms"] = latency_ms
    if lineage is not None and stats.get("bucket_stats"):
        _emit_lineage(lineage, batch_id, stats["bucket_stats"], latency_ms)
    return stats


LINEAGE_SCHEMA = [
    ("batch_id", "bigint"),
    ("partition_id", "int"),
    ("first_event_seq", "bigint"),
    ("last_event_seq", "bigint"),
    ("rows_upserted", "bigint"),
    ("rows_delete_requested", "bigint"),
    ("apply_latency_ms", "bigint"),
    ("committed_at", "double"),
]


def make_lineage_table(spark, root: str) -> LakeTable:
    """Create (or load) the lineage/metrics table (FIXTURES.md §F4) — the
    analog of the reference's ``validation_log_table`` (setup_ddls.py:136-149)."""
    if LakeTable.exists(root):
        return LakeTable.load(spark, root)
    return LakeTable.create(
        spark,
        root,
        LINEAGE_SCHEMA,
        key_cols=["batch_id", "partition_id"],
        bucket_col="batch_id",
        num_buckets=4,
    )
