"""SCD Type-2 dimension maintenance from the change stream.

The replay path (``cdc.apply``) keeps the CURRENT row per key — reference
semantics (latest-per-key window, migration-data-validation.py:1802-1804).
This module keeps the *history*: every change event opens a new version row
and closes the previous one, the classic slowly-changing-dimension type 2
shape a CDC warehouse sink maintains alongside the mirror table.

Semantics (the from-scratch definition every incremental run must converge
to; the pytest + driver oracles state it as one SQL window):

    over all DML events per key, ordered by ``order_col``:
      * every non-delete event yields a version row with
        ``valid_from_seq = event_seq`` and
        ``valid_to_seq   = the NEXT event's seq for that key (any op),
                           NULL while no later event exists`` — the
        half-open interval [from, to);
      * delete events yield no row (they only close the prior version);
      * a row is *current* iff ``valid_to_seq IS NULL``.

Incremental plan per micro-batch (the 100-TB shape; one payload shuffle):

    1. version chaining rides ONE (bucket, key-salt) exchange whose layout
       doubles as the delta-write layout (``dedup_bucket_aligned``'s fusion,
       forward-chaining): ``lead(event_seq)`` within the key group chains
       the batch's own versions — O(batch), and under ``merge_mode="mor"``
       the writer consumes the exchange directly (pre-partitioned);
    2. discovery is a NARROW pre-scan (keys + op only, parquet
       column-pruned): touched buckets + approximate key count (broadcast
       decision) + open count; the close-set's per-key min seq is a
       keys-only map-side-combined groupBy of the same scan — a few MB,
       never the payload;
    3. the close-set scan reads ONLY the touched buckets (file-pruned, the
       same pruning MERGE itself uses) filtered to ``valid_to_seq IS NULL``
       on the BASE side *before* MOR resolution — sound because a closed
       version is immutable (see :func:`_read_open_versions`) — joined to
       the (broadcast when small) min-seq frame;
    4. closes ∪ new versions land through ONE exactly-once
       :meth:`LakeTable.merge` keyed ``(key…, valid_from_seq)`` — distinct
       by construction (a close keeps its old valid_from; every open uses
       its own event seq), so the pre-deduped MERGE contract holds and a
       redelivered batch is a no-op.  MOR (the sustained-ingest default
       for this append-mostly table) folds the out-of-order guard into the
       delta writer's Observation; COW observes the closes sub-frame.

Cross-batch correctness needs batches applied in ``order_col`` order (the
replay loop's contract already).  Out-of-contract ops are ignored, matching
``apply_batch``'s trusted-fixture default; route a quarantine table upstream
when the stream is untrusted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..lake.schema import TableSchema
from ..lake.table import LakeTable

VALID_FROM = "valid_from_seq"
VALID_TO = "valid_to_seq"


def make_scd2_table(
    spark,
    root: str,
    key_cols: list[str],
    payload_cols: list[tuple[str, str]],
    key_types: list[str] | None = None,
    num_buckets: int = 16,
) -> LakeTable:
    """Create (or load) a version-history table: natural key columns +
    ``valid_from_seq`` (together the table key — one row per version) +
    payload + ``valid_to_seq``.  Bucketed on the FIRST natural key column,
    so one entity's whole history co-locates (the close-set scan and any
    per-entity history read prune to one bucket)."""
    if LakeTable.exists(root):
        return LakeTable.load(spark, root)
    ktypes = key_types or ["string"] * len(key_cols)
    fields = (
        list(zip(key_cols, ktypes))
        + [(VALID_FROM, "bigint")]
        + list(payload_cols)
        + [(VALID_TO, "bigint")]
    )
    return LakeTable.create(
        spark,
        root,
        TableSchema.from_pairs(fields),
        key_cols=[*key_cols, VALID_FROM],
        bucket_col=key_cols[0],
        num_buckets=num_buckets,
    )


def _read_open_versions(table: LakeTable, touched: list[int]) -> DataFrame:
    """Current OPEN version rows (``valid_to_seq IS NULL``) of the touched
    buckets — the close-set scan's input.

    Under merge-on-read this must NOT go through ``table.read()``: plain MOR
    resolution aggregates EVERY row of the touched buckets (base ∪ deltas)
    before the open filter can apply, i.e. the whole history shuffles per
    batch.  SCD2 grants a stronger invariant: a version row is updated
    exactly once — the close that sets ``valid_to_seq`` — and is immutable
    afterwards, so a base row with ``valid_to_seq`` set can never be
    superseded by a delta.  The open filter is therefore SOUND on the base
    side *before* resolution: only open-candidate base rows (≤ #live keys,
    parquet-pushdown-filtered at the scan) and the uncompacted delta rows
    (bounded by the compaction policy) enter the latest-wins aggregate,
    keeping the close scan O(live keys + deltas) instead of O(history).
    """
    cur = table.schema
    base_open = table._read_base(cur, touched).filter(F.col(VALID_TO).isNull())
    bset = set(touched)
    deltas = [
        e for e in table.manifest.get("deltas", []) if e["bucket"] in bset
    ]
    if not deltas:
        return base_open
    # deltas carry both opens (valid_to NULL) and closes (valid_to set);
    # closes must enter resolution so they supersede the open base row,
    # then the post-resolution filter drops them
    return table._resolve_mor(base_open, deltas, cur).filter(
        F.col(VALID_TO).isNull()
    )


def scd2_apply(
    table: LakeTable,
    events: DataFrame,
    batch_id=None,
    key_cols: list[str] = ("repo", "path"),
    order_col: str = "event_seq",
    payload_cols: list[str] = ("commit", "lang", "content"),
    delete_value: str = "delete",
    ops: tuple[str, ...] = ("insert", "update", "delete"),
    broadcast_max_keys: int = 500_000,
    merge_mode: str | None = None,
) -> dict:
    """Apply one micro-batch of change events to the SCD2 history table.

    Idempotent on ``batch_id``: the batch is recorded in the manifest its
    MERGE commits, and a batch the table's snapshot already records is
    skipped before any Spark work.  Returns {versions_opened,
    versions_closed, skipped}.

    ``merge_mode``: "cow" | "mor" | None (table property, default cow).
    "mor" is the sustained-ingest shape: closes ∪ opens land as O(batch)
    delta files instead of rewriting every touched bucket's history — the
    history table is append-mostly by construction (closed versions are
    immutable), so COW's per-batch rewrite is almost pure write
    amplification.  Pair with periodic :meth:`LakeTable.compact` /
    ``maybe_compact`` exactly like the replay path.
    """
    if batch_id is not None and table.has_batch(batch_id):
        return {"skipped": True, "batch_id": batch_id}
    keys = list(key_cols)
    dml = events.filter(F.col("op").isin(*ops)).select(
        *keys, order_col, "op", *payload_cols
    )

    # 1. within-batch version chaining, bucket-aligned: ONE payload
    #    exchange on (__bucket, key-hash salt) serves the chaining window,
    #    the per-key firsts discovery, AND the delta-write layout — the
    #    same single-shuffle fusion as ``dedup_bucket_aligned``, forward-
    #    chaining instead of latest-wins.  Every row of a key lands in the
    #    same partition (salt is a pure key hash), the window sorts by
    #    (key-hash, keys, seq) ascending, and:
    #      * ``lead(seq)`` is the next version's seq IFF the next row is
    #        the SAME key — exactly lead() over partitionBy(keys);
    #      * the key-group's FIRST row (lag boundary) carries the batch's
    #        min seq for the key — the close seq, no separate groupBy.
    #
    #    (Round-4 note: sharing the exchange between a keys-window and the
    #    firsts groupBy measured a wash because the cache materialized the
    #    full payload while the groupBy's exchange was keys-only and
    #    map-side combined.  This round's fusion is different: it removes
    #    the WRITE-side payload repartition — the merge's O(batch) delta
    #    write consumes this exchange's layout directly — so the cache
    #    pays for a whole payload shuffle, not a keys-only one.)
    # Scale-aware salt: the exchange's parallelism ceiling is
    # num_buckets x wsalt (hash partitioning yields at most that many
    # distinct partitions), so ceil(cluster slots / buckets) saturates any
    # cluster, while on a small box a high salt only multiplies the delta
    # writer's per-(bucket) file fan-out (the gang-write measurement:
    # 3x wall at salt 8 vs 2 on this host).  The explicit partition count
    # pins one (bucket, salt) combo per task — without it AQE's
    # byte-targeted coalescing folds combos into few tasks and each task
    # then writes a file per bucket it holds.
    par = events.sparkSession.sparkContext.defaultParallelism
    wsalt = max(1, -(-par // table.num_buckets))
    khash = F.xxhash64(*[F.col(k) for k in keys])
    df = dml.withColumn("__bucket", table.bucket_expr(keys[0])).withColumn(
        "__wsalt", F.pmod(khash, F.lit(wsalt))
    )
    df = df.repartition(
        table.num_buckets * wsalt, F.col("__bucket"), F.col("__wsalt")
    )
    w = Window.partitionBy("__bucket", "__wsalt").orderBy(
        khash, *[F.col(k) for k in keys], F.col(order_col)
    )
    from functools import reduce

    next_same = reduce(
        lambda a, b: a & b,
        [F.lead(F.col(k)).over(w).eqNullSafe(F.col(k)) for k in keys],
    )
    chained = df.withColumn(
        "__next_seq", F.when(next_same, F.lead(order_col).over(w))
    )
    opens = chained.filter(F.col("op") != delete_value).select(
        *keys,
        F.col(order_col).cast("bigint").alias(VALID_FROM),
        *payload_cols,
        F.col("__next_seq").cast("bigint").alias(VALID_TO),
        F.col("__bucket"),
    )

    # 2. cheap discovery: a NARROW pre-scan (keys + op only — parquet
    #    column pruning keeps the payload on disk) yields touched buckets,
    #    an approximate key count (broadcast decision only) and the open
    #    count.  The close-set's per-key min seq comes from a keys-only
    #    groupBy of the same narrow scan (map-side combined — a few MB) —
    #    NOT from the payload exchange — so the heavy exchange above is
    #    consumed exactly ONCE, by the delta write, with no cache
    #    materialization at all: per batch the payload crosses the wire
    #    once and is written once.
    firsts_keyed = dml.groupBy(*keys).agg(
        F.min(order_col).cast("bigint").alias("__close_seq")
    )
    agg = dml.select(
        table.bucket_expr(keys[0]).alias("__b"),
        F.xxhash64(*[F.col(k) for k in keys]).alias("__kh"),
        "op",
    ).agg(
        F.collect_set("__b").alias("buckets"),
        F.approx_count_distinct("__kh").alias("n_keys"),
        F.sum((F.col("op") != delete_value).cast("bigint")).alias(
            "n_opens"
        ),
    ).first()
    touched = sorted(int(b) for b in (agg["buckets"] or []))
    n_keys = int(agg["n_keys"] or 0)
    n_opens = int(agg["n_opens"] or 0)
    if not touched:
        # empty batch (e.g. pure schema events): a data-less manifest
        # commit records it applied — the demux path's empty-table commit
        if batch_id is not None:
            table.commit_staged_deltas([], batch_id=batch_id)
        return {"versions_opened": 0, "versions_closed": 0, "skipped": False}

    # 3. close the table's current version for every touched key:
    #    bucket-pruned scan of open rows only (base-side open filter
    #    BEFORE MOR resolution — sound because closed versions are
    #    immutable), broadcast the small min-seq frame (shuffle join
    #    fallback for backfill-size batches).  A brand-new/empty table
    #    region skips the join (and its guard observation — Catalyst
    #    propagates the empty local relation and would prune the
    #    CollectMetrics node with it): nothing exists to close.
    bset = set(touched)
    has_current = any(
        f["bucket"] in bset
        for f in table.manifest["files"] + table.manifest.get("deltas", [])
    )
    obs = None
    closes = None
    if has_current:
        current = _read_open_versions(table, touched)
        rhs = (
            F.broadcast(firsts_keyed)
            if n_keys <= broadcast_max_keys else firsts_keyed
        )
        closes = current.alias("c").join(rhs.alias("f"), on=keys, how="inner")
        closes = closes.select(
            *keys,
            F.col(f"c.{VALID_FROM}").alias(VALID_FROM),
            *[F.col(f"c.{p}").alias(p) for p in payload_cols],
            F.col("f.__close_seq").alias(VALID_TO),
        )
        # Out-of-order-delivery guard: a batch whose min seq for a key
        # PRECEDES the open version's valid_from would silently write an
        # inverted interval (valid_to < valid_from) — e.g. a file stream
        # delivering same-mtime files out of listing order.  The check
        # rides the MERGE's own action via observe (zero extra jobs); on
        # a hit the just-committed batch is rolled back (pure metadata)
        # and the corruption becomes a hard error instead of silent
        # history.
        #
        # Placement: the MOR path folds the metric into the delta
        # writer's own Observation over the WHOLE change-set (opens are
        # never inverted — their valid_to is lead(seq) > seq by the
        # window order — so change-set inverted ≡ closes inverted); an
        # observe pinned to the closes sub-frame is pruned with its
        # subtree under some streaming plans.  COW keeps the closes
        # observe (its rewrite plan always retains the join subtree).
        from pyspark.sql import Observation

        if (
            merge_mode
            or table.manifest["properties"].get("write.merge.mode", "cow")
        ) != "mor":
            obs = Observation()
            closes = closes.observe(
                obs,
                F.sum(
                    (F.col(VALID_TO) < F.col(VALID_FROM)).cast("long")
                ).alias("inverted"),
            )

    # 4. one exactly-once MERGE: closes are updates of existing version
    #    rows, opens are inserts; keys (natural key + valid_from) are
    #    distinct across the union by construction.
    #
    #    MOR hands the chaining exchange's layout straight to the delta
    #    writer (pre_partitioned): opens kept their (__bucket, salt)
    #    partitioning from the cache, and the small close-set (≤ one
    #    row per live key) gets its own tiny bucket repartition — the
    #    union concatenates partition lists without reshuffling either
    #    side, so the batch's payload crossed the wire exactly once.
    pre_seq = int(table.manifest["seq"])
    resolved_mode = merge_mode or table.manifest["properties"].get(
        "write.merge.mode", "cow"
    )
    if resolved_mode == "mor":
        change_set = opens
        if closes is not None:
            closes_aligned = closes.withColumn(
                "__bucket", table.bucket_expr(keys[0])
            ).repartition(F.col("__bucket"))
            change_set = closes_aligned.unionByName(opens)
        change_set = change_set.withColumn("op", F.lit("upsert"))
        guard = (
            {
                "inverted": F.sum(
                    (F.col(VALID_TO) < F.col(VALID_FROM)).cast("long")
                )
            }
            if closes is not None
            else None
        )
        stats = table.merge(
            change_set, op_col="op", batch_id=batch_id, mode="mor",
            pre_partitioned=True, extra_obs=guard,
        )
        if guard is not None:
            obs_inverted = int(
                stats.get("observed_extras", {}).get("inverted") or 0
            )
        else:
            obs_inverted = 0
    else:
        change_set = opens.drop("__bucket")
        if closes is not None:
            change_set = closes.unionByName(change_set)
        change_set = change_set.withColumn("op", F.lit("upsert"))
        stats = table.merge(
            change_set, op_col="op", batch_id=batch_id, mode=merge_mode
        )
        obs_inverted = (
            int(obs.get.get("inverted") or 0) if obs is not None else 0
        )
    inverted = obs_inverted
    if inverted:
        table.rollback(pre_seq)
        raise ValueError(
            f"scd2_apply batch {batch_id!r}: {inverted} close row(s) "
            f"would set {VALID_TO} < {VALID_FROM} (events delivered out "
            "of seq order across batches); batch rolled back — replay "
            "the stream in order or quarantine the offending source"
        )
    # the MERGE counts closes + opens together; opens were counted for free
    # in the fused discovery agg, so the split costs zero extra actions
    upserted = stats.get("rows_upserted", 0)
    return {
        "versions_opened": n_opens,
        "versions_closed": max(upserted - n_opens, 0),
        "touched_buckets": stats.get("touched_buckets"),
        "skipped": False,
    }


def scd2_replay(
    table: LakeTable,
    events: DataFrame,
    batch_col: str = "batch_hint",
    compact_every: int | None = None,
    **kwargs,
) -> dict:
    """Replay an already-materialized event frame batch-by-batch (ordered by
    ``batch_col``) — the test/driver harness around :func:`scd2_apply`; the
    streaming path wraps the same apply in foreachBatch.

    ``compact_every=k`` (with ``merge_mode="mor"`` in ``kwargs``) folds the
    accumulated delta files into the base every k applied batches — same
    idempotent-maintenance contract as ``cdc.replay.replay``: a crash
    between a merge and its compaction loses nothing."""
    batches = [
        int(r[batch_col])
        for r in events.select(batch_col).distinct().orderBy(batch_col).collect()
    ]
    opened = closed = n_applied = 0
    for b in batches:
        st = scd2_apply(
            table, events.filter(F.col(batch_col) == b), batch_id=b, **kwargs
        )
        opened += st.get("versions_opened", 0)
        closed += st.get("versions_closed", 0)
        if not st.get("skipped"):
            n_applied += 1
            if compact_every and n_applied % compact_every == 0:
                table.compact()
    return {
        "batches": len(batches),
        "versions_opened": opened,
        "versions_closed": closed,
    }


def scd2_expected(
    events: DataFrame,
    key_cols: list[str] = ("repo", "path"),
    order_col: str = "event_seq",
    payload_cols: list[str] = ("commit", "lang", "content"),
    delete_value: str = "delete",
    ops: tuple[str, ...] = ("insert", "update", "delete"),
) -> DataFrame:
    """From-scratch batch oracle: the module-docstring window over ALL
    events at once.  The incremental table must equal this exactly."""
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        events.filter(F.col("op").isin(*ops))
        .withColumn(VALID_TO, F.lead(order_col).over(w).cast("bigint"))
        .filter(F.col("op") != delete_value)
        .select(
            *keys,
            F.col(order_col).cast("bigint").alias(VALID_FROM),
            *payload_cols,
            VALID_TO,
        )
    )
