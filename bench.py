"""Benchmark harness: headline queries + CDC replay throughput.

Runs the headline operator queries from ``__spark_entry__`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and a seeded CDC replay (the engine's core
path: synthesize → batched MERGE replay → digest-verified vs the batch
oracle), plus the Structured Streaming (availableNow + foreachBatch +
lineage) variant of the same replay.  Prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "cdc": {"events": N, "events_per_sec": X, "verified": true},
     "cdc_stream": {...}}

Noise control (the sandbox host has uncontrolled external load):

- a full WARM-UP pass runs every query once before any timing, so JIT,
  codegen caches, and file-listing caches don't land on query #1;
- each query is then timed ``$SPARK_GRAFT_BENCH_REPEATS`` times (default 2)
  in round-robin order (all queries pass 1, then all queries pass 2, …) and
  the reported number is the MIN — interleaving means a host load spike
  degrades one pass of many queries instead of all passes of one query;
- each timing pass gates on 1-min loadavg ≤ $SPARK_GRAFT_BENCH_MAX_LOAD
  (default 8) so a pass doesn't start into a storm.

Scaling evidence (N vs 4N parallelism) lives in scripts/scaling_bench.py →
BASELINE.md; this file is the per-round driver entrypoint.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E
from data_migration_validator_spark.session import get_spark

HEADLINE = [
    "pricing_summary",
    "top_orders",
    "region_revenue",
    "window_latest_event",
    "window_dedup_first",
    "anti_join_extras",
    "semi_join_filter",
    "groupby_date_bucket",
    "pk_validation",
    "recon_counts",
    "bucket_reconcile",
    "bucket_reconcile_clean",
    "column_mismatch_metrics",
    "row_level_mismatches",
    "full_outer_report",
    "windowed_validation",
    "text_stats",
    "lang_id",
    "exact_dedup",
    "fingerprint_dedup",
    "embedding_norms",
    "knn_bruteforce",
    "embedding_near_dup",
    "simhash_near_dup",
    "minhash_near_dup",
    "event_quarantine",
    "asof_join",
    "sessionization",
    "dq_checks",
    "column_profile_hll",
    "value_histogram",
]


def _bench_only_queries():
    """Bench-local variants with no driver oracle: the PRODUCTION profile
    path is the HLL single pass (no Expand); the driver's column_profile
    query uses exact_distinct=True purely so DuckDB can verify it, which
    plans an 11-column Expand — representative of the oracle gate, not of
    what runs at 100 TB."""
    from data_migration_validator_spark.validation.profile import (
        profile_columns,
    )

    def column_profile_hll(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return profile_columns(li, exact_distinct=False).orderBy("column")

    return {"column_profile_hll": column_profile_hll}


def _wait_for_quiet(max_load: float, timeout_s: int = 300) -> None:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        with open("/proc/loadavg") as f:
            if float(f.read().split()[0]) <= max_load:
                return
        time.sleep(5)


def _events_fixture(
    spark, tmp: str, n_events: int, n_batches: int,
    key_locality: int | None = None,
):
    from data_migration_validator_spark.cdc.events import (
        change_events,
        write_events_batched,
    )

    ev = change_events(
        spark, n_events=n_events, n_repos=200, seed=42,
        batch_size=max(1, n_events // n_batches),
        key_locality=key_locality,
    )
    write_events_batched(ev, f"{tmp}/events")
    return ev


def _new_table(spark, path: str, properties: dict | None = None):
    from data_migration_validator_spark.lake.schema import TableSchema
    from data_migration_validator_spark.lake.table import LakeTable

    return LakeTable.create(
        spark,
        path,
        TableSchema.from_pairs(
            [("repo", "string"), ("path", "string"), ("commit", "string"),
             ("lang", "string"), ("content", "string")]
        ),
        key_cols=["repo", "path"],
        bucket_col="repo",
        num_buckets=16,
        properties=properties,
    )


def _verify(table, ev) -> bool:
    from pyspark.sql import functions as F

    from data_migration_validator_spark.cdc.oracle import expected_final_state
    from data_migration_validator_spark.validation.reconcile import hash_reconcile

    rec = hash_reconcile(
        table.read(), expected_final_state(ev),
        ["repo", "path"], ["commit", "lang", "content"],
    )
    return rec.filter(F.col("status") != "MATCH").count() == 0


def bench_cdc_replay(
    spark,
    n_events: int,
    n_batches: int = 8,
    repeats: int = 2,
    max_load: float = 8.0,
    merge_mode: str = "cow",
) -> dict:
    """Seeded end-to-end replay: generate → write batched → MERGE replay →
    reconcile vs oracle.  min-of-k on the replay phase; verify once.

    ``merge_mode="mor"`` benches the merge-on-read ingest shape (delta
    commits; the deferred base rewrite is timed separately as
    ``compact_sec`` and verification reads the compacted table)."""
    with tempfile.TemporaryDirectory() as tmp:
        ev = _events_fixture(spark, tmp, n_events, n_batches)
        from data_migration_validator_spark.cdc.replay import replay

        walls, compacts, table, stats = [], [], None, None
        for i in range(max(1, repeats)):
            _wait_for_quiet(max_load)
            table = _new_table(spark, f"{tmp}/repo_content_{merge_mode}_{i}")
            t0 = time.monotonic()
            stats = replay(table, f"{tmp}/events", merge_mode=merge_mode)
            walls.append(time.monotonic() - t0)
            if merge_mode == "mor":
                c0 = time.monotonic()
                table.compact()
                compacts.append(time.monotonic() - c0)
        replay_s = min(walls)
        out = {
            "events": n_events,
            "batches": stats["batches_applied"],
            "merge_mode": merge_mode,
            "replay_sec": round(replay_s, 3),
            "all_sec": [round(w, 3) for w in walls],
            "events_per_sec": round(n_events / replay_s, 1),
            "verified": _verify(table, ev),
        }
        if compacts:
            out["compact_sec"] = round(min(compacts), 3)
        return out


def bench_cdc_replay_prune(
    spark,
    n_events: int,
    n_batches: int = 8,
    repeats: int = 2,
    max_load: float = 8.0,
) -> dict:
    """MERGE file-prune write-amp leg: the same digest-verified replay over
    a MONOTONE-FRONTIER event stream (autoincrement-PK CDC shape —
    ``key_locality``: updates skew recent, repo order == key order), prune
    on vs off on identical inputs.  Reports files kept vs rewritten for
    both runs: the prune-on replay must keep old files untouched
    (files_kept > 0) while producing the same verified table state —
    whole-bucket COW write amplification vs O(key-intersected files)."""
    from data_migration_validator_spark.cdc.replay import replay

    with tempfile.TemporaryDirectory() as tmp:
        ev = _events_fixture(
            spark, tmp, n_events, n_batches, key_locality=2000
        )
        walls, off_walls, table, t_off = [], [], None, None
        stats = stats_off = None
        # interleaved on/off legs, min-of-k each, so the wall comparison
        # sees the same host conditions (the file counts are deterministic
        # either way)
        for i in range(max(1, repeats)):
            _wait_for_quiet(max_load)
            table = _new_table(spark, f"{tmp}/pruned_{i}")
            t0 = time.monotonic()
            stats = replay(table, f"{tmp}/events")
            walls.append(time.monotonic() - t0)
            _wait_for_quiet(max_load)
            t_off = _new_table(
                spark, f"{tmp}/unpruned_{i}",
                properties={"write.merge.prune_files": "false"},
            )
            o0 = time.monotonic()
            stats_off = replay(t_off, f"{tmp}/events")
            off_walls.append(time.monotonic() - o0)
        replay_s = min(walls)
        return {
            "events": n_events,
            "batches": stats["batches_applied"],
            "key_locality": 2000,
            "replay_sec": round(replay_s, 3),
            "all_sec": [round(w, 3) for w in walls],
            "events_per_sec": round(n_events / replay_s, 1),
            "files_kept": stats["files_kept"],
            "files_rewritten": stats["files_rewritten"],
            "unpruned_sec": round(min(off_walls), 3),
            "unpruned_all_sec": [round(w, 3) for w in off_walls],
            "unpruned_files_rewritten": stats_off["files_rewritten"],
            "verified": _verify(table, ev) and _verify(t_off, ev),
        }


def bench_cdc_stream(
    spark, n_events: int, n_batches: int = 8, repeats: int = 2, max_load: float = 8.0
) -> dict:
    """Same fixture through the Structured Streaming path (availableNow →
    foreachBatch idempotent sink) with per-partition lineage enabled,
    proving the streaming wrapper adds no serial cost vs batch replay."""
    from data_migration_validator_spark.cdc.apply import make_lineage_table
    from data_migration_validator_spark.streaming.stream import run_stream_once

    with tempfile.TemporaryDirectory() as tmp:
        ev = _events_fixture(spark, tmp, n_events, n_batches)
        walls, table = [], None
        for i in range(max(1, repeats)):
            _wait_for_quiet(max_load)
            table = _new_table(spark, f"{tmp}/repo_content_s{i}")
            lineage = make_lineage_table(spark, f"{tmp}/lineage_{i}")
            t0 = time.monotonic()
            run_stream_once(
                table, f"{tmp}/events", f"{tmp}/ckpt_{i}",
                lineage=lineage, max_files_per_trigger=64,
            )
            walls.append(time.monotonic() - t0)
        stream_s = min(walls)
        return {
            "events": n_events,
            "stream_sec": round(stream_s, 3),
            "all_sec": [round(w, 3) for w in walls],
            "events_per_sec": round(n_events / stream_s, 1),
            "lineage_rows": lineage.read().count(),
            "verified": _verify(table, ev),
        }


def bench_cdc_scd2(
    spark, n_events: int, n_batches: int = 4, repeats: int = 2,
    max_load: float = 8.0, merge_mode: str | None = None,
    compact_every: int | None = None,
) -> dict:
    """SCD Type-2 history maintenance over the same fixture: every event
    opens a version / closes the prior one through the incremental
    per-batch MERGE (cdc/scd.py).  Verified: the maintained history equals
    the from-scratch LEAD-window definition row-for-row (hash_reconcile
    keyed on (repo, path, valid_from_seq)).

    ``merge_mode="mor"`` + ``compact_every``: the sustained-ingest shape —
    closes ∪ opens land as O(batch) deltas (history is append-mostly: closed
    versions are immutable, so COW's per-batch bucket rewrite is nearly all
    write amplification); in-loop compaction cost is INCLUDED in the wall."""
    from pyspark.sql import functions as F

    from data_migration_validator_spark.cdc.scd import (
        make_scd2_table,
        scd2_expected,
        scd2_replay,
    )
    from data_migration_validator_spark.validation.reconcile import (
        hash_reconcile,
    )

    with tempfile.TemporaryDirectory() as tmp:
        ev = _events_fixture(spark, tmp, n_events, n_batches)
        events = spark.read.parquet(f"{tmp}/events")
        walls, table = [], None
        kw = {}
        if merge_mode is not None:
            kw = {"merge_mode": merge_mode, "compact_every": compact_every}
        compacts = []
        for i in range(max(1, repeats)):
            _wait_for_quiet(max_load)
            table = make_scd2_table(
                spark, f"{tmp}/hist_{merge_mode or 'cow'}_{i}",
                ["repo", "path"],
                [("commit", "string"), ("lang", "string"),
                 ("content", "string")],
                num_buckets=16,
            )
            t0 = time.monotonic()
            scd2_replay(table, events, **kw)
            walls.append(time.monotonic() - t0)
            if merge_mode == "mor" and compact_every is None:
                # deferred base rewrite: same async-maintenance framing as
                # bench_cdc_replay's mor leg — timed separately, verified
                # on the compacted table
                c0 = time.monotonic()
                table.compact()
                compacts.append(time.monotonic() - c0)
        scd2_s = min(walls)
        rec = hash_reconcile(
            table.read(), scd2_expected(ev),
            ["repo", "path", "valid_from_seq"],
            ["commit", "lang", "content", "valid_to_seq"],
        )
        out = {
            "events": n_events,
            "versions": table.row_count(),
            "merge_mode": merge_mode or "cow",
            "scd2_sec": round(scd2_s, 3),
            "all_sec": [round(w, 3) for w in walls],
            "events_per_sec": round(n_events / scd2_s, 1),
            "verified": rec.filter(F.col("status") != "MATCH").count() == 0,
        }
        if compacts:
            out["compact_sec"] = round(min(compacts), 3)
        return out


def bench_ivm(
    spark, n_events: int, repeats: int = 2, max_load: float = 8.0
) -> dict:
    """Incremental view maintenance vs full recompute at steady state: the
    table is fully replayed, a COUNT-per-lang view is built, then ONE small
    single-repo CDC batch lands (the steady-state shape — one bucket
    touched) and the same aggregate is brought up to date two ways:

    - ``refresh_sec``: fold the bucket-pruned change feed into the stored
      view (O(touched buckets + delta) — lake/ivm.py over
      LakeTable.changes, ending in a durable MERGE);
    - ``recompute_sec``: the full-refresh alternative at equal durability —
      rescan-aggregate the whole table and write the result out.

    At this fixture size both legs are dominated by fixed per-job
    scheduling cost, so the wall-clock ratio does NOT show the asymptotic
    gap; the scale-independent evidence is ``feed_files`` vs
    ``table_files``: the refresh's snapshot diff touches only the buckets
    the delta rewrote, while a recompute reads every base file — at
    10^10 rows that ratio IS the speedup.

    ``verified``: the refreshed view equals the recompute exactly."""
    from pyspark.sql import functions as F

    from data_migration_validator_spark.cdc.replay import replay
    from data_migration_validator_spark.lake.ivm import IncrementalAggView

    refresh_w, recompute_w, verified, delta_rows = [], [], True, 0
    feed_files = table_files = 0
    with tempfile.TemporaryDirectory() as tmp:
        _events_fixture(spark, tmp, n_events, 4)
        for i in range(max(1, repeats)):
            _wait_for_quiet(max_load)
            table = _new_table(spark, f"{tmp}/t_{i}")
            replay(table, f"{tmp}/events")
            view = IncrementalAggView.create(
                spark, f"{tmp}/v_{i}", table, ["lang"], []
            )
            view.refresh()
            repo = table.read().select("repo").first()["repo"]
            delta = (
                table.read()
                .where(F.col("repo") == repo)
                .withColumn("commit", F.lit(f"bench-{i}"))
                .withColumn("op", F.lit("upsert"))
            )
            since = int(table.manifest["seq"])
            delta_rows = table.merge(delta, batch_id=("ivm-bench", i))[
                "rows_upserted"
            ]
            t0 = time.monotonic()
            st = view.refresh()
            refresh_w.append(time.monotonic() - t0)
            t0 = time.monotonic()
            view.recompute().write.mode("overwrite").parquet(f"{tmp}/rc_{i}")
            recompute_w.append(time.monotonic() - t0)
            want = {tuple(r) for r in spark.read.parquet(f"{tmp}/rc_{i}").collect()}
            got = {tuple(r) for r in view.table.read().collect()}
            verified = verified and got == want and not st.get("skipped")

            def _bytes(paths):
                total = 0
                for p in paths:
                    p = p.replace("file:", "")
                    try:
                        total += os.path.getsize(p)
                    except OSError:
                        pass
                return total

            feed_paths = table.changes(since).inputFiles()
            feed_files = len(feed_paths)
            feed_bytes = _bytes(feed_paths)
            table_files = len(table.manifest["files"])
            table_bytes = _bytes(
                os.path.join(table.root, fp["path"])
                if not os.path.isabs(fp["path"]) else fp["path"]
                for fp in table.manifest["files"]
            )
    f, r = min(refresh_w), min(recompute_w)
    return {
        "events": n_events,
        "delta_rows": int(delta_rows),
        "refresh_sec": round(f, 3),
        "recompute_sec": round(r, 3),
        "speedup": round(r / f, 2) if f > 0 else None,
        "all_refresh_sec": [round(w, 3) for w in refresh_w],
        "feed_files": feed_files,
        "table_files": table_files,
        # the scale-independent evidence: bytes the refresh READ vs bytes a
        # full recompute must read — at fixed job overhead the wall ratio
        # inverts at bench scale, the IO ratio does not
        "feed_bytes": feed_bytes,
        "table_bytes": table_bytes,
        "scanned_bytes_ratio": (
            round(table_bytes / feed_bytes, 2) if feed_bytes else None
        ),
        "verified": verified,
    }


def bench_ivm_crossover(
    spark, n_rows: int | None = None, repeats: int = 2, max_load: float = 8.0,
    num_buckets: int = 128,
) -> dict:
    """IVM wall-clock CROSSOVER leg: at sf0.1 replay scale both refresh and
    recompute are fixed-cost-bound and the asymptotic gap only shows in the
    scanned-bytes ratio (bench_ivm).  This leg bulk-appends a base large
    enough that the recompute's full scan-and-aggregate dominates its wall
    — a realistic dashboard view (composite group key, COUNT + four SUM
    measures) over 192M facts — then lands one bucket-local merge batch
    and brings the view up to date both ways: refresh O(touched bucket +
    delta) must now beat recompute O(table) on WALL, not just bytes.  The
    refresh side is the one-action MOR path (lake/ivm.py); ``verified``:
    refreshed view == recompute exactly.  Override size with
    $SPARK_GRAFT_IVM_CROSS_ROWS."""
    from pyspark.sql import functions as F

    from data_migration_validator_spark.lake.ivm import IncrementalAggView
    from data_migration_validator_spark.lake.table import LakeTable

    n_rows = n_rows or int(
        os.environ.get("SPARK_GRAFT_IVM_CROSS_ROWS", 192_000_000)
    )
    sums = ["v1", "v2", "v3", "v4"]

    def shape(ids):
        return ids.select(
            F.col("id"),
            F.concat(F.lit("g"), F.pmod(F.col("id"), 1000)).alias("grp"),
            F.concat(F.lit("s"), F.pmod(F.col("id"), 37)).alias("sub"),
            *[
                (F.col("id") % m).alias(v)
                for v, m in zip(sums, (997, 991, 983, 977))
            ],
        )

    refresh_w, recompute_w, verified = [], [], True
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(
            spark, f"{tmp}/facts",
            [("id", "bigint"), ("grp", "string"), ("sub", "string")]
            + [(v, "bigint") for v in sums],
            key_cols=["id"], num_buckets=num_buckets,
        )
        t.append(shape(spark.range(n_rows)))
        view = IncrementalAggView.create(
            spark, f"{tmp}/v", t, ["grp", "sub"], sums, num_buckets=8
        )
        view.bootstrap()  # initial load via the defining query (untimed)
        for i in range(max(1, repeats)):
            _wait_for_quiet(max_load)
            # steady-state shape: the delta's keys all hash into ONE bucket
            # (localized CDC batch), so the refresh's snapshot diff reads
            # O(bucket + delta) while the recompute always reads O(table).
            delta = shape(
                spark.range(2_000_000)
                .filter(
                    F.pmod(F.xxhash64(F.col("id")), F.lit(num_buckets)) == 0
                )
                .limit(5_000)
            ).withColumn("v1", F.col("v1") + 1 + i).withColumn(
                "op", F.lit("upsert")
            )
            t.merge(delta, batch_id=("ivm-cross", i))
            t0 = time.monotonic()
            st = view.refresh()
            refresh_w.append(time.monotonic() - t0)
            t0 = time.monotonic()
            view.recompute().write.mode("overwrite").parquet(f"{tmp}/rc_{i}")
            recompute_w.append(time.monotonic() - t0)
            want = {tuple(r) for r in spark.read.parquet(f"{tmp}/rc_{i}").collect()}
            got = {tuple(r) for r in view.table.read().collect()}
            verified = verified and got == want and not st.get("skipped")
    f, r = min(refresh_w), min(recompute_w)
    return {
        "rows": n_rows,
        "refresh_sec": round(f, 3),
        "recompute_sec": round(r, 3),
        "speedup": round(r / f, 2) if f > 0 else None,
        "all_refresh_sec": [round(w, 3) for w in refresh_w],
        "all_recompute_sec": [round(w, 3) for w in recompute_w],
        "verified": verified,
    }


def bench_stats_scan(
    spark, sf_dir: str, repeats: int = 2, max_load: float = 8.0
) -> dict:
    """Per-file stats skipping vs full scan: orders land in seven
    ORDER-DATE range commits (``write.sort.cols`` clustering — the natural
    time-ordered ingest layout), then a 2-year range aggregate runs through
    ``scan(pred)`` (manifest min/max interval test prunes the file list
    before Spark ever lists parquet) and through the unpruned
    ``read().filter(pred)``.

    ``files_scanned``/``files_total`` is the scale-independent evidence: at
    10^10 rows that ratio IS the speedup, while the sf0.1 walls mostly show
    fixed job cost.  ``verified``: both paths produce the identical
    bit_xor-of-xxhash digest, so pruning provably lost no rows."""
    from pyspark.sql import functions as F

    from data_migration_validator_spark.lake.table import LakeTable

    pred = "o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'"

    def _digest(df):
        h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h")
        return df.select(h).agg(F.expr("bit_xor(__h)")).collect()[0][0]

    pruned_w, full_w = [], []
    with tempfile.TemporaryDirectory() as tmp:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        )
        t = LakeTable.create(
            spark,
            f"{tmp}/orders",
            [
                ("o_orderkey", "bigint"),
                ("o_orderdate", "timestamp"),
                ("o_totalprice", "double"),
            ],
            key_cols=["o_orderkey"],
            num_buckets=8,
            properties={"write.sort.cols": "o_orderdate"},
        )
        years = [f"{y}-01-01" for y in range(1992, 2000)]
        for lo, hi in zip(years, years[1:] + [None]):
            chunk = o.where(F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            if hi is not None:
                chunk = chunk.where(F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            t.append(chunk)
        verified = _digest(t.scan(pred)) == _digest(t.read().filter(pred))  # + warm
        for _ in range(max(1, repeats)):
            _wait_for_quiet(max_load)
            t0 = time.monotonic()
            _digest(t.scan(pred))
            pruned_w.append(time.monotonic() - t0)
            t0 = time.monotonic()
            _digest(t.read().filter(pred))
            full_w.append(time.monotonic() - t0)
        files_scanned = len(t.scan(pred).inputFiles())
        files_total = len(t.manifest["files"])
    return {
        "pruned_sec": round(min(pruned_w), 3),
        "full_sec": round(min(full_w), 3),
        "files_scanned": files_scanned,
        "files_total": files_total,
        "verified": bool(verified),
    }


def bench_cdc_demux(
    spark, n_events: int, n_batches: int = 4, repeats: int = 2,
    max_load: float = 8.0, n_tables: int = 8, serial_leg: bool = True,
) -> dict:
    """Mixed N-table stream through the demux replay (one scan per batch,
    per-table exactly-once batch sets): throughput of the multi-table routing layer,
    digest-verified per table against each stream's own oracle.

    Two legs on identical inputs: the serial per-table loop and the
    concurrent driver fan-out (``max_workers = n_tables``) — at T tables
    the serial loop pays T sequential jobs' planning latency per batch
    while executors idle; the parallel leg is the shape a cluster wants."""
    from pyspark.sql import functions as F

    from data_migration_validator_spark.cdc.demux import demux_replay
    from data_migration_validator_spark.cdc.events import (
        change_events,
        write_events_batched,
    )

    with tempfile.TemporaryDirectory() as tmp:
        share = n_events // n_tables
        bsz = max(1, share // n_batches)
        names = [f"t{i}" for i in range(n_tables)]
        streams = {
            n: change_events(spark, share, n_repos=100, seed=42 + i, batch_size=bsz)
            for i, n in enumerate(names)
        }
        mixed = None
        for i, n in enumerate(names):
            leg = (
                streams[n]
                .withColumn("event_seq", F.col("event_seq") * n_tables + i)
                .withColumn("table_name", F.lit(n))
            )
            mixed = leg if mixed is None else mixed.unionByName(leg)
        write_events_batched(mixed, f"{tmp}/events")
        legs = ([("serial", 1)] if serial_leg else []) + [
            ("parallel", n_tables)
        ]
        walls = {leg: [] for leg, _ in legs}
        tables = None
        for i in range(max(1, repeats)):
            for leg, workers in legs:
                _wait_for_quiet(max_load)
                tables = {
                    n: _new_table(spark, f"{tmp}/{n}_{leg}_{i}") for n in names
                }
                t0 = time.monotonic()
                demux_replay(
                    tables, f"{tmp}/events", merge_mode="mor",
                    max_workers=workers,
                )
                walls[leg].append(time.monotonic() - t0)
        demux_s = min(walls["parallel"])
        for t in tables.values():
            t.compact()
        verified = all(_verify(tables[n], streams[n]) for n in names)
        out = {
            "events": n_events,
            "tables": n_tables,
            "demux_sec": round(demux_s, 3),
            "all_sec": [round(w, 3) for w in walls["parallel"]],
            "events_per_sec": round(n_events / demux_s, 1),
            "verified": verified,
        }
        if serial_leg:
            serial_s = min(walls["serial"])
            out.update(
                serial_sec=round(serial_s, 3),
                all_serial_sec=[round(w, 3) for w in walls["serial"]],
                serial_events_per_sec=round(n_events / serial_s, 1),
                parallel_speedup=round(serial_s / demux_s, 2),
            )
        return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "8"))
    import re as _re

    m = _re.search(r"sf([0-9.]+)/*$", sf_dir)
    sf = float(m.group(1)) if m else 0.1  # non-sf-named dirs: report 0.1-scale events
    spark = get_spark("bench", cores=cpus)

    qs = {**E.queries(), **_bench_only_queries()}

    def _materialize(df):
        """Force the FULL advertised computation: a bare .count() lets the
        optimizer prune every projection (confirmed: text_stats collapses
        to count(1) over an empty Project) and the final sort.  A bit_xor
        over an xxhash of every output column forces each column's
        expression tree to run, JVM-side, with O(1) collect size."""
        from pyspark.sql import functions as F

        h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h")
        df.select(h).agg(F.expr("bit_xor(__h)")).collect()

    # Warm-up: one untimed pass over everything (JIT, codegen cache, file
    # listing, shuffle-service init).
    for name in HEADLINE:
        _materialize(qs[name](spark, sf_dir))

    # Interleaved min-of-k.
    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    for _ in range(max(1, repeats)):
        for name in HEADLINE:
            _wait_for_quiet(max_load)
            t0 = time.monotonic()
            _materialize(qs[name](spark, sf_dir))
            samples[name].append(time.monotonic() - t0)
    per_query = {n: round(min(s), 3) for n, s in samples.items()}

    n_ev = int(400_000 * max(sf / 0.1, 0.1))
    cdc = bench_cdc_replay(spark, n_events=n_ev, n_batches=4,
                           repeats=repeats, max_load=max_load)
    per_query["cdc_replay"] = cdc["replay_sec"]
    cdc_mor = bench_cdc_replay(spark, n_events=n_ev, n_batches=4,
                               repeats=repeats, max_load=max_load,
                               merge_mode="mor")
    per_query["cdc_replay_mor"] = cdc_mor["replay_sec"]
    cdc_stream = bench_cdc_stream(spark, n_events=n_ev, n_batches=4,
                                  repeats=repeats, max_load=max_load)
    per_query["cdc_stream"] = cdc_stream["stream_sec"]
    cdc_demux = bench_cdc_demux(spark, n_events=n_ev, n_batches=4,
                                repeats=repeats, max_load=max_load)
    per_query["cdc_demux"] = cdc_demux["demux_sec"]
    per_query["cdc_demux_serial"] = cdc_demux["serial_sec"]
    # amortization leg: same 8 tables at 4x the events (50k/table/batch) —
    # the per-table batches are large enough that the fixed per-job driver
    # cost stops dominating and the parallel fan-out matches/exceeds the
    # single-table rate (measured 81k vs 47k ev/s in-session); parallel
    # only, 1 repeat — the serial contrast is the standard leg's job
    cdc_demux_big = bench_cdc_demux(
        spark, n_events=n_ev * 4, n_batches=4, repeats=1,
        max_load=max_load, n_tables=8, serial_leg=False,
    )
    per_query["cdc_demux_big"] = cdc_demux_big["demux_sec"]
    cdc_prune = bench_cdc_replay_prune(spark, n_events=n_ev, n_batches=4,
                                       repeats=repeats, max_load=max_load)
    per_query["cdc_replay_prune"] = cdc_prune["replay_sec"]
    cdc_scd2 = bench_cdc_scd2(spark, n_events=n_ev, n_batches=4,
                              repeats=repeats, max_load=max_load)
    per_query["cdc_scd2"] = cdc_scd2["scd2_sec"]
    cdc_scd2_mor = bench_cdc_scd2(spark, n_events=n_ev, n_batches=4,
                                  repeats=repeats, max_load=max_load,
                                  merge_mode="mor")
    per_query["cdc_scd2_mor"] = cdc_scd2_mor["scd2_sec"]
    ivm = bench_ivm(spark, n_events=n_ev, repeats=repeats, max_load=max_load)
    per_query["ivm_refresh"] = ivm["refresh_sec"]
    per_query["ivm_recompute"] = ivm["recompute_sec"]
    ivm_cross = bench_ivm_crossover(spark, repeats=repeats, max_load=max_load)
    per_query["ivm_refresh_big"] = ivm_cross["refresh_sec"]
    per_query["ivm_recompute_big"] = ivm_cross["recompute_sec"]
    sscan = bench_stats_scan(spark, sf_dir, repeats=repeats, max_load=max_load)
    per_query["stats_pruned_scan"] = sscan["pruned_sec"]
    per_query["stats_full_scan"] = sscan["full_sec"]

    total = round(sum(per_query.values()), 3)
    details = {
        "metric": "headline query suite + verified CDC replay "
                  "(min-of-%d, warmed) total wall" % max(1, repeats),
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "cpus": cpus,
        "repeats": repeats,
        "cdc": cdc,
        "cdc_mor": cdc_mor,
        "cdc_stream": cdc_stream,
        "cdc_demux": cdc_demux,
        "cdc_demux_big": cdc_demux_big,
        "cdc_prune": cdc_prune,
        "cdc_scd2": cdc_scd2,
        "cdc_scd2_mor": cdc_scd2_mor,
        "ivm": ivm,
        "ivm_crossover": ivm_cross,
        "stats_scan": sscan,
    }
    # Full payload → side file (the per-round harness captures only the
    # tail of stdout, so the LAST printed line must stay small enough to
    # land whole inside that window — round 3's full-detail line overflowed
    # it and the round's bench record parsed as null).
    with open(os.path.join(os.path.dirname(__file__), "BENCH_DETAILS.json"), "w") as f:
        json.dump(details, f, indent=1)
    compact = {
        "metric": "suite+CDC total wall (min-of-%d, warmed; details: "
                  "BENCH_DETAILS.json)" % max(1, repeats),
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in per_query.items()},
        "sf": sf,
        "cpus": cpus,
        "evps": {
            "cow": cdc["events_per_sec"],
            "mor": cdc_mor["events_per_sec"],
            "stream": cdc_stream["events_per_sec"],
            "demux": cdc_demux["events_per_sec"],
            "demux_big": cdc_demux_big["events_per_sec"],
            "scd2": cdc_scd2["events_per_sec"],
            "scd2_mor": cdc_scd2_mor["events_per_sec"],
        },
        "ivm_bytes_ratio": ivm["scanned_bytes_ratio"],
        "ivm_big_speedup": ivm_cross["speedup"],
        "verified": all(
            d.get("verified")
            for d in (cdc, cdc_mor, cdc_stream, cdc_demux, cdc_prune,
                      cdc_scd2, cdc_scd2_mor, ivm, ivm_cross, sscan)
        ),
    }
    line = json.dumps(compact)
    if len(line) > 1900:
        # keep the parseable line inside the harness tail window: drop the
        # per-query map last (it stays in BENCH_DETAILS.json)
        slow = dict(
            sorted(per_query.items(), key=lambda kv: -kv[1])[:20]
        )
        compact["queries"] = {k: round(v, 2) for k, v in slow.items()}
        compact["queries_truncated_to_slowest"] = 20
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
