"""Multi-table demux: one mixed stream routed to per-table lake tables with
per-table exactly-once, unknown-table dead-lettering, and per-stream oracle
equivalence."""

import os

import pytest

from pyspark.sql import functions as F

from data_migration_validator_spark.cdc import (
    change_events,
    demux_batch,
    demux_replay,
    expected_final_state,
    make_quarantine_table,
    write_events_batched,
)
from data_migration_validator_spark.lake import LakeTable
from data_migration_validator_spark.validation import reconcile_counts

SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]

EV_COLS = [
    "event_seq", "op", "repo", "path", "commit", "lang", "content",
    "schema_change", "batch_hint",
]


def _table(spark, root, name):
    return LakeTable.create(
        spark, os.path.join(root, name), SCHEMA,
        key_cols=["repo", "path"], num_buckets=4,
    )


def _mixed_stream(spark, n_a=2_000, n_b=1_500, batch=1_000, unknown=0):
    """Interleave two independent table streams into one ordered mixed
    stream.  event_seq is remapped to a GLOBALLY unique offset (even/odd) —
    the binlog contract — which preserves each table's internal order and
    the original batch boundaries."""
    a = change_events(spark, n_a, n_repos=15, seed=1, batch_size=batch)
    b = change_events(spark, n_b, n_repos=12, seed=2, batch_size=batch)

    def remap(df, parity, name):
        return df.withColumn(
            "event_seq", F.col("event_seq") * 2 + parity
        ).withColumn("table_name", F.lit(name))

    mixed = remap(a, 0, "tbl_a").unionByName(remap(b, 1, "tbl_b"))
    if unknown:
        u = change_events(spark, unknown, n_repos=3, seed=9, batch_size=batch)
        mixed = mixed.unionByName(
            u.withColumn("event_seq", F.col("event_seq") * 2 + 1_000_000)
            .withColumn("batch_hint", F.lit(0))
            .withColumn("table_name", F.lit("tbl_ghost"))
        )
    return a, b, mixed.select(*EV_COLS, "table_name")


def _assert_equal(oracle_src, table):
    c = reconcile_counts(oracle_src, table.read(), ["repo", "path"]).collect()[0]
    assert c["mismatches"] == 0 and c["src_extras"] == 0 and c["tgt_extras"] == 0, c


def test_demux_replay_two_tables(spark, tmp_root):
    a, b, mixed = _mixed_stream(spark)
    events_dir = os.path.join(tmp_root, "events")
    write_events_batched(mixed, events_dir)

    tables = {
        "tbl_a": _table(spark, tmp_root, "tbl_a"),
        "tbl_b": _table(spark, tmp_root, "tbl_b"),
    }
    stats = demux_replay(tables, events_dir, merge_mode="mor")
    assert stats["applied_per_table"] == {"tbl_a": 2, "tbl_b": 2}
    _assert_equal(expected_final_state(a), tables["tbl_a"])
    _assert_equal(expected_final_state(b), tables["tbl_b"])

    # full redelivery: every batch already committed by every table
    stats2 = demux_replay(tables, events_dir, merge_mode="mor")
    assert stats2["batches_skipped"] == stats2["batches_total"]
    assert stats2["applied_per_table"] == {"tbl_a": 0, "tbl_b": 0}


def test_demux_unknown_table_dead_letters(spark, tmp_root):
    a, b, mixed = _mixed_stream(spark, n_a=800, n_b=600, batch=1_000, unknown=50)
    # a NULL routing value is just as lost as a wrong one: must dead-letter
    mixed = mixed.withColumn(
        "table_name",
        F.when(F.col("event_seq") == 2, F.lit(None).cast("string")).otherwise(
            F.col("table_name")
        ),
    )
    events_dir = os.path.join(tmp_root, "events")
    write_events_batched(mixed, events_dir)

    tables = {
        "tbl_a": _table(spark, tmp_root, "tbl_a"),
        "tbl_b": _table(spark, tmp_root, "tbl_b"),
    }
    dlq = make_quarantine_table(spark, os.path.join(tmp_root, "dlq"))
    demux_replay(tables, events_dir, quarantine=dlq)
    got = dlq.read().filter(F.col("reason") == "unknown_table")
    assert got.count() == 51  # 50 ghost-table rows + 1 null-routed row
    assert got.filter(F.col("event_seq") == 2).count() == 1
    # the null-routed event (mixed seq 2 == a's seq 1) never reached tbl_a,
    # so tbl_a's oracle is the clean stream WITHOUT it
    _assert_equal(
        expected_final_state(a.filter(F.col("event_seq") != 1)), tables["tbl_a"]
    )
    _assert_equal(expected_final_state(b), tables["tbl_b"])


def test_demux_partial_crash_resume(spark, tmp_root, kill_seam):
    """Crash mid-loop: table A committed batch 0, table B died at its
    manifest link.  The redelivered batch must no-op on A and apply on B."""
    from conftest import Crash, link_into

    a, b, mixed = _mixed_stream(spark, n_a=900, n_b=700, batch=1_000)
    tables = {
        "tbl_a": _table(spark, tmp_root, "tbl_a"),
        "tbl_b": _table(spark, tmp_root, "tbl_b"),
    }
    mixed = mixed.cache()
    kill_seam.arm(kill_at=1, match=link_into(tables["tbl_b"].root))
    with pytest.raises(Crash):
        demux_batch(tables, mixed, batch_id=0)
    kill_seam.disarm()
    tables = {n: LakeTable.load(spark, t.root) for n, t in tables.items()}
    assert tables["tbl_a"].has_batch(0) and not tables["tbl_b"].has_batch(0)
    seq_a = tables["tbl_a"].manifest["seq"]
    out2 = demux_batch(tables, mixed, batch_id=0)
    assert out2["tbl_a"].get("skipped")
    assert not out2["tbl_b"].get("skipped")
    assert tables["tbl_a"].manifest["seq"] == seq_a  # A untouched
    _assert_equal(expected_final_state(a), tables["tbl_a"])
    _assert_equal(
        expected_final_state(b),
        LakeTable.load(spark, tables["tbl_b"].root),
    )


def test_demux_stream_availablenow_and_resume(spark, tmp_root):
    from data_migration_validator_spark.streaming.stream import start_demux_stream

    a, b, mixed = _mixed_stream(spark, n_a=1_200, n_b=900, batch=500)
    events_dir = os.path.join(tmp_root, "events")
    write_events_batched(mixed, events_dir)
    tables = {
        "tbl_a": _table(spark, tmp_root, "tbl_a"),
        "tbl_b": _table(spark, tmp_root, "tbl_b"),
    }
    ckpt = os.path.join(tmp_root, "ckpt")
    start_demux_stream(tables, events_dir, ckpt, merge_mode="mor")
    _assert_equal(expected_final_state(a), tables["tbl_a"])
    _assert_equal(expected_final_state(b), tables["tbl_b"])

    # resume from checkpoint with no new input: nothing re-applies
    seqs = {n: t.manifest["seq"] for n, t in tables.items()}
    start_demux_stream(tables, events_dir, ckpt)
    for n, t in tables.items():
        assert LakeTable.load(spark, t.root).manifest["seq"] == seqs[n]


def test_demux_schema_evolution_routes_to_right_table(spark, tmp_root):
    """A schema-change event in the mixed stream must evolve ONLY the table
    it is routed to."""
    import json as _json

    from data_migration_validator_spark.cdc import demux_batch

    a = change_events(
        spark, 400, n_repos=8, seed=3, batch_size=400,
        schema_change_at={200: _json.dumps(
            {"action": "add_column", "name": "stars", "type": "int"})},
    )
    b = change_events(spark, 300, n_repos=8, seed=4, batch_size=400)
    mixed = (
        a.withColumn("event_seq", F.col("event_seq") * 2)
        .withColumn("table_name", F.lit("tbl_a"))
        .unionByName(
            b.withColumn("event_seq", F.col("event_seq") * 2 + 1)
            .withColumn("table_name", F.lit("tbl_b"))
        )
    )
    tables = {
        "tbl_a": _table(spark, tmp_root, "tbl_a"),
        "tbl_b": _table(spark, tmp_root, "tbl_b"),
    }
    demux_batch(tables, mixed, batch_id=0)
    assert "stars" in [f.name for f in tables["tbl_a"].schema.fields]
    assert "stars" not in [f.name for f in tables["tbl_b"].schema.fields]


def test_demux_parallel_matches_serial(spark, tmp_root):
    """max_workers>1 fan-out must land byte-identical final states to the
    serial loop — including the shared quarantine table's dead letters
    (its per-handle write lock serializes concurrent upserts)."""
    a, b, mixed = _mixed_stream(spark, n_a=1_200, n_b=900, unknown=30)
    events_dir = os.path.join(tmp_root, "events_par")
    write_events_batched(mixed, events_dir)

    par = {
        "tbl_a": _table(spark, tmp_root, "par_a"),
        "tbl_b": _table(spark, tmp_root, "par_b"),
    }
    dlq = make_quarantine_table(spark, os.path.join(tmp_root, "par_dlq"))
    stats = demux_replay(
        par, events_dir, quarantine=dlq, merge_mode="mor", max_workers=4
    )
    assert stats["applied_per_table"] == {"tbl_a": 2, "tbl_b": 2}
    _assert_equal(expected_final_state(a), par["tbl_a"])
    _assert_equal(expected_final_state(b), par["tbl_b"])
    assert (
        dlq.read().filter(F.col("reason") == "unknown_table").count() == 30
    )
    # parallel redelivery: exactly-once holds under the fan-out too
    stats2 = demux_replay(
        par, events_dir, quarantine=dlq, merge_mode="mor", max_workers=4
    )
    assert stats2["applied_per_table"] == {"tbl_a": 0, "tbl_b": 0}
    assert (
        dlq.read().filter(F.col("reason") == "unknown_table").count() == 30
    )


def test_demux_quarantine_count_fused(spark, tmp_root, monkeypatch):
    """The unknown-row count rides the cache-materialization action via
    observe: ONE DataFrame.count() per demux_batch (the materialize), no
    separate count job over the unknown filter."""
    _, _, mixed = _mixed_stream(spark, n_a=400, n_b=300, batch=1_000, unknown=20)
    batch0 = mixed.filter(F.col("batch_hint") == 0).drop("batch_hint")
    tables = {
        "tbl_a": _table(spark, tmp_root, "fa"),
        "tbl_b": _table(spark, tmp_root, "fb"),
    }
    dlq = make_quarantine_table(spark, os.path.join(tmp_root, "fdlq"))

    calls = []
    # patch the CONCRETE DataFrame class (pyspark 4 routes pyspark.sql
    # .DataFrame through a classic/connect subclass; the base-class method
    # is overridden and a base patch never fires)
    df_cls = type(batch0)
    orig_count = df_cls.count

    def counting(self):
        calls.append(self)
        return orig_count(self)

    monkeypatch.setattr(df_cls, "count", counting)
    stats = demux_batch(tables, batch0, batch_id=0, quarantine=dlq)
    monkeypatch.undo()
    assert stats["__unknown__"] == 20
    assert len(calls) == 1, (
        f"expected the single fused materialize+observe count, got "
        f"{len(calls)} count() actions"
    )
    assert dlq.read().filter(F.col("reason") == "unknown_table").count() == 20


def test_demux_parallel_reports_all_failures(spark, tmp_root, monkeypatch):
    """A multi-table failure must surface EVERY failed table's error plus
    the stats of tables that did commit — not just the first future's."""
    from data_migration_validator_spark.cdc import demux as demux_mod

    _, _, mixed = _mixed_stream(spark, n_a=400, n_b=300, batch=1_000)
    batch0 = mixed.filter(F.col("batch_hint") == 0).drop("batch_hint")
    tables = {
        "tbl_a": _table(spark, tmp_root, "xa"),
        "tbl_b": _table(spark, tmp_root, "xb"),
        "tbl_c": _table(spark, tmp_root, "xc"),
    }
    # tbl_c receives no rows; make a and b fail, c succeed
    mixed3 = batch0
    real_apply = demux_mod.apply_batch

    def flaky(table, events, **kw):
        if table.root.endswith(("xa", "xb")):
            raise RuntimeError(f"boom:{os.path.basename(table.root)}")
        return real_apply(table, events, **kw)

    monkeypatch.setattr(demux_mod, "apply_batch", flaky)
    with pytest.raises(demux_mod.DemuxBatchError) as ei:
        demux_batch(tables, mixed3, batch_id=0, max_workers=3)
    err = ei.value
    assert set(err.failures) == {"tbl_a", "tbl_b"}
    assert "tbl_c" in err.partial and not err.partial["tbl_c"].get("skipped")
    assert "2 table(s)" in str(err)
    # the committed table no-ops on retry; the failed ones apply cleanly
    monkeypatch.undo()
    out = demux_batch(tables, mixed3, batch_id=0, max_workers=3)
    assert out["tbl_c"]["skipped"] is True
    assert not out["tbl_a"].get("skipped") and not out["tbl_b"].get("skipped")


def test_demux_gang_crash_resume_and_lineage(spark, tmp_root, monkeypatch):
    """Gang fast path (one shared write, per-table adoption): a crash
    between adoptions leaves table A committed and table B not — the
    redelivered batch must no-op A and converge B; per-table lineage rows
    land for committed tables."""
    from data_migration_validator_spark.cdc.apply import make_lineage_table
    from data_migration_validator_spark.lake.table import LakeTable

    a, b, mixed = _mixed_stream(spark, n_a=1_000, n_b=800)
    batch0 = mixed.filter(F.col("batch_hint") == 0).drop("batch_hint")
    tables = {
        "tbl_a": _table(spark, tmp_root, "ga"),
        "tbl_b": _table(spark, tmp_root, "gb"),
    }
    lin = {
        "tbl_a": make_lineage_table(spark, os.path.join(tmp_root, "lina")),
        "tbl_b": make_lineage_table(spark, os.path.join(tmp_root, "linb")),
    }

    real_commit = LakeTable.commit_staged_deltas
    state = {"failed": False}

    def flaky_commit(self, files, batch_id=None, stats=None):
        if self.root.endswith("gb") and not state["failed"]:
            state["failed"] = True
            raise RuntimeError("simulated crash before tbl_b adoption")
        return real_commit(self, files, batch_id=batch_id, stats=stats)

    monkeypatch.setattr(LakeTable, "commit_staged_deltas", flaky_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        demux_batch(
            tables, batch0, batch_id=0, lineage=lin, merge_mode="mor",
            max_workers=2,
        )
    assert tables["tbl_a"].has_batch(0) and not tables["tbl_b"].has_batch(0)
    monkeypatch.undo()

    # redelivery: tbl_a no-ops, tbl_b applies (single-pending fallback path)
    out = demux_batch(
        tables, batch0, batch_id=0, lineage=lin, merge_mode="mor",
        max_workers=2,
    )
    assert out["tbl_a"]["skipped"] is True
    assert not out["tbl_b"].get("skipped")
    # both tables converge to their stream oracles for batch 0
    _assert_equal(
        expected_final_state(a.filter(F.col("batch_hint") == 0)),
        tables["tbl_a"],
    )
    _assert_equal(
        expected_final_state(b.filter(F.col("batch_hint") == 0)),
        tables["tbl_b"],
    )
    # lineage rows landed per table with sane offsets
    for n in ("tbl_a", "tbl_b"):
        rows = lin[n].read().collect()
        assert rows and all(
            r["first_event_seq"] is not None
            and r["last_event_seq"] >= r["first_event_seq"]
            and r["rows_upserted"] + r["rows_delete_requested"] > 0
            for r in rows
        )
