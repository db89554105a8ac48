"""Structured Streaming ingest: availableNow tail → foreachBatch apply,
checkpoint resume, idempotent sink across restarts (SURVEY.md §2.9)."""

import os

from data_migration_validator_spark.cdc import (
    change_events,
    expected_final_state,
    write_events_batched,
)
from data_migration_validator_spark.lake import LakeTable
from data_migration_validator_spark.streaming.stream import run_stream_once
from data_migration_validator_spark.validation import reconcile_counts

SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]


def _new_table(spark, root, name="t"):
    return LakeTable.create(
        spark, os.path.join(root, name), SCHEMA, key_cols=["repo", "path"],
        num_buckets=8,
    )


def _assert_state_equal(engine_df, oracle_df):
    counts = reconcile_counts(
        oracle_df, engine_df, key_cols=["repo", "path"]
    ).collect()[0]
    assert counts["mismatches"] == 0, counts
    assert counts["src_extras"] == 0, counts
    assert counts["tgt_extras"] == 0, counts


def test_stream_ingest_matches_oracle(spark, tmp_root):
    ev = change_events(spark, 3000, n_repos=20, seed=5, batch_size=500)
    write_events_batched(ev, os.path.join(tmp_root, "events"))
    table = _new_table(spark, tmp_root)
    run_stream_once(
        table, os.path.join(tmp_root, "events"), os.path.join(tmp_root, "ckpt")
    )
    _assert_state_equal(table.read(), expected_final_state(ev))


def test_stream_resume_from_checkpoint_is_noop_then_incremental(spark, tmp_root):
    ev = change_events(spark, 2000, n_repos=15, seed=9, batch_size=500)
    events_dir = os.path.join(tmp_root, "events")
    ckpt = os.path.join(tmp_root, "ckpt")
    write_events_batched(ev.filter("batch_hint < 2"), events_dir)
    table = _new_table(spark, tmp_root)

    run_stream_once(table, events_dir, ckpt)
    seq_after_first = table.manifest["seq"]

    # restart with same checkpoint and no new input → no new commits
    run_stream_once(table, events_dir, ckpt)
    table2 = LakeTable.load(spark, table.root)
    assert table2.manifest["seq"] == seq_after_first

    # drop the remaining batches in; resume picks up ONLY the new files
    ev.filter("batch_hint >= 2").write.mode("append").partitionBy(
        "batch_hint"
    ).parquet(events_dir)
    run_stream_once(table, events_dir, ckpt)
    final = LakeTable.load(spark, table.root)
    _assert_state_equal(final.read(), expected_final_state(ev))


def test_stream_sink_is_idempotent_across_fresh_checkpoint(spark, tmp_root):
    """Kill-and-lose-the-checkpoint worst case: a fresh checkpoint re-reads
    everything, but the manifest's batch set absorbs the replay (same batchIds
    re-delivered) — state unchanged, no duplicate application."""
    ev = change_events(spark, 1500, n_repos=10, seed=11, batch_size=500)
    events_dir = os.path.join(tmp_root, "events")
    write_events_batched(ev, events_dir)
    table = _new_table(spark, tmp_root)

    run_stream_once(table, events_dir, os.path.join(tmp_root, "ckpt1"))
    seq1 = LakeTable.load(spark, table.root).manifest["seq"]

    # second pass from a brand-new checkpoint: foreachBatch numbering restarts
    # at 0, which maps to the same stream-{id} commit keys → all skipped.
    run_stream_once(table, events_dir, os.path.join(tmp_root, "ckpt2"))
    t2 = LakeTable.load(spark, table.root)
    assert t2.manifest["seq"] == seq1
    _assert_state_equal(t2.read(), expected_final_state(ev))


def test_exactly_once_when_sink_crashes_after_commit(spark, tmp_root):
    """Crash INSIDE foreachBatch after the lake commit succeeded: the
    streaming engine replays that batch on restart (at-least-once), the
    manifest's batch set recognizes the batchId and no-ops — final state is
    exactly-once despite the redelivery."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from data_migration_validator_spark.cdc.apply import apply_batch
    from data_migration_validator_spark.streaming.stream import EVENT_STREAM_SCHEMA

    ev = change_events(spark, 2000, n_repos=15, seed=13, batch_size=500)
    events_dir = os.path.join(tmp_root, "events")
    ckpt = os.path.join(tmp_root, "ckpt")
    write_events_batched(ev, events_dir)
    table = _new_table(spark, tmp_root)
    crashed = {"done": False}

    def sink(bdf, bid):  # foreachBatch runs driver-side: closure mutation ok
        apply_batch(table, bdf, batch_id=f"stream-{bid}")
        if bid == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected post-commit crash")

    def start():
        return (
            spark.readStream.schema(EVENT_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 16)
            .option("recursiveFileLookup", "true")
            .parquet(events_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert crashed["done"]
    applied_after_crash = LakeTable.load(spark, table.root).manifest["seq"]

    # restart: batch 1 is redelivered, its commit is skipped, rest applies
    q2 = start()
    q2.awaitTermination(300)
    if q2.isActive:
        q2.stop()
    final = LakeTable.load(spark, table.root)
    assert final.manifest["seq"] > applied_after_crash
    _assert_state_equal(final.read(), expected_final_state(ev))


def test_ordering_gate_protects_ingest_from_row_redelivery(spark, tmp_root):
    """A tailing source can re-emit OLD events under NEW file names (e.g. a
    re-uploaded binlog segment).  New files mean new micro-batches with new
    batchIds, so the manifest's batch set cannot catch it — and replaying stale
    events through the LWW MERGE would overwrite newer rows.  The gated
    pipeline drops them; the ungated one demonstrably corrupts."""
    from data_migration_validator_spark.validation import reconcile_counts

    ev = change_events(spark, 2000, n_repos=15, seed=17, batch_size=500)
    events_dir = os.path.join(tmp_root, "events")
    write_events_batched(ev, events_dir)
    stale = ev.filter("event_seq < 1000")

    # gated pipeline: ingest, then redeliver the first half as fresh files
    gated = _new_table(spark, tmp_root, "gated")
    ckpt_g = os.path.join(tmp_root, "ckpt_g")
    run_stream_once(gated, events_dir, ckpt_g, ordering_gate=True)
    _assert_state_equal(gated.read(), expected_final_state(ev))
    stale.write.mode("append").parquet(os.path.join(events_dir, "redelivered"))
    run_stream_once(gated, events_dir, ckpt_g, ordering_gate=True)
    _assert_state_equal(gated.read(), expected_final_state(ev))

    # ungated control on the SAME (now-polluted) directory: stale events
    # replay through the MERGE and revert keys whose final event was newer
    bare = _new_table(spark, tmp_root, "bare")
    run_stream_once(bare, events_dir, os.path.join(tmp_root, "ckpt_b"))
    counts = reconcile_counts(
        expected_final_state(ev), bare.read(), key_cols=["repo", "path"]
    ).collect()[0]
    assert counts["mismatches"] > 0  # the failure mode the gate closes


def test_gated_stream_applies_schema_evolution(spark, tmp_root):
    """Schema events ride THROUGH the ordering gate (they group under the
    (null, null) key; their seqs advance monotonically) and still drive
    add/rename/widen in the sink."""
    ev = change_events(
        spark, 1200, n_repos=8, seed=44, batch_size=300,
        schema_change_at={
            300: '{"action":"add_column","name":"stars","type":"int"}',
            600: '{"action":"rename_column","from":"lang","to":"language"}',
            900: '{"action":"widen_type","name":"stars","to":"bigint"}',
        },
    )
    events_dir = os.path.join(tmp_root, "events")
    write_events_batched(ev, events_dir)
    table = _new_table(spark, tmp_root)
    run_stream_once(
        table, events_dir, os.path.join(tmp_root, "ckpt"), ordering_gate=True
    )
    cols = table.read().columns
    assert "language" in cols and "lang" not in cols and "stars" in cols
    oracle = expected_final_state(ev).withColumnRenamed("lang", "language")
    counts = reconcile_counts(
        oracle,
        table.read().select("repo", "path", "commit", "language", "content"),
        key_cols=["repo", "path"],
    ).collect()[0]
    assert counts["mismatches"] == 0, counts
    assert counts["src_extras"] == 0 and counts["tgt_extras"] == 0


def test_stream_timeout_raises_instead_of_silent_success():
    from data_migration_validator_spark.streaming.stream import _await_or_raise

    class FakeQuery:
        stopped = False

        def awaitTermination(self, timeout_s):
            return False  # still running at the deadline

        def stop(self):
            self.stopped = True

    q = FakeQuery()
    import pytest

    with pytest.raises(TimeoutError):
        _await_or_raise(q, 1)
    assert q.stopped  # the runaway query is stopped before raising
