"""Snapshot rollback (metadata-only undo + batch-set restore) and
bucket-spec evolution (rebucket)."""

import os

import pytest
from pyspark.sql import functions as F

from data_migration_validator_spark.cdc import (
    change_events,
    expected_final_state,
    replay,
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


def _table(spark, root, name="t", num_buckets=4):
    return LakeTable.create(
        spark, os.path.join(root, name), SCHEMA,
        key_cols=["repo", "path"], num_buckets=num_buckets,
    )


def _assert_equal(src, table):
    c = reconcile_counts(src, table.read(), ["repo", "path"]).collect()[0]
    assert c["mismatches"] == 0 and c["src_extras"] == 0 and c["tgt_extras"] == 0, c


def test_rollback_restores_state_and_replay_reconverges(spark, tmp_root):
    ev = change_events(spark, 2_000, n_repos=15, seed=21, batch_size=500)
    events_dir = os.path.join(tmp_root, "events")
    write_events_batched(ev, events_dir)
    table = _table(spark, tmp_root)

    replay(table, events_dir, batch_ids=[0, 1])
    seq_after_1 = table.manifest["seq"]
    state_after_1 = table.read().collect()
    replay(table, events_dir, batch_ids=[2, 3])

    out = table.rollback(seq_after_1)
    assert out["rolled_back_to"] == seq_after_1
    assert sorted(out["batches_retracted"]) == [2, 3]
    # state is exactly the post-batch-1 snapshot
    assert sorted(map(tuple, table.read().collect())) == sorted(
        map(tuple, state_after_1)
    )
    # the rolled-over snapshot is still time-travelable
    assert table.at_version(seq_after_1).row_count() == len(state_after_1)

    # the retracted batches re-apply and the table reconverges on the oracle
    stats = replay(table, events_dir)
    assert stats["batches_applied"] == 2 and stats["batches_skipped"] == 2
    _assert_equal(expected_final_state(ev), table)


def test_rollback_unknown_seq_raises(spark, tmp_root):
    table = _table(spark, tmp_root)
    with pytest.raises(FileNotFoundError):
        table.rollback(999)


def test_rebucket_preserves_state_and_spec(spark, tmp_root):
    ev = change_events(spark, 2_000, n_repos=15, seed=22, batch_size=1_000)
    events_dir = os.path.join(tmp_root, "events")
    write_events_batched(ev, events_dir)
    table = _table(spark, tmp_root, num_buckets=4)
    replay(table, events_dir, merge_mode="mor")  # leaves deltas in place

    before = table.row_count()
    out = table.rebucket(16)
    assert out["num_buckets"] == 16 and out["rows"] == before
    t2 = LakeTable.load(spark, table.root)
    assert t2.num_buckets == 16
    assert t2.manifest["deltas"] == []
    assert t2.row_count() == before
    _assert_equal(expected_final_state(ev), t2)
    # every file landed in a valid new-spec bucket
    assert {f["bucket"] for f in t2.manifest["files"]} <= set(range(16))

    # the table keeps working after the spec change: next batch applies
    ev2 = change_events(spark, 500, n_repos=15, seed=23, batch_size=500)
    d2 = os.path.join(tmp_root, "events2")
    write_events_batched(ev2, d2)
    from data_migration_validator_spark.cdc import apply_batch

    apply_batch(t2, spark.read.parquet(os.path.join(d2, "batch_hint=0")),
                batch_id="post-rebucket")
    assert t2.row_count() > 0


def test_rebucket_bad_args(spark, tmp_root):
    table = _table(spark, tmp_root)
    with pytest.raises(ValueError):
        table.rebucket(0)
    with pytest.raises(ValueError):
        table.rebucket(8, bucket_col="nope")


def test_rollback_to_legacy_manifest_keeps_row_count(spark, tmp_root):
    """A target manifest written before bucket_rows existed must restore
    with counts seeded from its per-file rows, not an empty map (which
    would make row_count() report 0)."""
    import json

    table = _table(spark, tmp_root)
    df = spark.createDataFrame(
        [("r1", f"p{i}", "c", "py", "x") for i in range(10)],
        ["repo", "path", "commit", "lang", "content"],
    ).withColumn("op", F.lit("insert"))
    table.merge(df, op_col="op", batch_id=1)
    seq1 = table.manifest["seq"]
    table.merge(
        df.withColumn("content", F.lit("y")), op_col="op", batch_id=2
    )

    # simulate a legacy v<seq1> manifest: the pre-bucket_rows format kept
    # per-FILE row counts instead — move the counts down, drop the map
    path = os.path.join(table.root, "_manifest", f"v{seq1:08d}.json")
    with open(path) as f:
        m = json.load(f)
    per_bucket = m.pop("bucket_rows")
    seen = set()
    for fe in m["files"]:
        b = str(fe["bucket"])
        # one file per bucket in this fixture; guard the assumption
        assert b not in seen
        seen.add(b)
        fe["rows"] = per_bucket.get(b, 0)
    with open(path, "w") as f:
        json.dump(m, f)

    table.rollback(seq1)
    assert table.row_count() == 10
