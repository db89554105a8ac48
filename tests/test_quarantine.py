"""Dead-letter quarantine: malformed change events must be split out of the
DML path, persisted exactly-once with a reason, and never corrupt the final
table state (which must equal the oracle over the CLEAN events only)."""

import os

import pytest
from pyspark.sql import functions as F

from data_migration_validator_spark.cdc import (
    apply_batch,
    change_events,
    classify_events,
    expected_final_state,
    make_quarantine_table,
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

EV_COLS = (
    "event_seq", "op", "repo", "path", "commit", "lang", "content",
    "schema_change", "batch_hint",
)


def _new_table(spark, root, name="t", merge_mode=None):
    props = {"write.merge.mode": merge_mode} if merge_mode else None
    return LakeTable.create(
        spark, os.path.join(root, name), SCHEMA, key_cols=["repo", "path"],
        num_buckets=8, properties=props,
    )


def _corrupt(events, n_events):
    """Deterministically corrupt a slice of the stream: unknown ops, null
    keys, empty payloads — the three quarantine classes."""
    seq = F.col("event_seq")
    return (
        events.withColumn(
            "op",
            F.when(seq % 97 == 0, F.lit("truncate")).otherwise(F.col("op")),
        )
        .withColumn(
            "path",
            F.when(seq % 101 == 3, F.lit(None).cast("string")).otherwise(
                F.col("path")
            ),
        )
        .withColumn(
            "commit",
            F.when(
                (seq % 103 == 5) & (F.col("op") != "delete"),
                F.lit(None).cast("string"),
            ).otherwise(F.col("commit")),
        )
    )


def test_classify_events_reasons(spark):
    rows = [
        (1, "insert", "r", "p1", "c1", "py", "x", None, 0),
        (2, "truncate", "r", "p2", "c2", "py", "x", None, 0),   # unknown op
        (3, "update", None, "p3", "c3", "py", "x", None, 0),    # null key
        (4, "update", "r", "p4", None, "py", None, None, 0),    # no payload
        (5, "delete", "r", "p5", None, "py", None, None, 0),    # delete: ok
        (6, "schema", None, None, None, None, None, '{"action":"x"}', 0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_seq long, op string, repo string, path string, commit string,"
        " lang string, content string, schema_change string, batch_hint int",
    )
    got = {
        r["event_seq"]: r["dlq_reason"]
        for r in classify_events(df, payload_cols=("commit", "content")).collect()
    }
    assert got == {
        1: None,
        2: "unknown_op",
        3: "null_key",
        4: "no_payload",
        5: None,
        6: None,
    }


def _run_quarantined_replay(spark, tmp_root, merge_mode):
    n = 4_000
    ev = change_events(spark, n, n_repos=25, seed=31, batch_size=1_000)
    bad = _corrupt(ev, n)
    events_dir = os.path.join(tmp_root, f"events_{merge_mode or 'cow'}")
    write_events_batched(bad.select(*EV_COLS), events_dir)

    table = _new_table(spark, tmp_root, name=f"t_{merge_mode or 'cow'}",
                       merge_mode=merge_mode)
    dlq = make_quarantine_table(
        spark, os.path.join(tmp_root, f"dlq_{merge_mode or 'cow'}")
    )
    stats = replay(table, events_dir, quarantine=dlq, merge_mode=merge_mode)
    assert stats["batches_applied"] == 4
    return table, dlq, bad


def _assert_clean_state(table, dlq, bad):
    spark = table.spark
    # Oracle over the CLEAN stream only: what a perfect applier would keep.
    clean = classify_events(bad).filter(F.col("dlq_reason").isNull()).drop(
        "dlq_reason"
    )
    oracle = expected_final_state(clean)
    counts = reconcile_counts(
        oracle, table.read(), key_cols=["repo", "path"]
    ).collect()[0]
    assert counts["mismatches"] == 0 and counts["src_extras"] == 0
    assert counts["tgt_extras"] == 0

    # Quarantine rows carry the right reasons and exactly the bad events.
    expected_bad = {
        (r["event_seq"], r["dlq_reason"])
        for r in classify_events(bad)
        .filter(F.col("dlq_reason").isNotNull())
        .select("event_seq", "dlq_reason")
        .collect()
    }
    got_bad = {
        (r["event_seq"], r["reason"]) for r in dlq.read().collect()
    }
    assert got_bad == expected_bad and len(got_bad) > 0


def test_replay_with_quarantine_cow(spark, tmp_root):
    table, dlq, bad = _run_quarantined_replay(spark, tmp_root, None)
    _assert_clean_state(table, dlq, bad)


def test_replay_with_quarantine_mor(spark, tmp_root):
    table, dlq, bad = _run_quarantined_replay(spark, tmp_root, "mor")
    _assert_clean_state(table, dlq, bad)
    table.compact()
    _assert_clean_state(table, dlq, bad)


def test_quarantine_redelivery_is_exactly_once(spark, tmp_root, kill_seam):
    """A batch re-applied after a crash at the main table's manifest link
    (the crash window: quarantine upserted, main commit lost) must not
    duplicate dead-letter rows — the (batch_id, event_seq)-keyed MERGE
    absorbs it."""
    from conftest import Crash, link_into

    n = 1_000
    ev = _corrupt(change_events(spark, n, n_repos=10, seed=7, batch_size=n), n)
    table = _new_table(spark, tmp_root)
    dlq = make_quarantine_table(spark, os.path.join(tmp_root, "dlq"))

    kill_seam.arm(kill_at=1, match=link_into(table.root))
    with pytest.raises(Crash):
        apply_batch(table, ev, batch_id=0, quarantine=dlq)
    kill_seam.disarm()
    table = LakeTable.load(spark, table.root)
    dlq = LakeTable.load(spark, dlq.root)
    assert not table.has_batch(0)
    first = sorted(
        (r["batch_id"], r["event_seq"]) for r in dlq.read().collect()
    )
    assert first
    # redeliver the batch whose main commit was lost
    apply_batch(table, ev, batch_id=0, quarantine=dlq)
    assert table.has_batch(0)
    second = sorted(
        (r["batch_id"], r["event_seq"]) for r in dlq.read().collect()
    )
    assert second == first


def test_cow_merge_over_uncompacted_deltas(spark, tmp_root):
    """Regression: a cow MERGE into a bucket whose rows live ONLY in
    merge-on-read deltas (never compacted) must still anti-join the
    existing rows — skipping it duplicated updated keys and ignored
    deletes."""
    from pyspark.sql import functions as F

    from data_migration_validator_spark.cdc import expected_final_state

    ev1 = change_events(spark, 800, n_repos=10, seed=41, batch_size=800)
    table = _new_table(spark, tmp_root, name="t_mixmode")
    apply_batch(table, ev1, batch_id=0, merge_mode="mor")  # deltas only

    ev2 = (
        change_events(spark, 400, n_repos=10, seed=41, batch_size=400)
        .withColumn("event_seq", F.col("event_seq") + 800)
    )
    apply_batch(table, ev2, batch_id=1, merge_mode="cow")  # same key space

    oracle = expected_final_state(
        ev1.unionByName(ev2.withColumn("batch_hint", F.lit(1)))
    )
    counts = reconcile_counts(
        oracle, table.read(), key_cols=["repo", "path"]
    ).collect()[0]
    assert counts["mismatches"] == 0, counts
    assert counts["src_extras"] == 0 and counts["tgt_extras"] == 0, counts
