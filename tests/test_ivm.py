"""Incremental materialized-view maintenance (lake/ivm.py) and the
pre-image change-feed variant that feeds it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_migration_validator_spark.lake import LakeTable
from data_migration_validator_spark.lake.ivm import IncrementalAggView

SCHEMA = [
    ("event_id", "bigint"),
    ("event_type", "string"),
    ("cents", "bigint"),
]


def _source(spark, root, rows):
    t = LakeTable.create(
        spark, root, SCHEMA, key_cols=["event_id"], num_buckets=4
    )
    df = spark.createDataFrame(
        [(i, g, c, "upsert") for i, g, c in rows],
        "event_id long, event_type string, cents long, op string",
    )
    t.merge(df, op_col="op", delete_value="delete")
    return t


def _apply(spark, t, ups, dels=()):
    rows = [(i, g, c, "upsert") for i, g, c in ups] + [
        (i, "x", 0, "delete") for i in dels
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, cents long, op string"
    )
    t.merge(df, op_col="op", delete_value="delete")


def _assert_view_matches(view):
    got = {
        tuple(r)
        for r in view.read().select("event_type", "n_rows", "sum_cents").collect()
    }
    want = {
        tuple(r)
        for r in view.recompute()
        .select("event_type", "n_rows", "sum_cents")
        .collect()
    }
    assert got == want


def test_changes_with_preimage_shape(spark, tmp_root):
    t = _source(spark, f"{tmp_root}/src", [(1, "a", 10), (2, "b", 20)])
    since = t.manifest["seq"]
    _apply(spark, t, ups=[(2, "b", 25), (3, "c", 30)], dels=[1])
    feed = t.changes(since, with_preimage=True)
    rows = {(r["event_id"], r["_change_type"]): r["cents"] for r in feed.collect()}
    assert rows == {
        (1, "delete"): 10,
        (2, "update_preimage"): 20,
        (2, "update_postimage"): 25,
        (3, "insert"): 30,
    }
    # net mode unchanged: one row per key, no preimages
    net = {r["_change_type"] for r in t.changes(since).collect()}
    assert net == {"delete", "update_postimage", "insert"}


def test_ivm_tracks_inserts_updates_deletes(spark, tmp_root):
    t = _source(
        spark,
        f"{tmp_root}/src",
        [(1, "a", 10), (2, "a", 20), (3, "b", 5)],
    )
    view = IncrementalAggView.create(
        spark, f"{tmp_root}/view", t, ["event_type"], ["cents"]
    )
    st = view.refresh()
    assert st["skipped"] is False
    _assert_view_matches(view)

    # update that migrates a row across groups (a -> b) + a delete + insert
    _apply(spark, t, ups=[(2, "b", 21), (4, "c", 7)], dels=[3])
    st = view.refresh()
    assert st["since_seq"] < st["until_seq"]
    _assert_view_matches(view)
    got = {
        r["event_type"]: (r["n_rows"], r["sum_cents"])
        for r in view.read().collect()
    }
    assert got == {"a": (1, 10), "b": (1, 21), "c": (1, 7)}


def test_ivm_group_vanishes_when_emptied(spark, tmp_root):
    t = _source(spark, f"{tmp_root}/src", [(1, "a", 10), (2, "b", 20)])
    view = IncrementalAggView.create(
        spark, f"{tmp_root}/view", t, ["event_type"], ["cents"]
    )
    view.refresh()
    _apply(spark, t, ups=[], dels=[1])
    view.refresh()
    assert {r["event_type"] for r in view.read().collect()} == {"b"}
    _assert_view_matches(view)


def test_ivm_refresh_idempotent_and_resumable(spark, tmp_root):
    t = _source(spark, f"{tmp_root}/src", [(1, "a", 10)])
    view = IncrementalAggView.create(
        spark, f"{tmp_root}/view", t, ["event_type"], ["cents"]
    )
    view.refresh()
    assert view.refresh()["skipped"] is True  # up to date

    # multi-batch gap folded in one refresh
    _apply(spark, t, ups=[(2, "a", 5)])
    _apply(spark, t, ups=[(3, "b", 1)], dels=[1])
    view.refresh()
    _assert_view_matches(view)

    # load() resumes from the sidecar state
    again = IncrementalAggView.load(spark, f"{tmp_root}/view", t)
    assert again.last_refreshed_seq == view.last_refreshed_seq
    assert again.refresh()["skipped"] is True
    _assert_view_matches(again)


def test_ivm_rebuild_after_window_expired(spark, tmp_root):
    t = _source(spark, f"{tmp_root}/src", [(1, "a", 10), (2, "b", 20)])
    view = IncrementalAggView.create(
        spark, f"{tmp_root}/view", t, ["event_type"], ["cents"]
    )
    view.refresh()
    _apply(spark, t, ups=[(3, "b", 7)], dels=[1])
    _apply(spark, t, ups=[(4, "c", 9)])
    # expire everything but the newest snapshot: the view's incremental
    # window (last_refreshed_seq) is gone -> refresh must full-rebuild
    t.expire_snapshots(keep_last=1)
    st = view.refresh()
    assert st.get("rebuilt") is True
    _assert_view_matches(view)
    got = {
        r["event_type"]: (r["n_rows"], r["sum_cents"])
        for r in view.read().collect()
    }
    assert got == {"b": (2, 27), "c": (1, 9)}


def test_ivm_avg_derived(spark, tmp_root):
    t = _source(spark, f"{tmp_root}/src", [(1, "a", 10), (2, "a", 30)])
    view = IncrementalAggView.create(
        spark, f"{tmp_root}/view", t, ["event_type"], ["cents"]
    )
    view.refresh()
    row = view.read().where(F.col("event_type") == "a").first()
    assert row["avg_cents"] == 20.0


def test_ivm_rejects_foreign_source(spark, tmp_root):
    t1 = _source(spark, f"{tmp_root}/s1", [(1, "a", 10)])
    t2 = _source(spark, f"{tmp_root}/s2", [(1, "a", 10)])
    view = IncrementalAggView.create(
        spark, f"{tmp_root}/v", t1, ["event_type"], ["cents"]
    )
    view.refresh()
    with pytest.raises(ValueError):
        IncrementalAggView.load(spark, f"{tmp_root}/v", t2)


def test_ivm_crash_between_merge_and_state_advance(spark, tmp_root, kill_seam):
    """Exactly-once across the crash window: the view MERGE's manifest
    (which carries the refreshed seq) links, the process dies right after,
    the SOURCE ADVANCES, and the retry must not double-apply the
    already-merged delta."""
    from conftest import Crash, link_into

    t = _source(spark, f"{tmp_root}/src", [(1, "a", 10), (2, "b", 20)])
    view = IncrementalAggView.create(
        spark, f"{tmp_root}/view", t, ["event_type"], ["cents"]
    )
    view.refresh()
    _apply(spark, t, ups=[(3, "a", 5)])
    crashed_until = t.manifest["seq"]

    kill_seam.arm(kill_at=1, after=True, match=link_into(view.root))
    with pytest.raises(Crash):
        view.refresh()
    kill_seam.disarm()

    # the source moves on before the retry
    _apply(spark, t, ups=[(4, "b", 7)], dels=[1])

    recovered = IncrementalAggView.load(spark, f"{tmp_root}/view", t)
    assert recovered.last_refreshed_seq == crashed_until
    st = recovered.refresh()
    # the retry folds only what the source committed after the crash
    assert st["skipped"] is False
    assert (st["since_seq"], st["until_seq"]) == (crashed_until, t.manifest["seq"])
    _assert_view_matches(recovered)
    got = {
        r["event_type"]: (r["n_rows"], r["sum_cents"])
        for r in recovered.read().collect()
    }
    assert got == {"a": (1, 5), "b": (2, 27)}
    # and the view is at the head: another refresh is a no-op
    assert recovered.refresh()["skipped"] is True


def test_ivm_null_group_rejected(spark, tmp_root):
    t = _source(spark, f"{tmp_root}/src", [(1, "a", 10)])
    view = IncrementalAggView.create(
        spark, f"{tmp_root}/view", t, ["event_type"], ["cents"]
    )
    view.refresh()
    df = spark.createDataFrame(
        [(2, None, 5, "upsert")],
        "event_id long, event_type string, cents long, op string",
    )
    t.merge(df, op_col="op", delete_value="delete")
    with pytest.raises(ValueError, match="NULL in group column"):
        view.refresh()


def test_ivm_persisted_defining_columns_round_trip(spark, tmp_root):
    """A group column named 'sum_*' must survive load() — the defining
    columns are persisted, not reconstructed from name prefixes."""
    t = LakeTable.create(
        spark,
        f"{tmp_root}/src",
        [("k", "bigint"), ("sum_region", "string"), ("cents", "bigint")],
        key_cols=["k"],
        num_buckets=4,
    )
    df = spark.createDataFrame(
        [(1, "emea", 10, "upsert"), (2, "emea", 20, "upsert"), (3, "apac", 5, "upsert")],
        "k long, sum_region string, cents long, op string",
    )
    t.merge(df, op_col="op", delete_value="delete")
    view = IncrementalAggView.create(
        spark, f"{tmp_root}/view", t, ["sum_region"], ["cents"]
    )
    view.refresh()
    again = IncrementalAggView.load(spark, f"{tmp_root}/view", t)
    assert again.group_cols == ["sum_region"]
    assert again.sum_cols == ["cents"]
    got = {
        r["sum_region"]: (r["n_rows"], r["sum_cents"])
        for r in again.read().collect()
    }
    assert got == {"emea": (2, 30), "apac": (1, 5)}


def test_ivm_view_column_collision_rejected(spark, tmp_root):
    t = LakeTable.create(
        spark,
        f"{tmp_root}/src",
        [("n_rows", "bigint"), ("cents", "bigint")],
        key_cols=["n_rows"],
        num_buckets=4,
    )
    with pytest.raises(ValueError, match="collision"):
        IncrementalAggView.create(
            spark, f"{tmp_root}/v", t, ["n_rows"], ["cents"]
        )


def test_ivm_bad_columns(spark, tmp_root):
    t = _source(spark, f"{tmp_root}/src", [(1, "a", 10)])
    with pytest.raises(ValueError):
        IncrementalAggView.create(spark, f"{tmp_root}/v1", t, ["nope"], ["cents"])
    with pytest.raises(ValueError):
        IncrementalAggView.create(
            spark, f"{tmp_root}/v2", t, ["event_type"], ["nope"]
        )
