"""SCD Type-2 history maintenance: incremental batches ≡ from-scratch window
oracle, idempotent redelivery, and current-version agreement with the
replay oracle."""

import pyspark.sql.functions as F
import pytest

from data_migration_validator_spark.cdc.events import change_events
from data_migration_validator_spark.cdc.oracle import expected_final_state
from data_migration_validator_spark.cdc.scd import (
    VALID_FROM,
    VALID_TO,
    make_scd2_table,
    scd2_apply,
    scd2_expected,
    scd2_replay,
)

PAYLOAD = [("commit", "string"), ("lang", "string"), ("content", "string")]


@pytest.fixture(scope="module")
def ev(spark):
    return change_events(
        spark, n_events=4000, n_repos=20, paths_per_repo=10, seed=7,
        batch_size=1000,
    ).persist()


def _hist(spark, tmp_path, name):
    return make_scd2_table(
        spark, str(tmp_path / name), ["repo", "path"], PAYLOAD, num_buckets=8
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_incremental_equals_batch_oracle(spark, tmp_path, ev):
    t = _hist(spark, tmp_path, "h1")
    st = scd2_replay(t, ev)
    assert st["batches"] == 4
    got = _rows(t.read())
    want = _rows(scd2_expected(ev))
    assert got == want
    # history is non-trivial: multiple versions for at least one key,
    # and some versions are closed
    by_key = t.read().groupBy("repo", "path").count()
    assert by_key.filter("count > 1").count() > 0
    assert t.read().filter(F.col(VALID_TO).isNotNull()).count() > 0


def test_opened_closed_counts_match_event_oracle(spark, tmp_path, ev):
    from pyspark.sql import Window

    t = _hist(spark, tmp_path, "h_counts")
    st = scd2_replay(t, ev)
    # every non-delete event opens exactly one version
    assert st["versions_opened"] == ev.filter(F.col("op") != "delete").count()
    # a close write happens when a key's version is closed by an event in a
    # LATER batch (within-batch successors land with valid_to pre-chained)
    w = Window.partitionBy("repo", "path").orderBy("event_seq")
    x = ev.withColumn("next_batch", F.lead("batch_hint").over(w))
    expect_closed = x.filter(
        (F.col("op") != "delete")
        & F.col("next_batch").isNotNull()
        & (F.col("next_batch") != F.col("batch_hint"))
    ).count()
    assert st["versions_closed"] == expect_closed


def test_redelivery_is_noop(spark, tmp_path, ev):
    t = _hist(spark, tmp_path, "h2")
    scd2_replay(t, ev)
    before = _rows(t.read())
    st = scd2_apply(t, ev.filter(F.col("batch_hint") == 2), batch_id=2)
    assert st["skipped"]
    assert _rows(t.read()) == before


def test_current_versions_match_replay_oracle(spark, tmp_path, ev):
    """Open SCD2 versions (valid_to null) == the mirror-table oracle:
    last-writer-wins, deletes drop the key."""
    t = _hist(spark, tmp_path, "h3")
    scd2_replay(t, ev)
    current = t.read().filter(F.col(VALID_TO).isNull()).select(
        "repo", "path", "commit", "lang", "content"
    )
    want = expected_final_state(ev).select(
        "repo", "path", "commit", "lang", "content"
    )
    assert _rows(current) == _rows(want)


def test_delete_closes_and_reinsert_reopens(spark, tmp_path):
    sp = spark
    rows = [
        (0, "insert", "r1", "p1", "c0", "py", "v0", None, 0),
        (1, "update", "r1", "p1", "c1", "py", "v1", None, 0),
        (2, "delete", "r1", "p1", None, None, None, None, 1),
        (3, "insert", "r1", "p1", "c3", "py", "v3", None, 2),
    ]
    ev = sp.createDataFrame(
        rows,
        "event_seq long, op string, repo string, path string, commit string,"
        " lang string, content string, schema_change string, batch_hint int",
    )
    t = _hist(sp, tmp_path, "h4")
    scd2_replay(t, ev)
    hist = sorted(
        t.read().select(VALID_FROM, VALID_TO, "content").collect(),
        key=lambda r: r[VALID_FROM],
    )
    assert [(r[VALID_FROM], r[VALID_TO], r["content"]) for r in hist] == [
        (0, 1, "v0"),   # closed by the update
        (1, 2, "v1"),   # closed by the delete
        (3, None, "v3"),  # reopened after the delete, current
    ]
    assert _rows(t.read()) == _rows(scd2_expected(ev))


def test_streaming_scd2_matches_batch_oracle(spark, tmp_path):
    """availableNow tail → foreachBatch scd2_apply: the streamed history
    table equals the from-scratch window oracle, and a checkpoint-resumed
    rerun with no new input commits nothing (exactly-once)."""
    from data_migration_validator_spark.cdc.events import write_events_batched
    from data_migration_validator_spark.streaming.stream import (
        run_scd2_stream_once,
    )

    ev = change_events(
        spark, n_events=2000, n_repos=15, paths_per_repo=8, seed=11,
        batch_size=500,
    )
    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    write_events_batched(ev, events_dir)

    t = _hist(spark, tmp_path, "h_stream")
    run_scd2_stream_once(t, events_dir, ckpt, max_files_per_trigger=4)
    assert _rows(t.read()) == _rows(scd2_expected(ev))

    seq = t.manifest["seq"]
    run_scd2_stream_once(t, events_dir, ckpt, max_files_per_trigger=4)
    assert t.manifest["seq"] == seq  # resume: nothing re-applied
    assert _rows(t.read()) == _rows(scd2_expected(ev))


def test_out_of_order_batch_raises_and_rolls_back(spark, tmp_path):
    """A later batch carrying an EARLIER seq for an open key would write an
    inverted interval (valid_to < valid_from): scd2_apply must raise and
    roll the batch back instead of silently corrupting history."""
    t = _hist(spark, tmp_path, "h_ooo")
    schema = (
        "event_seq long, op string, repo string, path string, "
        "commit string, lang string, content string"
    )
    b1 = spark.createDataFrame(
        [(100, "insert", "r", "p", "c1", "py", "v1")], schema
    )
    st1 = scd2_apply(t, b1, batch_id=1)
    assert st1["versions_opened"] == 1
    pre_rows = _rows(t.read())
    # batch 2 delivers seq 50 < the open version's valid_from (100)
    b2 = spark.createDataFrame(
        [(50, "update", "r", "p", "c0", "py", "v0")], schema
    )
    with pytest.raises(ValueError, match="valid_to.* < .*valid_from|out of seq"):
        scd2_apply(t, b2, batch_id=2)
    # rolled back: table state unchanged, batch 2 NOT marked applied
    assert _rows(t.read()) == pre_rows
    assert not t.has_batch(2)
    # an in-order batch still applies afterwards
    b3 = spark.createDataFrame(
        [(200, "update", "r", "p", "c2", "py", "v2")], schema
    )
    st3 = scd2_apply(t, b3, batch_id=3)
    assert st3["versions_opened"] == 1 and st3["versions_closed"] == 1


def test_mor_incremental_equals_batch_oracle(spark, tmp_path, ev):
    """merge_mode="mor": closes ∪ opens land as delta commits; the read
    path resolves them to the exact same history as COW / the window
    oracle — with live deltas AND after periodic compaction."""
    t = _hist(spark, tmp_path, "m1")
    st = scd2_replay(t, ev, merge_mode="mor")
    assert st["batches"] == 4
    assert t.manifest.get("deltas"), "expected live deltas (no compaction)"
    assert _rows(t.read()) == _rows(scd2_expected(ev))

    t2 = _hist(spark, tmp_path, "m2")
    st2 = scd2_replay(t2, ev, merge_mode="mor", compact_every=2)
    assert not t2.manifest.get("deltas"), "compaction must fold all deltas"
    assert _rows(t2.read()) == _rows(scd2_expected(ev))
    assert st2["versions_opened"] == st["versions_opened"]
    assert st2["versions_closed"] == st["versions_closed"]


def test_mor_redelivery_is_noop(spark, tmp_path, ev):
    t = _hist(spark, tmp_path, "m3")
    scd2_replay(t, ev, merge_mode="mor")
    before = _rows(t.read())
    st = scd2_apply(
        t, ev.filter(F.col("batch_hint") == 2), batch_id=2, merge_mode="mor"
    )
    assert st["skipped"]
    assert _rows(t.read()) == before


def test_mor_out_of_order_batch_raises_and_rolls_back(spark, tmp_path):
    """The inverted-interval guard holds under MOR too: rollback restores
    the pre-batch manifest (incl. the delta list) and retracts the batch
    marker."""
    t = _hist(spark, tmp_path, "m_ooo")
    schema = (
        "event_seq long, op string, repo string, path string, "
        "commit string, lang string, content string"
    )
    b1 = spark.createDataFrame(
        [(100, "insert", "r", "p", "c1", "py", "v1")], schema
    )
    scd2_apply(t, b1, batch_id=1, merge_mode="mor")
    pre_rows = _rows(t.read())
    b2 = spark.createDataFrame(
        [(50, "update", "r", "p", "c0", "py", "v0")], schema
    )
    with pytest.raises(ValueError, match="valid_to.* < .*valid_from|out of seq"):
        scd2_apply(t, b2, batch_id=2, merge_mode="mor")
    assert _rows(t.read()) == pre_rows
    assert not t.has_batch(2)
    st3 = scd2_apply(
        t,
        spark.createDataFrame(
            [(200, "update", "r", "p", "c2", "py", "v2")], schema
        ),
        batch_id=3,
        merge_mode="mor",
    )
    assert st3["versions_opened"] == 1 and st3["versions_closed"] == 1


def test_mor_streaming_scd2_with_compaction(spark, tmp_path):
    """Streaming SCD2 sink in MOR mode with the in-loop compaction policy:
    same oracle equality + exactly-once resume."""
    from data_migration_validator_spark.cdc.events import write_events_batched
    from data_migration_validator_spark.streaming.stream import (
        run_scd2_stream_once,
    )

    ev = change_events(
        spark, n_events=2000, n_repos=15, paths_per_repo=8, seed=11,
        batch_size=500,
    )
    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    write_events_batched(ev, events_dir)

    t = _hist(spark, tmp_path, "m_stream")
    run_scd2_stream_once(
        t, events_dir, ckpt, max_files_per_trigger=4,
        merge_mode="mor", compact_ratio=0.5,
    )
    assert _rows(t.read()) == _rows(scd2_expected(ev))

    seq = t.manifest["seq"]
    run_scd2_stream_once(
        t, events_dir, ckpt, max_files_per_trigger=4,
        merge_mode="mor", compact_ratio=0.5,
    )
    assert t.manifest["seq"] == seq
    assert _rows(t.read()) == _rows(scd2_expected(ev))


def test_crash_after_batch_link_resumes_on_fresh_handle(spark, tmp_path, ev, kill_seam):
    """The process dies right after batch 2's manifest link.  The batch is
    recorded in that very manifest, so a fresh handle skips it and the
    resumed stream converges on the window oracle (before the batch set
    moved into the manifest, this re-applied batch 2 and wedged the stream
    on the inverted-interval guard)."""
    from conftest import Crash, link_into

    from data_migration_validator_spark.lake import LakeTable

    t = _hist(spark, tmp_path, "m_crash")
    kill_seam.arm(kill_at=3, after=True, match=link_into(t.root))
    with pytest.raises(Crash):
        scd2_replay(t, ev, merge_mode="mor")
    kill_seam.disarm()
    t2 = LakeTable.load(spark, t.root)
    assert t2.has_batch(2) and not t2.has_batch(3)
    st = scd2_replay(t2, ev, merge_mode="mor")
    assert st["batches"] == 4
    assert _rows(t2.read()) == _rows(scd2_expected(ev))
