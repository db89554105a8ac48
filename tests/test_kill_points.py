"""Kill-point harness for the lake commit protocol.

Every filesystem mutation a commit or a vacuum makes goes through one seam
(``lake.table._fs``).  Each scenario first runs clean to count the seam
calls K, then for every k in 1..K re-runs from scratch with the process
"killed" right after the k-th call, resumes on freshly loaded handles, and
checks the final state against the scenario's oracle by sha256 digest.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pytest
from conftest import Crash
from pyspark.sql import functions as F

from data_migration_validator_spark.cdc import (
    apply_batch,
    change_events,
    demux_batch,
    expected_final_state,
    replay,
    write_events_batched,
)
from data_migration_validator_spark.cdc.scd import (
    make_scd2_table,
    scd2_expected,
    scd2_replay,
)
from data_migration_validator_spark.lake import IncrementalAggView, LakeTable

SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]
COLS = [c for c, _ in SCHEMA]


def _digest(df, cols) -> str:
    rows = sorted(repr(tuple(r)) for r in df.select(*cols).collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _table(spark, root, **kw):
    return LakeTable.create(
        spark, root, SCHEMA, key_cols=["repo", "path"], num_buckets=2, **kw
    )


def _sweep(name, kill_seam, capsys, setup, run, resume, digest, want):
    """Clean run (counts K), then crash-after-call-k + resume for every k.
    ``setup(tag)`` builds fresh state, ``run(state)`` is the crashable
    work, ``resume(state)`` finishes it on fresh handles (after a clean
    run too, where it must be harmless), ``digest(state)`` digests the
    final state."""
    state = setup("clean")
    counter = kill_seam.arm()
    run(state)
    kill_seam.disarm()
    n_points = counter.calls
    resume(state)
    assert n_points > 0
    assert digest(state) == want, f"{name}: clean run differs from oracle"
    for k in range(1, n_points + 1):
        state = setup(f"k{k}")
        kill_seam.arm(kill_at=k, after=True)
        with pytest.raises(Crash):
            run(state)
        kill_seam.disarm()
        resume(state)
        assert digest(state) == want, f"{name}: resume after kill point {k}"
    with capsys.disabled():
        print(f"\n[kill points] {name}: {n_points}")


@pytest.fixture(scope="module")
def lww_events(spark, tmp_path_factory):
    """Two 200-event batches; batch 1 carries an add_column event."""
    ev = change_events(
        spark, 400, n_repos=6, paths_per_repo=20, seed=61, batch_size=200,
        schema_change_at={
            250: '{"action":"add_column","name":"stars","type":"int"}',
        },
    ).persist()
    d = str(tmp_path_factory.mktemp("kp_events"))
    write_events_batched(ev, d)
    yield ev, d
    ev.unpersist()


def _replay_sweep(spark, tmp_root, lww_events, kill_seam, capsys, name, **kw):
    ev, events_dir = lww_events
    want = _digest(expected_final_state(ev), COLS)
    _sweep(
        name, kill_seam, capsys,
        setup=lambda tag: _table(spark, os.path.join(tmp_root, tag)),
        run=lambda t: replay(t, events_dir, **kw),
        resume=lambda t: replay(LakeTable.load(spark, t.root), events_dir, **kw),
        digest=lambda t: _digest(LakeTable.load(spark, t.root).read(), COLS),
        want=want,
    )


def test_kill_points_replay_cow(spark, tmp_root, lww_events, kill_seam, capsys):
    _replay_sweep(
        spark, tmp_root, lww_events, kill_seam, capsys, "replay cow",
        merge_mode="cow",
    )


def test_kill_points_replay_mor_compacting(
    spark, tmp_root, lww_events, kill_seam, capsys
):
    _replay_sweep(
        spark, tmp_root, lww_events, kill_seam, capsys,
        "replay mor compact_every=2", merge_mode="mor", compact_every=2,
    )


def test_kill_points_scd2_mor(spark, tmp_root, kill_seam, capsys):
    ev = change_events(
        spark, 400, n_repos=6, paths_per_repo=20, seed=62, batch_size=200,
    ).persist()
    payload = [("commit", "string"), ("lang", "string"), ("content", "string")]
    hist_cols = ["repo", "path", "valid_from_seq", "commit", "lang",
                 "content", "valid_to_seq"]

    def setup(tag):
        return make_scd2_table(
            spark, os.path.join(tmp_root, tag), ["repo", "path"], payload,
            num_buckets=2,
        )

    _sweep(
        "scd2_replay mor", kill_seam, capsys,
        setup=setup,
        run=lambda t: scd2_replay(t, ev, merge_mode="mor"),
        resume=lambda t: scd2_replay(
            LakeTable.load(spark, t.root), ev, merge_mode="mor"
        ),
        digest=lambda t: _digest(LakeTable.load(spark, t.root).read(), hist_cols),
        want=_digest(scd2_expected(ev), hist_cols),
    )
    ev.unpersist()


def test_kill_points_demux_gang(spark, tmp_root, kill_seam, capsys):
    def stream(n, seed, parity, name):
        return (
            change_events(spark, n, n_repos=5, paths_per_repo=20, seed=seed)
            .withColumn("event_seq", F.col("event_seq") * 2 + parity)
            .withColumn("table_name", F.lit(name))
        )

    a, b = stream(300, 63, 0, "tbl_a"), stream(240, 64, 1, "tbl_b")
    mixed = a.unionByName(b).drop("batch_hint").persist()
    names = ("tbl_a", "tbl_b")

    def setup(tag):
        return {n: _table(spark, os.path.join(tmp_root, tag, n)) for n in names}

    def run(tables):
        out = demux_batch(
            tables, mixed, batch_id=0, merge_mode="mor", max_workers=2
        )
        assert all(out[n].get("gang") for n in names)  # the gang path ran

    def resume(tables):
        demux_batch(
            {n: LakeTable.load(spark, t.root) for n, t in tables.items()},
            mixed, batch_id=0, merge_mode="mor", max_workers=2,
        )

    def digest(tables):
        return tuple(
            _digest(LakeTable.load(spark, tables[n].root).read(), COLS)
            for n in names
        )

    _sweep(
        "demux gang (2 tables)", kill_seam, capsys,
        setup=setup, run=run, resume=resume, digest=digest,
        want=(
            _digest(expected_final_state(a), COLS),
            _digest(expected_final_state(b), COLS),
        ),
    )
    mixed.unpersist()


def test_kill_points_ivm_refresh_source_advances(
    spark, tmp_root, kill_seam, capsys
):
    """Crash inside ``refresh``; the source commits again before the retry."""
    ev = change_events(spark, 450, n_repos=6, paths_per_repo=20, seed=65,
                       batch_size=150)
    batches = [
        ev.filter(F.col("batch_hint") == i).drop("batch_hint").persist()
        for i in range(3)
    ]
    view_cols = ["lang", "n_rows"]

    def apply(src, i):
        apply_batch(src, batches[i], batch_id=i, merge_mode="mor")

    # a refreshed view, then one source commit the view has not seen yet
    template = os.path.join(tmp_root, "template")
    src = _table(spark, os.path.join(template, "src"))
    apply(src, 0)
    IncrementalAggView.create(
        spark, os.path.join(template, "view"), src, ["lang"], []
    ).refresh()
    apply(src, 1)

    def setup(tag):
        root = os.path.join(tmp_root, tag)
        shutil.copytree(template, root)
        src = LakeTable.load(spark, os.path.join(root, "src"))
        return src, IncrementalAggView.load(spark, os.path.join(root, "view"), src)

    def resume(state):
        src, view = state
        apply(src, 2)  # the source advances between crash and retry
        IncrementalAggView.load(spark, view.root, src).refresh()

    def digest(state):
        src, view = state
        v = IncrementalAggView.load(spark, view.root, src)
        assert v.last_refreshed_seq == src.manifest["seq"]
        return _digest(v.read(), view_cols)

    want = _digest(
        expected_final_state(ev).groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_rows")
        ),
        view_cols,
    )
    _sweep(
        "ivm refresh", kill_seam, capsys,
        setup=setup, run=lambda s: s[1].refresh(), resume=resume,
        digest=digest, want=want,
    )
    for b in batches:
        b.unpersist()


def test_kill_points_expire_snapshots(spark, tmp_root, lww_events, kill_seam, capsys):
    """Vacuum: a crash mid-expiry never leaves a manifest that points at a
    deleted file; re-running the expiry finishes the job."""
    ev, events_dir = lww_events
    template = os.path.join(tmp_root, "template")
    t = _table(spark, template)
    replay(t, events_dir, merge_mode="cow")
    t.rebucket(3)  # a second full rewrite: the expiry then drops files
    head = t.manifest["seq"]

    def setup(tag):
        root = os.path.join(tmp_root, tag)
        shutil.copytree(template, root)
        return root

    def expire(root):
        LakeTable.load(spark, root).expire_snapshots(keep_last=2)

    def digest(root):
        t = LakeTable.load(spark, root)
        t.expire_snapshots(keep_last=2)  # idempotent: a finished run no-ops
        versions = sorted(os.listdir(os.path.join(root, "_manifest")))
        assert versions == [f"v{s:08d}.json" for s in (head - 1, head)]
        return (
            _digest(t.read(), COLS),
            _digest(t.at_version(head - 1).read(), COLS),
        )

    _sweep(
        "expire_snapshots", kill_seam, capsys,
        setup=setup, run=expire, resume=expire, digest=digest,
        want=(
            _digest(expected_final_state(ev), COLS),
            _digest(LakeTable.load(spark, template).at_version(head - 1).read(), COLS),
        ),
    )
