"""The reference's five golden scenarios (sample_data.py:7-178) translated
to the CDC engine (FIXTURES.md §F3): each is (stream → replay → validate →
expected verdict)."""

import os

import pytest

from pyspark.sql import functions as F

from data_migration_validator_spark.cdc import (
    apply_batch,
    change_events,
    expected_final_state,
    replay,
    write_events_batched,
)
from data_migration_validator_spark.lake import LakeTable
from data_migration_validator_spark.validation import (
    primary_key_validation,
    reconcile_counts,
    run_validation,
)

SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]

PAYLOAD = ["commit", "lang", "content"]


def _replayed(spark, tmp_root, n=1500, seed=21):
    ev = change_events(spark, n, n_repos=10, seed=seed, batch_size=500)
    write_events_batched(ev, os.path.join(tmp_root, "events"))
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), SCHEMA, key_cols=["repo", "path"],
        num_buckets=4,
    )
    replay(t, os.path.join(tmp_root, "events"))
    return t, expected_final_state(ev)


def test_scenario_all_match(spark, tmp_root):
    """all_match (sample_data.py:7-33): clean replay → every status SUCCESS."""
    t, oracle = _replayed(spark, tmp_root)
    reports = run_validation(t.read(), oracle, ["repo", "path"], PAYLOAD)
    assert reports["summary"]["validation_status"] == "SUCCESS"


def test_scenario_pk_violation(spark, tmp_root):
    """pk_violation (sample_data.py:39-68): a duplicated key in the RAW
    stream is flagged by count-vs-count-distinct, while the engine output
    stays PK-clean (dedup is deterministic)."""
    ev = change_events(spark, 1000, n_repos=10, seed=33, batch_size=500)
    raw = ev.filter(F.col("op") != "schema")
    pk_raw = primary_key_validation(raw, ["repo", "path"]).collect()[0]
    assert pk_raw["pk_violations"] > 0  # stream has many events per key
    t, _ = _replayed(spark, tmp_root, n=1000, seed=33)
    pk_out = primary_key_validation(t.read(), ["repo", "path"]).collect()[0]
    assert pk_out["pk_violations"] == 0


def test_scenario_data_mismatch(spark, tmp_root):
    """data_mismatch (sample_data.py:105-138): corrupt exactly one row
    post-hoc → validator reports exactly that key as a content mismatch."""
    t, oracle = _replayed(spark, tmp_root)
    victim = t.read().orderBy("repo", "path").first()
    corrupted = t.read().withColumn(
        "content",
        F.when(
            (F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"]),
            F.lit("CORRUPTED"),
        ).otherwise(F.col("content")),
    )
    rc = reconcile_counts(corrupted, oracle, ["repo", "path"], PAYLOAD).collect()[0]
    assert rc["mismatches"] == 1 and rc["src_extras"] == 0 and rc["tgt_extras"] == 0
    reports = run_validation(corrupted, oracle, ["repo", "path"], PAYLOAD)
    bad = reports["mismatch_rows"].collect()
    assert {(r["repo"], r["path"]) for r in bad} == {(victim["repo"], victim["path"])}
    assert reports["summary"]["data_mismatch_status"] == "FAILED"


def test_scenario_extras(spark, tmp_root):
    """extras (sample_data.py:145-178): drop one row from one side and
    inject one alien row into the other → exactly 1 extra per side."""
    t, oracle = _replayed(spark, tmp_root)
    victim = t.read().orderBy("repo", "path").first()
    engine = t.read().filter(
        ~((F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"]))
    )
    alien = spark.createDataFrame(
        [("org9/alien", "src/x/alien.py", "c0ffee", "py", "ALIEN")],
        "repo string, path string, commit string, lang string, content string",
    )
    engine = engine.unionByName(alien)
    rc = reconcile_counts(engine, oracle, ["repo", "path"], PAYLOAD).collect()[0]
    assert rc["src_extras"] == 1 and rc["tgt_extras"] == 1 and rc["mismatches"] == 0


def test_scenario_schema_evolution(spark, tmp_root):
    """schema_data_mismatch analog (sample_data.py:75-100): add → rename →
    widen through the stream; old rows stay readable; final schema matches."""
    n = 1200
    ev = change_events(
        spark, n, n_repos=8, seed=44, batch_size=300,
        schema_change_at={
            300: '{"action":"add_column","name":"stars","type":"int"}',
            600: '{"action":"rename_column","from":"lang","to":"language"}',
            900: '{"action":"widen_type","name":"stars","to":"bigint"}',
        },
    )
    write_events_batched(ev, os.path.join(tmp_root, "events"))
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), SCHEMA, key_cols=["repo", "path"],
        num_buckets=4,
    )
    replay(t, os.path.join(tmp_root, "events"))
    cols = t.read().columns
    assert "language" in cols and "lang" not in cols and "stars" in cols
    assert t.schema.field_by_name("stars").type == "bigint"
    # payload equivalence vs oracle (renamed column maps by field id)
    oracle = expected_final_state(ev).withColumnRenamed("lang", "language")
    rc = reconcile_counts(
        t.read().select("repo", "path", "commit", "language", "content"),
        oracle,
        ["repo", "path"],
        ["commit", "language", "content"],
    ).collect()[0]
    assert rc["mismatches"] == 0 and rc["src_extras"] == 0 and rc["tgt_extras"] == 0


def test_schema_evolution_idempotent_under_crash_retry(spark, tmp_root, kill_seam):
    """Crash window: schema evolution committed its manifests but the
    process died before the MERGE's manifest link (the commit that records
    the batch).  Redelivery must no-op the already-applied actions (add
    exists / rename done / widen done) instead of raising and wedging the
    stream, and the final state must match the clean-run oracle."""
    from conftest import Crash, link_into

    n = 600
    ev = change_events(
        spark, n, n_repos=8, seed=45, batch_size=600,
        schema_change_at={
            100: '{"action":"add_column","name":"stars","type":"int"}',
            200: '{"action":"rename_column","from":"lang","to":"language"}',
            300: '{"action":"widen_type","name":"stars","to":"bigint"}',
        },
    )
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), SCHEMA, key_cols=["repo", "path"],
        num_buckets=4,
    )
    # links 1-3 commit the three schema changes; die at the MERGE's link
    kill_seam.arm(kill_at=4, match=link_into(t.root))
    with pytest.raises(Crash):
        apply_batch(t, ev, batch_id=0)
    kill_seam.disarm()
    t = LakeTable.load(spark, t.root)
    assert t.schema.field_by_name("stars").type == "bigint"
    assert not t.has_batch(0)
    apply_batch(t, ev, batch_id=0)  # must not raise
    t2 = LakeTable.load(spark, t.root)
    assert t2.schema.field_by_name("stars").type == "bigint"
    oracle = expected_final_state(ev).withColumnRenamed("lang", "language")
    rc = reconcile_counts(
        t2.read().select("repo", "path", "commit", "language", "content"),
        oracle,
        ["repo", "path"],
        ["commit", "language", "content"],
    ).collect()[0]
    assert rc["mismatches"] == 0 and rc["src_extras"] == 0 and rc["tgt_extras"] == 0


def test_cow_survives_key_and_bucket_column_rename(spark, tmp_root):
    """Copy-on-write batches after a rename of the bucket-source/key column
    must keep applying (key/bucket expressions resolve by field id, like the
    merge-on-read path)."""
    from pyspark.sql import functions as F

    ev1 = change_events(
        spark, 400, n_repos=8, seed=46, batch_size=400,
        schema_change_at={
            200: '{"action":"rename_column","from":"repo","to":"repository"}',
        },
    )
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), SCHEMA, key_cols=["repo", "path"],
        num_buckets=4,
    )
    apply_batch(t, ev1, batch_id=0, merge_mode="cow")
    ev2 = change_events(
        spark, 200, n_repos=8, seed=46, batch_size=200
    ).withColumn("event_seq", F.col("event_seq") + 400)
    apply_batch(t, ev2, batch_id=1, merge_mode="cow")  # post-rename batch

    t2 = LakeTable.load(spark, t.root)
    oracle = expected_final_state(
        ev1.unionByName(ev2.withColumn("batch_hint", F.lit(1)))
    ).withColumnRenamed("repo", "repository")
    rc = reconcile_counts(
        t2.read(), oracle, ["repository", "path"],
        ["commit", "lang", "content"],
    ).collect()[0]
    assert rc["mismatches"] == 0 and rc["src_extras"] == 0 and rc["tgt_extras"] == 0
