"""Checked numbers for the "no Spark work" and "ONE write action"
docstrings: jobs counted per call through a job group, as Spark reports
them (AQE may split one action into several jobs), with the UI off.  Also
checks that the small driver-side frames on hot paths carry no Python
worker in their lineage."""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql import functions as F

from data_migration_validator_spark.lake import LakeTable
from data_migration_validator_spark.validation.schema_check import (
    schema_checks,
    schema_store,
)

SCHEMA = [("k", "bigint"), ("g", "string"), ("v", "bigint")]

# jobs a clean merge(mode="mor", count_deletes=False) ran before the
# applied-batch set moved into the manifest (the delta write: one shuffle
# map job + one write job under AQE)
MOR_MERGE_JOBS = 2

# jobs one run_validation of _validation_pair ran once the schema checks
# moved onto the driver (20 when they ran as Spark joins)
RUN_VALIDATION_JOBS = 9


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    gid = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _changes(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") * 3).alias("v"),
        F.when(F.col("id") % 10 == 0, "delete").otherwise("upsert").alias("op"),
    )


def _table(spark, tmp_root, name="t"):
    return LakeTable.create(
        spark, os.path.join(tmp_root, name), SCHEMA, key_cols=["k"],
        num_buckets=4,
    )


def test_mor_merge_and_has_batch_job_budget(spark, tmp_root):
    t = _table(spark, tmp_root)
    t.merge(_changes(spark, 0, 2000), batch_id=0, mode="mor", count_deletes=False)
    for i in (1, 2):
        st, n = _jobs(spark, lambda: t.merge(
            _changes(spark, i * 500, 2000), batch_id=i, mode="mor",
            count_deletes=False,
        ))
        assert not st["skipped"]
        assert n <= MOR_MERGE_JOBS, f"clean MOR merge ran {n} jobs"
    assert _jobs(spark, lambda: t.has_batch(2)) == (True, 0)
    assert _jobs(spark, lambda: t.has_batch(3)) == (False, 0)
    # a redelivered batch is skipped before any Spark work
    st, n = _jobs(spark, lambda: t.merge(
        _changes(spark, 0, 10), batch_id=1, mode="mor", count_deletes=False
    ))
    assert st["skipped"] and n == 0


def test_commit_staged_deltas_runs_no_job(spark, tmp_root):
    t = _table(spark, tmp_root)
    stage = os.path.join(tmp_root, "stage")
    (
        _changes(spark, 0, 40)
        .withColumn("__op", F.when(F.col("op") == "delete", "d").otherwise("u"))
        .drop("op")
        .withColumn("__bucket", t.bucket_expr())
        .write.partitionBy("__bucket").parquet(stage)
    )
    files = [
        (p, int(p.split("__bucket=")[1].split(os.sep)[0]))
        for p in glob.glob(os.path.join(stage, "__bucket=*", "*.parquet"))
    ]
    st, n = _jobs(spark, lambda: t.commit_staged_deltas(files, batch_id=7))
    assert n == 0 and not st["skipped"]
    assert t.has_batch(7)
    # deletes are tombstones against an empty table: upserts remain
    assert t.read().count() == 36


def test_driver_side_frames_run_no_python_worker(spark, tmp_root):
    """Small frames built on the driver (schema checks on every
    run_validation, the MERGE prune probe, the empty-table read) go
    through the Arrow path: no PythonRDD in their lineage."""
    from data_migration_validator_spark.session import local_frame

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    t = _table(spark, tmp_root)
    schema_frames, _ = schema_checks(spark, t.read().schema, t.read().schema)
    frames = {
        "schema_store": schema_store(spark, t.read().schema, "src"),
        **schema_frames,
        "prune_probe": local_frame(
            spark, [("data/f.parquet", 1, 3, None, True)],
            "__path string, __fb int, __lo bigint, __hi bigint, __open boolean",
        ),
        "empty_read": t.read(),
    }
    for name, df in frames.items():
        assert "PythonRDD" not in lineage(df), name
    assert frames["prune_probe"].collect()[0]["__hi"] is None
    assert frames["schema_store"].count() == len(SCHEMA)


def test_lineage_frame_runs_no_python_worker(spark, tmp_root, monkeypatch):
    """A batch applied with a lineage table builds its lineage rows on the
    driver: the frame appended to the lineage table has no PythonRDD."""
    from data_migration_validator_spark.cdc import apply_batch, change_events
    from data_migration_validator_spark.cdc.apply import make_lineage_table

    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"),
        [("repo", "string"), ("path", "string"), ("commit", "string"),
         ("lang", "string"), ("content", "string")],
        key_cols=["repo", "path"], num_buckets=4,
    )
    lin = make_lineage_table(spark, os.path.join(tmp_root, "lineage"))
    appended = []
    real_append = lin.append

    def append(df):
        appended.append(df)
        real_append(df)

    monkeypatch.setattr(lin, "append", append)
    events = change_events(spark, 400, n_repos=8, paths_per_repo=10, seed=3)
    apply_batch(t, events, batch_id=0, lineage=lin)
    assert len(appended) == 1
    plan = appended[0]._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in plan
    assert lin.read().count() == appended[0].count() > 0


def _validation_pair(spark):
    """2,000 keys a side: 49 payload mismatches, 10 extras each way."""
    base = spark.range(0, 2010).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") * 3).alias("v"),
    )
    src = base.filter("k < 2000")
    tgt = base.filter("k >= 10").withColumn(
        "v", F.when(F.col("k") % 40 == 0, -1).otherwise(F.col("v"))
    )
    return src, tgt


def test_run_validation_job_budget(spark, monkeypatch):
    """run_validation's Spark jobs, counted: the schema checks run on the
    driver, so the summary's one collect() carries only the annotated
    aggregate and the two PK rows — no schema frame (LocalTableScan) feeds
    its plan."""
    from data_migration_validator_spark.validation import run_validation

    src, tgt = _validation_pair(spark)
    collected = []
    real_collect = type(src).collect

    def collect(df):
        collected.append(df)
        return real_collect(df)

    monkeypatch.setattr(type(src), "collect", collect)
    reports, n = _jobs(spark, lambda: run_validation(src, tgt, ["k"]))
    try:
        s = reports["summary"]
        assert (s["matches"], s["mismatches"]) == (1941, 49)
        assert (s["src_extras"], s["tgt_extras"]) == (10, 10)
        assert s["datatype_compatibility_status"] == "SUCCESS"
        assert n <= RUN_VALIDATION_JOBS, f"run_validation ran {n} jobs"
        assert len(collected) == 1
        plan = collected[0]._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" not in plan, plan
    finally:
        reports["annotated"].unpersist()
