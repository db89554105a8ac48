"""spark-submit job drivers: CDC ingest (batch + stream) and the
config-driven validation job, driven end-to-end in-process."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script, *args):
    """Run a driver with plain python (same interpreter spark-submit would
    exec); returns the last JSON lines printed."""
    env = dict(os.environ, PYTHONPATH=REPO)
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", script), *args],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]


def test_cdc_job_batch_then_rerun_noop(spark, tmp_root):
    from pyspark.sql import functions as F

    from data_migration_validator_spark.cdc import change_events, write_events_batched

    events_dir = os.path.join(tmp_root, "events")
    table_root = os.path.join(tmp_root, "table")
    dlq_root = os.path.join(tmp_root, "dlq")
    ev = change_events(spark, 2_000, n_repos=20, seed=5, batch_size=1_000)
    # a slice of unknown ops: must land in the dead-letter table, not the lake
    ev = ev.withColumn(
        "op",
        F.when(F.col("event_seq") % 97 == 0, F.lit("truncate")).otherwise(
            F.col("op")
        ),
    )
    write_events_batched(ev, events_dir)

    out = _run(
        "run_cdc_job.py",
        "--events-dir", events_dir,
        "--table-root", table_root,
        "--lineage-root", os.path.join(tmp_root, "lineage"),
        "--quarantine-root", dlq_root,
        "--num-buckets", "4",
    )
    assert out[-1]["batches_applied"] == 2 and out[-1]["mode"] == "batch"
    assert out[-1]["rows_quarantined"] == 21  # ceil(2000/97)
    # rerun: the manifest's batch set makes it a no-op; quarantine count unchanged
    out2 = _run(
        "run_cdc_job.py", "--events-dir", events_dir, "--table-root", table_root,
        "--quarantine-root", dlq_root,
    )
    assert out2[-1]["batches_applied"] == 0 and out2[-1]["batches_skipped"] == 0
    assert out2[-1]["rows_quarantined"] == 21


def test_cdc_job_with_incremental_view(spark, tmp_root):
    from pyspark.sql import functions as F

    from data_migration_validator_spark.cdc import change_events, write_events_batched
    from data_migration_validator_spark.lake import LakeTable

    events_dir = os.path.join(tmp_root, "events")
    table_root = os.path.join(tmp_root, "table")
    view_root = os.path.join(tmp_root, "view")
    ev = change_events(spark, 2_000, n_repos=20, seed=11, batch_size=1_000)
    write_events_batched(ev, events_dir)

    out = _run(
        "run_cdc_job.py",
        "--events-dir", events_dir, "--table-root", table_root,
        "--view-root", view_root, "--view-group", "lang",
        "--num-buckets", "4",
    )
    assert out[-1]["view"]["skipped"] is False

    # the maintained view equals the direct aggregate of the final table
    table = LakeTable.load(spark, table_root)
    view = LakeTable.load(spark, view_root)
    got = {r["lang"]: r["n_rows"] for r in view.read().collect()}
    want = {
        r["lang"]: r["n"]
        for r in table.read().groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and got

    # rerun: replay no-ops AND the view refresh is a clean skip
    out2 = _run(
        "run_cdc_job.py",
        "--events-dir", events_dir, "--table-root", table_root,
        "--view-root", view_root, "--view-group", "lang",
    )
    assert out2[-1]["batches_applied"] == 0
    assert out2[-1]["view"]["skipped"] is True

    # --view-sums without --view-root is rejected up front (it used to be
    # silently ignored), and rerunning an existing view with a DIFFERENT
    # grouping than it was defined with is an error, not a silent override
    env = dict(os.environ, PYTHONPATH=REPO)
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_cdc_job.py"),
         "--events-dir", events_dir, "--table-root", table_root,
         "--view-sums", "size"],
        capture_output=True, text=True, env=env, cwd=REPO,
    )
    assert p.returncode != 0 and "--view-sums requires --view-root" in p.stderr
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_cdc_job.py"),
         "--events-dir", events_dir, "--table-root", table_root,
         "--view-root", view_root, "--view-group", "repo"],
        capture_output=True, text=True, env=env, cwd=REPO,
    )
    assert p.returncode != 0 and "must match" in p.stderr


def test_validation_job_end_to_end(spark, tmp_root):
    data_dir = os.path.join(tmp_root, "data")
    os.makedirs(data_dir)
    base = spark.createDataFrame(
        [(i, i * 2.0) for i in range(50)], "id long, amt double"
    )
    base.write.parquet(os.path.join(data_dir, "t_src.parquet"))
    base.limit(45).write.parquet(os.path.join(data_dir, "t_tgt.parquet"))

    mapping_csv = os.path.join(tmp_root, "map.csv")
    with open(mapping_csv, "w") as f:
        f.write(
            "table_family,src_table,tgt_table,key_cols,compare_cols,filter,"
            "date_col,quick_validation,is_active\n"
            "fam_t,t_src,t_tgt,id,,,,false,true\n"
        )
    out = _run(
        "run_validation_job.py",
        "--mapping-csv", mapping_csv,
        "--data-dir", data_dir,
        "--metrics-root", os.path.join(tmp_root, "metrics"),
        "--run-id", "rj1",
    )
    row = out[-1]
    assert row["table_family"] == "fam_t"
    assert row["final_validation_status"] == "FAILED"  # 5 src extras
    assert row["src_extras"] == 5 and row["mismatches"] == 0

    # same pair through the digest-first short-circuit path: identical verdict
    out_sc = _run(
        "run_validation_job.py",
        "--mapping-csv", mapping_csv,
        "--data-dir", data_dir,
        "--metrics-root", os.path.join(tmp_root, "metrics_sc"),
        "--run-id", "r2",
        "--bucket-short-circuit", "64",
    )
    row_sc = out_sc[-1]
    assert row_sc["final_validation_status"] == "FAILED"
    assert row_sc["src_extras"] == 5 and row_sc["mismatches"] == 0


def test_cdc_job_stream_mode_with_gate_and_mor(spark, tmp_root):
    """Stream-mode driver: availableNow pass with the ordering gate and
    merge-on-read deltas; rerun from the same checkpoint is a no-op; a
    row-level redelivery under new file names is absorbed by the gate."""
    from data_migration_validator_spark.cdc import (
        change_events,
        expected_final_state,
        write_events_batched,
    )
    from data_migration_validator_spark.lake import LakeTable
    from data_migration_validator_spark.validation import reconcile_counts

    events_dir = os.path.join(tmp_root, "events")
    table_root = os.path.join(tmp_root, "table")
    ckpt = os.path.join(tmp_root, "ckpt")
    ev = change_events(spark, 2_000, n_repos=20, seed=7, batch_size=1_000)
    write_events_batched(ev, events_dir)

    args = (
        "--events-dir", events_dir, "--table-root", table_root,
        "--checkpoint-dir", ckpt, "--mode", "stream",
        "--num-buckets", "4", "--merge-mode", "mor",
        "--ordering-gate", "--compact-ratio", "0.5",
    )
    out = _run("run_cdc_job.py", *args)
    assert out[-1]["mode"] == "stream" and out[-1]["rows"] > 0

    # redeliver half the stream as new files, rerun: state must not change
    ev.filter("event_seq < 1000").write.mode("append").parquet(
        os.path.join(events_dir, "redelivered")
    )
    out2 = _run("run_cdc_job.py", *args)
    assert out2[-1]["rows"] == out[-1]["rows"]

    table = LakeTable.load(spark, table_root)
    counts = reconcile_counts(
        expected_final_state(ev), table.read(), key_cols=["repo", "path"]
    ).collect()[0]
    assert counts["mismatches"] == 0
    assert counts["src_extras"] == 0 and counts["tgt_extras"] == 0
