"""Session defaults and executor-side imports, checked without starting a
second session in this process."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from data_migration_validator_spark.session import default_cores

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_cores_follows_affinity_unless_pinned(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3


def test_cow_batch_with_package_importable_on_driver_only(tmp_path):
    """A copy-on-write batch runs with this package importable on the
    driver only: no commit step ships its code to a Python worker.  The
    driver gets it via sys.path only, from a cwd outside the checkout,
    with PYTHONPATH unset."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from data_migration_validator_spark.cdc import apply_batch, change_events
        from data_migration_validator_spark.lake import LakeTable
        from data_migration_validator_spark.session import get_spark

        spark = get_spark(cores=2, shuffle_partitions=4)
        t = LakeTable.create(
            spark, "t",
            [("repo", "string"), ("path", "string"), ("commit", "string"),
             ("lang", "string"), ("content", "string")],
            key_cols=["repo", "path"], num_buckets=2,
        )
        st = apply_batch(t, change_events(spark, 200, seed=5), batch_id=0,
                         merge_mode="cow")
        assert not st["skipped"] and t.has_batch(0)
        assert all("stats" in f for f in t.manifest["files"])
        print("ROWS", t.row_count())
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    p = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "ROWS" in p.stdout
