"""Validation job driver — the engine's trigger_validation analog
(migration-data-validation.py:1707-2181) as a spark-submit entry point.

    spark-submit --py-files pkg.zip scripts/run_validation_job.py \
        --mapping-csv conf/mappings.csv --data-dir /data/tables \
        --metrics-root /lake/_metrics --run-id 2026-08-17T10:00

Reads the mapping config (table_family, src_table, tgt_table, '|'-joined
key_cols, optional compare_cols/filter/date_col, quick/is_active flags),
resolves each configured table name to ``<data-dir>/<name>.parquet``, runs
the full validation pipeline per active pair, and persists summary + per-
stage log + per-column metrics LakeTables under ``--metrics-root``.  The
summary conjunction (the dashboard's headline view) prints as one JSON
line per pair.
"""

from __future__ import annotations

import argparse
import json

from data_migration_validator_spark.session import get_spark, submitted_conf
from data_migration_validator_spark.validation import (
    load_mappings_csv,
    make_anomaly_table,
    make_column_metrics_table,
    make_log_table,
    make_pk_table,
    make_profile_table,
    make_summary_table,
    make_windowed_table,
    run_mappings,
    summary_conjunction,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mapping-csv", required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--metrics-root", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--bucket-short-circuit", type=int, default=None,
                    help="digest-first reconcile with N buckets: the wide "
                         "src x tgt join runs only over buckets whose "
                         "aggregate digests differ")
    ap.add_argument("--profile", action="store_true",
                    help="persist per-side column-profile snapshots "
                         "(HLL single pass) for cross-run drift reports")
    args = ap.parse_args()

    spark = get_spark("validation_job", extra_conf=submitted_conf())
    mappings = load_mappings_csv(spark, args.mapping_csv)
    summary_t = make_summary_table(spark, f"{args.metrics_root}/summary")
    log_t = make_log_table(spark, f"{args.metrics_root}/log")
    metrics_t = make_column_metrics_table(spark, f"{args.metrics_root}/column_metrics")
    anomaly_t = make_anomaly_table(spark, f"{args.metrics_root}/anomalies")
    windowed_t = make_windowed_table(spark, f"{args.metrics_root}/windowed")
    pk_t = make_pk_table(spark, f"{args.metrics_root}/pk")
    profile_t = (
        make_profile_table(spark, f"{args.metrics_root}/profiles")
        if args.profile else None
    )

    run_mappings(
        spark,
        mappings,
        resolve=lambda name: spark.read.parquet(f"{args.data_dir}/{name}.parquet"),
        run_id=args.run_id,
        summary_table=summary_t,
        log_table=log_t,
        column_metrics_table=metrics_t,
        anomaly_table=anomaly_t,
        windowed_table=windowed_t,
        pk_table=pk_t,
        profile_table=profile_t,
        bucket_short_circuit=args.bucket_short_circuit,
    )

    from pyspark.sql import functions as F

    rows = (
        summary_conjunction(summary_t.read())
        .filter(F.col("run_id") == F.lit(args.run_id))
        .collect()
    )
    for r in rows:
        print(json.dumps({k: r[k] for k in r.asDict()}, default=str))


if __name__ == "__main__":
    main()
