"""End-to-end validation pipeline: the reference's per-table-family
``trigger_validation`` sequence (migration-data-validation.py:1707-2000) as
one composable function over two DataFrames.

Stages (each optional via flags, mirroring the reference's strategy switch
at migration-data-validation.py:1860-1868):

1. schema capture + ordinal/name-type/compatibility checks,
2. quick validation (digest prefilter) OR full reconcile,
3. primary-key validation both sides,
4. per-column mismatch metrics + row-level mismatch capture + extras,
5. windowed per-date validation (when a date column is given),
6. summary status conjunction (validation_sqls.py:24-63).

Unlike the reference there is no f-string SQL, no staging-table writes, and
no driver thread pool: each report is a DataFrame the caller materializes or
persists; inter-stage parallelism comes from Spark, not threads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bucket_reconcile import _bucket_expr, bucket_summary
from .checks import primary_key_validation
from .quick import quick_validate
from .reconcile import (
    addtnl_filter_metrics_from_annotated,
    annotated_comparison,
    column_metrics_from_annotated,
    counts_from_annotated,
    extras_from_annotated,
    filter_condition_from_annotated,
    mismatch_rows_from_annotated,
    windowed_from_annotated,
)
from .schema_check import schema_checks
from .summary import summary_from_annotated


def run_validation(
    src: DataFrame,
    tgt: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    date_col: str | None = None,
    quick: bool = False,
    bucket_short_circuit: int | None = None,
    mismatch_exclude_fields: list[str] | None = None,
    addtnl_filters: list | None = None,
) -> dict:
    """Run the full validation pipeline; returns a dict of report DataFrames
    plus the summary status dict under ``"summary"``.

    Cost model (the 100-TB shape): ONE full-outer join of src×tgt — the
    annotated frame, persisted under ``"annotated"`` — feeds reconcile
    counts, per-column metrics, row-level mismatches, extras both sides and
    windowed buckets as narrow derivations; PK validation scans each input
    once (agg only, no join); the schema checks run on the driver from the
    two StructTypes, with no Spark job.  The summary is the only action:
    on the budget test's three-column input a call runs 9 Spark jobs as AQE
    counts them, against 20 when the schema checks were Spark joins
    (``tests/test_job_budget.py::test_run_validation_job_budget``).  The
    reference issues 5-6 independent src×tgt joins for the same reports
    (migration-data-validation.py:887-1384).  Callers that materialize many
    reports should leave the annotated frame persisted until done, then
    ``reports["annotated"].unpersist()``.

    Reference config surface (README.md:199-253):
    ``mismatch_exclude_fields`` — columns whose mismatches are expected;
    they still count in the raw metrics, but the separate
    ``mismatches_after_exclusion_status`` (and the final verdict) ignores
    them.  ``addtnl_filters`` — a list of named slices, each an object/dict
    with ``filter_name``, ``filter`` (SQL over the annotated frame's
    ``<col>_src``/``<col>_tgt`` columns, "N/A" = unfiltered) and
    ``capture_mismatches``; per-slice per-column metrics land under
    ``"addtnl_filter_metrics"`` (ONE extra aggregation over the SAME
    persisted annotated frame — zero extra joins), and slices flagged
    ``capture_mismatches`` get row-level captures under
    ``"addtnl_mismatch_rows"[filter_name]``.

    ``bucket_short_circuit=N`` removes even that one join at steady state:
    a per-bucket digest pass (validation/bucket_reconcile.py — narrow scans,
    one ≤N-row exchange per side) finds the buckets whose multisets differ,
    and the annotated join runs over THOSE buckets only.  Clean buckets'
    rows are folded back into the counts/metrics/windowed reports as
    matches (which, per the digest guarantee, they are); anomaly-row
    reports are complete as-is because clean buckets contain none.  When
    the tables agree the join input is empty — validation cost becomes two
    narrow scans, whatever the table size.
    """
    spark = src.sparkSession
    if compare_cols is None:
        compare_cols = [
            c for c in src.columns if c in set(tgt.columns) and c not in key_cols
        ]
    if addtnl_filters and bucket_short_circuit:
        # slice metrics must see EVERY overlap row that satisfies the
        # filter; the short-circuited annotated frame omits clean buckets,
        # so combining the two would silently under-count — fail loudly.
        raise ValueError(
            "addtnl_filters cannot be combined with bucket_short_circuit"
        )

    schema_reports, schema_bad = schema_checks(spark, src.schema, tgt.schema)

    # PK validation always scans the FULL sides: it is per-side (no join),
    # and a same-key/different-payload duplicate pair does not cancel in the
    # bucket digests anyway.
    pk_src = primary_key_validation(src, key_cols)
    pk_tgt = primary_key_validation(tgt, key_cols)

    clean_matches = 0
    clean_src = None  # clean-bucket slice of src (for windowed correction)
    jsrc, jtgt = src, tgt
    if bucket_short_circuit:
        bs = bucket_summary(
            src, tgt, key_cols, compare_cols, bucket_short_circuit
        ).collect()
        bad_ids = [int(r["bucket"]) for r in bs if not r["bucket_match"]]
        clean_matches = sum(
            r["src_rows"] for r in bs if r["bucket_match"] and r["src_rows"]
        )
        bexpr = _bucket_expr(key_cols, bucket_short_circuit)
        if bad_ids:
            jsrc = src.filter(bexpr.isin(bad_ids))
            jtgt = tgt.filter(bexpr.isin(bad_ids))
            clean_src = src.filter(~bexpr.isin(bad_ids))
        else:
            jsrc, jtgt = src.limit(0), tgt.limit(0)
            clean_src = src

    ann = annotated_comparison(jsrc, jtgt, key_cols, compare_cols, date_col).persist()
    try:
        return _assemble_reports(
            ann, src, tgt, jsrc, jtgt, key_cols, compare_cols, date_col,
            quick, bucket_short_circuit, clean_matches, clean_src,
            schema_reports, schema_bad, pk_src, pk_tgt,
            mismatch_exclude_fields, addtnl_filters,
        )
    except Exception:
        # the persist belongs to this function: a failure after it (bad
        # date_col expression, collect error) must not leak the cached
        # src x tgt join for the session lifetime
        ann.unpersist()
        raise


def _assemble_reports(
    ann, src, tgt, jsrc, jtgt, key_cols, compare_cols, date_col,
    quick, bucket_short_circuit, clean_matches, clean_src,
    schema_reports, schema_bad, pk_src, pk_tgt,
    mismatch_exclude_fields=None, addtnl_filters=None,
):
    counts = counts_from_annotated(ann)
    col_metrics = column_metrics_from_annotated(ann, compare_cols)
    if bucket_short_circuit:
        # fold clean-bucket rows back in as matches; an all-clean run has an
        # EMPTY annotated frame whose sums are NULL — coalesce them to 0
        def _z(c):
            return F.coalesce(F.col(c), F.lit(0)).cast("long")

        add = F.lit(clean_matches)
        counts = counts.withColumns(
            {
                "matches": _z("matches") + add,
                "mismatches": _z("mismatches"),
                "src_extras": _z("src_extras"),
                "tgt_extras": _z("tgt_extras"),
            }
        )
        col_metrics = col_metrics.withColumns(
            {
                "total_overlaps": _z("total_overlaps") + add,
                "matches": _z("matches") + add,
                "mismatches": _z("mismatches"),
                "src_extras": _z("src_extras"),
                "tgt_extras": _z("tgt_extras"),
            }
        )

    reports: dict = {
        "annotated": ann,
        **schema_reports,
        "reconcile_counts": counts,
        "column_metrics": col_metrics,
        "pk_src": pk_src,
        "pk_tgt": pk_tgt,
    }
    if addtnl_filters:
        created_views: list[str] = []
        compiled = [
            (
                f["filter_name"] if isinstance(f, dict) else f.filter_name,
                filter_condition_from_annotated(
                    ann,
                    f["filter"] if isinstance(f, dict) else f.filter,
                    created_views,
                ),
            )
            for f in addtnl_filters
        ]
        reports["addtnl_filter_metrics"] = addtnl_filter_metrics_from_annotated(
            ann, compare_cols, compiled
        )
        captures = {}
        for f, (name, cond) in zip(addtnl_filters, compiled):
            cap = (
                f.get("capture_mismatches")
                if isinstance(f, dict)
                else f.capture_mismatches
            )
            if cap and cond is not None:
                captures[name] = mismatch_rows_from_annotated(
                    ann.filter(cond), key_cols, compare_cols
                )
        if captures:
            reports["addtnl_mismatch_rows"] = captures
        # every frame referencing a {full_outer_table} subquery is now
        # constructed (analysis is eager — the view is inlined into each
        # resolved plan), so the catalog entries can go: repeated
        # run_validation calls must not accumulate leaked temp views
        for v in created_views:
            ann.sparkSession.catalog.dropTempView(v)

    if quick:
        reports["quick"] = quick_validate(jsrc, jtgt, key_cols, compare_cols)
    else:
        reports["mismatch_rows"] = mismatch_rows_from_annotated(
            ann, key_cols, compare_cols
        )
        src_only, tgt_only = extras_from_annotated(ann, key_cols, compare_cols)
        reports["src_extras_rows"] = src_only
        reports["tgt_extras_rows"] = tgt_only
    if date_col is not None:
        windowed = windowed_from_annotated(ann)
        if clean_src is not None:
            # clean buckets are all-MATCH: their per-date counts (one narrow
            # agg of src only) fold into both sides' counts
            clean_dates = (
                clean_src.groupBy(F.to_date(F.col(date_col)).alias("bucket_date"))
                .agg(F.count(F.lit(1)).alias("src_count"))
                .withColumns(
                    {
                        "tgt_count": F.col("src_count"),
                        "src_extras": F.lit(0).cast("long"),
                        "tgt_extras": F.lit(0).cast("long"),
                        "mismatched_rows": F.lit(0).cast("long"),
                    }
                )
            )
            windowed = (
                windowed.unionByName(clean_dates)
                .groupBy("bucket_date")
                .agg(
                    F.sum("src_count").alias("src_count"),
                    F.sum("tgt_count").alias("tgt_count"),
                    F.sum("src_extras").alias("src_extras"),
                    F.sum("tgt_extras").alias("tgt_extras"),
                    F.sum("mismatched_rows").alias("mismatched_rows"),
                )
                .orderBy("bucket_date")
            )
        reports["windowed"] = windowed

    summary = summary_from_annotated(
        ann, compare_cols, pk_src, pk_tgt, schema_bad,
        mismatch_exclude_fields=mismatch_exclude_fields,
    )
    if clean_matches:
        summary["matches"] += clean_matches
    reports["summary"] = summary
    return reports
