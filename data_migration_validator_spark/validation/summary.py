"""Validation summary: the 8-status conjunction of the reference
(``validation_sqls.py:24-63``; evaluators ``validation_summary.py:253-618``).

Each status is SUCCESS/FAILED; ``validation_status`` is SUCCESS iff all are.
Both entry points reduce their inputs to plain counts and feed the one
conjunction, :func:`_statuses`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schema_check import schema_failures


def _status(ok: bool) -> str:
    return "SUCCESS" if ok else "FAILED"


def _statuses(c: dict, schema: dict, excluded: set[str]) -> dict:
    """The conjunction over counts: ``c`` holds matches, mismatches,
    src_extras, tgt_extras, mismatched_columns, mismatched_columns_kept and
    both sides' pk_violations; ``schema`` is ``schema_check.schema_failures``."""
    statuses = {
        "row_count_status": _status(c["src_extras"] == 0 and c["tgt_extras"] == 0),
        "hash_match_status": _status(
            c["mismatches"] == 0 and c["src_extras"] == 0 and c["tgt_extras"] == 0
        ),
        "data_mismatch_status": _status(c["mismatched_columns"] == 0),
        "mismatches_after_exclusion_status": _status(
            c["mismatched_columns_kept"] == 0
        ),
        "extras_status": _status(c["src_extras"] == 0 and c["tgt_extras"] == 0),
        "primary_key_compliance_status": _status(
            c["src_pk_violations"] == 0 and c["tgt_pk_violations"] == 0
        ),
        "column_names_status": _status(schema["name_bad"] == 0),
        "ordinal_status": _status(schema["ord_bad"] == 0),
        "datatype_compatibility_status": _status(schema["compat_bad"] == 0),
    }
    if "comment_bad" in schema:
        statuses["comment_compare_status"] = _status(schema["comment_bad"] == 0)
    # final conjunction mirrors the reference's read side (validation_sqls.
    # py:24-63): the AFTER-EXCLUSION mismatch status gates the final verdict
    # — the raw hash/data-mismatch statuses are reported but, with exclusions
    # configured, an expected mismatch in an excluded audit column must not
    # fail the run.  Without exclusions the two statuses coincide, so the
    # historical behavior is unchanged.
    gating = [
        k
        for k in statuses
        if k not in ("data_mismatch_status", "hash_match_status")
        or not excluded
    ]
    statuses["validation_status"] = _status(
        all(statuses[k] == "SUCCESS" for k in gating)
    )
    statuses.update(
        {k: c[k] for k in ("matches", "mismatches", "src_extras", "tgt_extras")}
    )
    statuses["datatype_mismatch_columns"] = schema["dtype_bad"]
    return statuses


def summary_from_annotated(
    ann: DataFrame,
    compare_cols: list[str],
    pk_src: DataFrame,
    pk_tgt: DataFrame,
    schema: dict,
    mismatch_exclude_fields: list[str] | None = None,
) -> dict:
    """All summary statuses from ONE ``.collect()`` of ONE aggregated row:
    the annotated-frame counters and per-column mismatch bits cross-joined
    with both PK checks.  ``schema`` holds the failure counts of the
    driver-side schema checks (``schema_check.schema_checks``).  The
    annotated frame should be persisted by the caller — this is one of its
    many derivations.  A whole ``run_validation`` runs 9 Spark jobs on the
    budget test's input
    (``tests/test_job_budget.py::test_run_validation_job_budget``).

    ``mismatch_exclude_fields`` (reference ``validation_mapping.
    mismatch_exclude_fields``, README.md:199-205) feeds the separate
    ``mismatches_after_exclusion_status``: FAILED only when a NON-excluded
    column mismatches (``validation_summary.py:552-568``) — the excluded
    counter rides the same single aggregation, zero extra passes.
    """
    excluded = {c.lower() for c in (mismatch_exclude_fields or [])}
    aggs = [
        F.sum(F.when(F.col("status") == "MATCH", 1).otherwise(0)).alias("matches"),
        F.sum(F.when(F.col("status") == "MISMATCH", 1).otherwise(0)).alias("mismatches"),
        F.sum(F.when(F.col("status") == "SRC_EXTRA", 1).otherwise(0)).alias("src_extras"),
        F.sum(F.when(F.col("status") == "TGT_EXTRA", 1).otherwise(0)).alias("tgt_extras"),
    ]
    both = F.col("__s").isNotNull() & F.col("__t").isNotNull()
    bad_col = F.lit(0)
    bad_col_kept = F.lit(0)
    for c in compare_cols:
        bit = F.max(F.when(both & ~F.col(f"__eq_{c}"), 1).otherwise(0))
        bad_col = bad_col + bit
        if c.lower() not in excluded:
            bad_col_kept = bad_col_kept + bit
    aggs.append(bad_col.alias("mismatched_columns"))
    aggs.append(bad_col_kept.alias("mismatched_columns_kept"))
    row = (
        ann.agg(*aggs)
        .crossJoin(pk_src.select(F.col("pk_violations").alias("src_pk_violations")))
        .crossJoin(pk_tgt.select(F.col("pk_violations").alias("tgt_pk_violations")))
        .collect()[0]
        .asDict()
    )
    # empty frames aggregate to NULL sums/maxes
    return _statuses({k: v or 0 for k, v in row.items()}, schema, excluded)


def validation_summary(
    reconcile_counts_df: DataFrame,
    pk_src: DataFrame,
    pk_tgt: DataFrame,
    column_metrics: DataFrame,
    name_type: DataFrame,
    ordinal: DataFrame,
    compatibility: DataFrame,
    mismatch_exclude_fields: list[str] | None = None,
) -> dict:
    """Evaluate all statuses; returns a plain dict (one summary row).

    Mirrors the reference's evaluators:
    - row_count / extras / hash-match from the reconcile counts
      (validation_summary.py:58-117 row counts; 253-276 anomalies),
    - primary_key_compliance: count==count-distinct (SUM:263),
    - data_mismatch: count_if(mismatches != 0) over columns (SUM:552-568),
    - column_names / ordinal / datatype / compatibility (SUM:309-506).
    Every input is a one-row aggregate or one row per column: each is
    collected and counted on the driver.
    """
    # empty inputs: aggregates over zero rows are NULL, and None == 0 is
    # False — two identical EMPTY tables would report FAILED everywhere and
    # persist_summary's int(None) would raise
    c = {k: v or 0 for k, v in reconcile_counts_df.collect()[0].asDict().items()}
    c["src_pk_violations"] = pk_src.collect()[0]["pk_violations"]
    c["tgt_pk_violations"] = pk_tgt.collect()[0]["pk_violations"]
    excluded = {x.lower() for x in (mismatch_exclude_fields or [])}
    bad_cols = [r["column_name"] for r in column_metrics.collect() if r["mismatches"]]
    c["mismatched_columns"] = len(bad_cols)
    c["mismatched_columns_kept"] = sum(n.lower() not in excluded for n in bad_cols)
    schema = schema_failures(
        ordinal.collect(),
        name_type.collect(),
        compatibility.collect(),
        "comment_compare" in name_type.columns,
    )
    return _statuses(c, schema, excluded)
