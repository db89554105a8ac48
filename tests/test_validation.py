"""Validation suite vs the reference's five golden scenarios (SURVEY.md §5,
sample_data.py analogs): all_match, data_mismatch, extras, pk_violation,
schema drift — plus the summary conjunction."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_validator_spark.validation import (
    column_mismatch_metrics,
    extras,
    full_outer_report,
    hash_reconcile,
    name_type_check,
    ordinal_check,
    primary_key_validation,
    reconcile_counts,
    row_level_mismatches,
    schema_store,
    timeline,
    type_compatibility,
    validation_summary,
    windowed_validation,
)


@pytest.fixture(scope="module")
def pair(spark):
    """src/tgt with 1 mismatch (id=3, col b), 1 src-extra (id=10),
    1 tgt-extra (id=20)."""
    src = spark.createDataFrame(
        [(i, f"a{i}", f"b{i}") for i in range(1, 6)] + [(10, "a10", "b10")],
        "id long, a string, b string",
    )
    tgt = spark.createDataFrame(
        [(i, f"a{i}", f"b{i}" if i != 3 else "CORRUPT") for i in range(1, 6)]
        + [(20, "a20", "b20")],
        "id long, a string, b string",
    )
    return src, tgt


def test_reconcile_counts(pair):
    src, tgt = pair
    rc = reconcile_counts(src, tgt, ["id"]).collect()[0]
    assert (rc["matches"], rc["mismatches"], rc["src_extras"], rc["tgt_extras"]) == (4, 1, 1, 1)


def test_hash_reconcile_classification(pair):
    src, tgt = pair
    cls = {r["id"]: r["status"] for r in hash_reconcile(src, tgt, ["id"]).collect()}
    assert cls[3] == "MISMATCH" and cls[10] == "SRC_EXTRA" and cls[20] == "TGT_EXTRA"
    assert cls[1] == "MATCH"


def test_extras_anti_joins(pair):
    src, tgt = pair
    s_only, t_only = extras(src, tgt, ["id"])
    assert [r["id"] for r in s_only.collect()] == [10]
    assert [r["id"] for r in t_only.collect()] == [20]


def test_full_outer_report(pair):
    src, tgt = pair
    rep = full_outer_report(src, tgt, ["id"])
    row3 = rep.filter("id = 3").collect()[0]
    assert row3["b_src"] == "b3" and row3["b_tgt"] == "CORRUPT" and not row3["row_match"]
    row10 = rep.filter("id = 10").collect()[0]
    assert row10["b_tgt"] is None and not row10["row_match"]


def test_column_mismatch_metrics_one_pass(pair):
    src, tgt = pair
    m = {r["column_name"]: r for r in column_mismatch_metrics(src, tgt, ["id"]).collect()}
    assert m["a"]["mismatches"] == 0 and m["a"]["matches"] == 5
    assert m["b"]["mismatches"] == 1 and m["b"]["matches"] == 4
    assert m["b"]["total_overlaps"] == 5
    assert m["b"]["src_extras"] == 1 and m["b"]["tgt_extras"] == 1


def test_row_level_mismatches_except_all(pair):
    src, tgt = pair
    rows = row_level_mismatches(src, tgt, ["id"]).collect()
    assert {(r["id"], r["side"]) for r in rows} == {(3, "src"), (3, "tgt")}


def test_primary_key_validation(spark):
    df = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")], "k long, v string")
    r = primary_key_validation(df, ["k"]).collect()[0]
    assert (r["total_count"], r["distinct_count"], r["pk_violations"]) == (3, 2, 1)


def test_windowed_validation_and_timeline(spark):
    src = spark.createDataFrame(
        [(1, "2024-01-01", "x"), (2, "2024-01-01", "y"), (3, "2024-01-02", "z")],
        "id long, d string, v string",
    )
    tgt = spark.createDataFrame(
        [(1, "2024-01-01", "x"), (2, "2024-01-01", "CORRUPT"), (4, "2024-01-02", "w")],
        "id long, d string, v string",
    )
    out = {str(r["bucket_date"]): r for r in windowed_validation(src, tgt, ["id"], "d").collect()}
    d1, d2 = out["2024-01-01"], out["2024-01-02"]
    assert d1["src_count"] == 2 and d1["tgt_count"] == 2 and d1["mismatched_rows"] == 1
    assert d2["src_extras"] == 1 and d2["tgt_extras"] == 1
    tl = timeline(src, "d").collect()[0]
    assert str(tl["min_date"]) == "2024-01-01" and str(tl["max_date"]) == "2024-01-02"


def test_schema_checks_and_compatibility(spark):
    s_src = T.StructType.fromDDL("id bigint, name string, born date, salary int")
    s_tgt = T.StructType.fromDDL("id bigint, name string, born timestamp, salary string")
    src_store = schema_store(spark, s_src, "src")
    tgt_store = schema_store(spark, s_tgt, "tgt")

    ords = ordinal_check(src_store, tgt_store)
    assert ords.filter("ordinal_compare = 'MISMATCH'").count() == 0

    nt = name_type_check(src_store, tgt_store)
    bad = {r["col_key"] for r in nt.filter("datatype_compare = 'MISMATCH'").collect()}
    assert bad == {"born", "salary"}

    compat = type_compatibility(nt)
    by_col = {r["col_key"]: r["compatible"] for r in compat.collect()}
    # date->timestamp and int->string are legal widenings; names match
    assert by_col["born"] and by_col["salary"] and by_col["id"]

    # a narrowing shows as incompatible
    s_bad = T.StructType.fromDDL("id bigint, name string, born date, salary tinyint")
    nt2 = name_type_check(src_store, schema_store(spark, s_bad, "tgt"))
    compat2 = type_compatibility(nt2)
    assert not {r["col_key"]: r["compatible"] for r in compat2.collect()}["salary"]


def test_validation_summary_conjunction(spark, pair):
    src, tgt = pair
    st = T.StructType.fromDDL("id bigint, a string, b string")
    nt = name_type_check(schema_store(spark, st, "src"), schema_store(spark, st, "tgt"))
    summary = validation_summary(
        reconcile_counts(src, tgt, ["id"]),
        primary_key_validation(src, ["id"]),
        primary_key_validation(tgt, ["id"]),
        column_mismatch_metrics(src, tgt, ["id"]),
        nt,
        ordinal_check(schema_store(spark, st, "src"), schema_store(spark, st, "tgt")),
        type_compatibility(nt),
    )
    assert summary["validation_status"] == "FAILED"
    assert summary["primary_key_compliance_status"] == "SUCCESS"
    assert summary["data_mismatch_status"] == "FAILED"
    assert summary["mismatches"] == 1

    # all-match scenario → SUCCESS
    ok = validation_summary(
        reconcile_counts(src, src, ["id"]),
        primary_key_validation(src, ["id"]),
        primary_key_validation(src, ["id"]),
        column_mismatch_metrics(src, src, ["id"]),
        nt,
        ordinal_check(schema_store(spark, st, "src"), schema_store(spark, st, "tgt")),
        type_compatibility(nt),
    )
    assert ok["validation_status"] == "SUCCESS"


# ---------------------------------------------------------------------------
# single-shuffle annotated pipeline (VERDICT r2 ask #3)


def test_annotated_derivations_match_standalone_reports(pair):
    """Every report derived from the annotated frame must equal its
    standalone (per-report join) counterpart."""
    from data_migration_validator_spark.validation import (
        annotated_comparison,
        column_metrics_from_annotated,
        counts_from_annotated,
        extras_from_annotated,
        mismatch_rows_from_annotated,
    )

    src, tgt = pair
    cmp_cols = ["a", "b"]
    ann = annotated_comparison(src, tgt, ["id"], cmp_cols)

    want = reconcile_counts(src, tgt, ["id"], cmp_cols).collect()[0].asDict()
    got = counts_from_annotated(ann).collect()[0].asDict()
    assert got == want

    want_m = {
        r["column_name"]: r.asDict()
        for r in column_mismatch_metrics(src, tgt, ["id"], cmp_cols).collect()
    }
    got_m = {
        r["column_name"]: r.asDict()
        for r in column_metrics_from_annotated(ann, cmp_cols).collect()
    }
    assert got_m == want_m

    want_rows = sorted(
        tuple(r) for r in row_level_mismatches(src, tgt, ["id"], cmp_cols).collect()
    )
    got_rows = sorted(
        tuple(r) for r in mismatch_rows_from_annotated(ann, ["id"], cmp_cols).collect()
    )
    assert got_rows == want_rows

    s_only, t_only = extras_from_annotated(ann, ["id"], cmp_cols)
    assert [r["id"] for r in s_only.collect()] == [10]
    assert [r["id"] for r in t_only.collect()] == [20]


def test_annotated_windowed_matches_standalone(spark):
    src = spark.createDataFrame(
        [(1, "2024-01-01", "x"), (2, "2024-01-01", "y"), (3, "2024-01-02", "z")],
        "id long, d string, v string",
    )
    tgt = spark.createDataFrame(
        [(1, "2024-01-01", "x"), (2, "2024-01-01", "CORRUPT"), (4, "2024-01-02", "w")],
        "id long, d string, v string",
    )
    from data_migration_validator_spark.validation import (
        annotated_comparison,
        windowed_from_annotated,
    )

    ann = annotated_comparison(src, tgt, ["id"], ["d", "v"], date_col="d")
    want = {
        str(r["bucket_date"]): r.asDict(recursive=True)
        for r in windowed_validation(src, tgt, ["id"], "d").collect()
    }
    got = {
        str(r["bucket_date"]): r.asDict(recursive=True)
        for r in windowed_from_annotated(ann).collect()
    }
    assert got == want


def test_run_validation_single_join_plan(pair):
    """The annotated frame is the pipeline's ONE src×tgt join; every derived
    report reads the persisted frame (InMemoryTableScan) and contains no
    further join of the pair."""
    from data_migration_validator_spark.validation import run_validation

    src, tgt = pair
    reports = run_validation(src, tgt, ["id"], date_col=None)
    try:
        ann_plan = reports["annotated"]._jdf.queryExecution().executedPlan().toString()
        assert "Join" in ann_plan  # the one full-outer join lives here
        for name in ("reconcile_counts", "column_metrics", "mismatch_rows",
                     "src_extras_rows", "tgt_extras_rows"):
            plan = reports[name]._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, name
            # InMemoryRelation prints its cached child plan (which rightly
            # holds the one join); above the cache boundary there must be
            # no further join of the pair.
            above_cache = plan.split("InMemoryRelation", 1)[0]
            assert "Join" not in above_cache, name
    finally:
        reports["annotated"].unpersist()


def _report_rows(df, sort_cols):
    return [tuple(r) for r in df.orderBy(*sort_cols).collect()]


def test_run_validation_bucket_short_circuit_equivalence(spark):
    """bucket_short_circuit=N must reproduce the full pipeline's reports
    exactly — counts, column metrics, anomaly rows, windowed buckets, and
    the summary — while joining only the dirty buckets."""
    from data_migration_validator_spark.validation import run_validation

    src = spark.createDataFrame(
        [(i, f"a{i}", f"b{i}", f"2024-01-{(i % 5) + 1:02d}") for i in range(1, 200)],
        "id long, a string, b string, d string",
    )
    tgt = (
        src.filter("id not in (7, 90)")  # 2 src-extras
        .withColumn("b", F.when(F.col("id").isin(3, 50), F.lit("CORRUPT")).otherwise(F.col("b")))
        .unionByName(
            spark.createDataFrame(
                [(500, "a500", "b500", "2024-01-03")],
                "id long, a string, b string, d string",
            )
        )  # 1 tgt-extra
    )
    full = run_validation(src, tgt, ["id"], date_col="d")
    fast = run_validation(src, tgt, ["id"], date_col="d", bucket_short_circuit=32)
    try:
        assert fast["summary"] == full["summary"]
        for name, sort_cols in (
            ("reconcile_counts", ["matches"]),
            ("column_metrics", ["column_name"]),
            ("mismatch_rows", ["id", "side"]),
            ("src_extras_rows", ["id"]),
            ("tgt_extras_rows", ["id"]),
            ("windowed", ["bucket_date"]),
        ):
            assert _report_rows(fast[name], sort_cols) == _report_rows(
                full[name], sort_cols
            ), name
        # the short-circuit join saw only the dirty slice
        assert fast["annotated"].count() < full["annotated"].count()
    finally:
        full["annotated"].unpersist()
        fast["annotated"].unpersist()


def test_run_validation_bucket_short_circuit_identical_tables(spark):
    """Identical tables: the join input is EMPTY (two narrow digest scans
    decide the whole validation) and the summary still reports every match."""
    from data_migration_validator_spark.validation import run_validation

    src = spark.createDataFrame(
        [(i, f"a{i}", f"2024-02-{(i % 3) + 1:02d}") for i in range(300)],
        "id long, a string, d string",
    )
    tgt = src.select(*src.columns)
    fast = run_validation(src, tgt, ["id"], date_col="d", bucket_short_circuit=64)
    try:
        assert fast["annotated"].count() == 0  # no row ever joined
        assert fast["summary"]["validation_status"] == "SUCCESS"
        assert fast["summary"]["matches"] == 300
        counts = fast["reconcile_counts"].collect()[0]
        assert (counts["matches"], counts["mismatches"],
                counts["src_extras"], counts["tgt_extras"]) == (300, 0, 0, 0)
        win = {r["bucket_date"].isoformat(): r for r in fast["windowed"].collect()}
        assert sum(r["src_count"] for r in win.values()) == 300
        assert all(r["src_count"] == r["tgt_count"] for r in win.values())
        assert all(r["mismatched_rows"] == 0 for r in win.values())
    finally:
        fast["annotated"].unpersist()
