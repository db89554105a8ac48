"""Table-driven datatype-compatibility cases for the driver-side schema
checks: each case through the ``type_compatibility`` frame, through
``validation_summary``'s ``datatype_compatibility_status``, and all of
them at once against the DuckDB oracle's rule."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from data_migration_validator_spark.lake.schema import _WIDEN
from data_migration_validator_spark.session import local_frame
from data_migration_validator_spark.validation import (
    name_type_check,
    ordinal_check,
    type_compatibility,
    validation_summary,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

STORE = (
    "col_name string, data_type string, col_order int, side string, "
    "comment string"
)

LATTICE = [(f, t) for f, tos in sorted(_WIDEN.items()) for t in sorted(tos)]

# (src_type, tgt_type, compatible); None = the column is absent on that side
CASES = (
    [(f, t, True) for f, t in LATTICE]
    + [(t, f, False) for f, t in LATTICE]
    + [
        ("decimal(38,10)", "decimal(5,2)", False),
        ("decimal(10,2)", "decimal(12,2)", True),
        ("decimal(10,2)", "decimal(12,4)", True),
        ("decimal(10,2)", "decimal(10,4)", False),
        ("char(10)", "varchar(2)", False),
        ("char(10)", "varchar(10)", True),
        ("varchar(100)", "varchar(10)", False),
        ("varchar(10)", "varchar(100)", True),
        ("decimal", "decimal(10,2)", True),
        ("decimal(10,2)", "decimal", True),
        ("varchar", "varchar(10)", True),
        ("varchar(10)", "varchar", True),
        ("char(5)", "varchar", True),
        ("varchar2(10)", "varchar2(20)", False),
        ("varchar2(10)", "varchar2(10)", True),
        ("INT", "bigint", True),
        ("string", None, False),
        (None, "string", False),
    ]
)


def _store(spark, cols, side):
    """cols: (name, type, comment); a None type leaves the column out."""
    return local_frame(
        spark,
        [
            (n, t, i + 1, side, c)
            for i, (n, t, c) in enumerate(x for x in cols if x[1] is not None)
        ],
        STORE,
    )


@pytest.fixture(scope="module")
def clean_data(spark):
    """Reconcile counts, PK rows and column metrics of a clean run: the
    summary's only failure can then come from the schema checks."""
    return (
        local_frame(
            spark, [(5, 0, 0, 0)],
            "matches long, mismatches long, src_extras long, tgt_extras long",
        ),
        local_frame(spark, [(0,)], "pk_violations long"),
        local_frame(spark, [(0,)], "pk_violations long"),
        local_frame(spark, [("c", 0)], "column_name string, mismatches long"),
    )


def _summary(clean_data, src, tgt):
    nt = name_type_check(src, tgt)
    return validation_summary(
        *clean_data, nt, ordinal_check(src, tgt), type_compatibility(nt)
    )


@pytest.mark.parametrize("src_type,tgt_type,want", CASES)
def test_compatibility_case(spark, clean_data, src_type, tgt_type, want):
    src = _store(spark, [("c", src_type, None)], "src")
    tgt = _store(spark, [("c", tgt_type, None)], "tgt")
    rows = type_compatibility(name_type_check(src, tgt)).collect()
    assert [(r["col_key"], r["compatible"]) for r in rows] == [("c", want)]
    s = _summary(clean_data, src, tgt)
    assert s["datatype_compatibility_status"] == ("SUCCESS" if want else "FAILED")


def test_name_differing_only_in_case(spark, clean_data):
    src = _store(spark, [("CustId", "int", None)], "src")
    tgt = _store(spark, [("custid", "bigint", None)], "tgt")
    (r,) = type_compatibility(name_type_check(src, tgt)).collect()
    assert r["col_key"] == "custid" and r["col_name_compare"] == "MATCH"
    assert r["datatype_compare"] == "MISMATCH" and r["compatible"]
    s = _summary(clean_data, src, tgt)
    assert s["column_names_status"] == s["datatype_compatibility_status"] == "SUCCESS"
    assert s["ordinal_status"] == "SUCCESS"


@pytest.mark.parametrize(
    "src_comment,tgt_comment,want",
    [(None, None, "MATCH"), ("key", None, "MISMATCH"), (None, "key", "MISMATCH"),
     ("Key", "KEY", "MATCH")],
)
def test_comment_compare_cases(spark, clean_data, src_comment, tgt_comment, want):
    src = _store(spark, [("c", "int", src_comment)], "src")
    tgt = _store(spark, [("c", "int", tgt_comment)], "tgt")
    (r,) = name_type_check(src, tgt).collect()
    assert r["comment_compare"] == want
    s = _summary(clean_data, src, tgt)
    assert s["comment_compare_status"] == ("SUCCESS" if want == "MATCH" else "FAILED")
    assert s["datatype_compatibility_status"] == "SUCCESS"


def test_cases_match_duckdb_oracle(spark, monkeypatch):
    """Every case, as one column pair each, through the oracle's SQL."""
    src_rows = [(f"c{i}", s, i) for i, (s, _, _) in enumerate(CASES) if s]
    tgt_rows = [(f"c{i}", t, i) for i, (_, t, _) in enumerate(CASES) if t]
    monkeypatch.setattr(E, "_SRC_STORE", src_rows)
    monkeypatch.setattr(E, "_TGT_STORE", tgt_rows)
    oracle = {
        k: c
        for k, c in duckdb.connect()
        .execute(
            "SELECT col_key, compatible FROM ("
            + E.oracle_sql()["schema_compatibility"]
            + ")"
        )
        .fetchall()
    }
    ours = type_compatibility(
        name_type_check(
            _store(spark, [(n, t, None) for n, t, _ in src_rows], "src"),
            _store(spark, [(n, t, None) for n, t, _ in tgt_rows], "tgt"),
        )
    ).collect()
    assert {r["col_key"]: r["compatible"] for r in ours} == oracle
    assert oracle == {f"c{i}": want for i, (_, _, want) in enumerate(CASES)}
