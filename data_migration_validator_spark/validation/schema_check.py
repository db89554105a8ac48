"""Schema validation: ordinal check, name/type/comment compare and
datatype compatibility — reference ``validation_summary.py:309-506`` and
``validation_v3.py:234-480``.

A schema store is a few dozen rows, so every verdict is computed in plain
Python over the stores' rows and the public functions return the result as
a ``session.local_frame``.  ``run_validation`` takes the rows straight from
its inputs' schemas and runs no Spark job for them
(``tests/test_job_budget.py::test_run_validation_job_budget``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..lake.schema import _WIDEN
from ..session import local_frame

_STORE = (
    "col_name string, data_type string, col_order int, side string, "
    "comment string"
)
_ORDINAL = (
    "col_order int, src_col_name string, tgt_col_name string, "
    "ordinal_compare string"
)
_COMPAT_KEYS = (
    "col_key", "src_col_name", "tgt_col_name", "src_data_type",
    "tgt_data_type", "col_name_compare", "datatype_compare",
)
_COMPAT = ", ".join(f"{c} string" for c in _COMPAT_KEYS) + ", compatible boolean"
# type parameters as the DuckDB oracle extracts them: precision/length
# right after the first "(", scale after a comma
_PARAMS = re.compile(r"\((\d+)(?:\s*,\s*(\d+))?")


def _store_rows(schema: T.StructType, side: str) -> list[dict]:
    """A schema as store rows (col_name, data_type, col_order, side,
    comment) — the per-warehouse "schema store" (databricks-extract.py:
    86-117) built from a live StructType instead of DESC output.  The
    per-column COMMENT rides along (COL_COMMENT in every dialect's capture,
    validation_summary.py:62,99) from StructField metadata, None when the
    field carries none."""
    return [
        {
            "col_name": f.name,
            "data_type": f.dataType.simpleString(),
            "col_order": i + 1,
            "side": side,
            "comment": f.metadata.get("comment") if f.metadata else None,
        }
        for i, f in enumerate(schema.fields)
    ]


def schema_store(
    spark: SparkSession, schema: T.StructType, side: str = "src"
) -> DataFrame:
    """A live schema as a driver-side store frame (col_name, data_type,
    col_order, side, comment)."""
    return _frame(spark, _store_rows(schema, side), _STORE)


def _frame(spark: SparkSession, rows: list[dict], schema: str) -> DataFrame:
    return local_frame(spark, [tuple(r.values()) for r in rows], schema)


def _lower(v: str | None) -> str | None:
    return None if v is None else v.lower()


def _same(a: str | None, b: str | None) -> str:
    """The reference's null-safe lowered compare: two NULLs MATCH."""
    return "MATCH" if _lower(a) == _lower(b) else "MISMATCH"


def _full_outer(src: list, tgt: list, key) -> list[tuple]:
    """``(key, s, t)`` for a SQL FULL OUTER equi-join on ``key(row)``: a
    missing side is None, a NULL key matches nothing, and the result is in
    ascending key order with NULL keys first (Spark's ``orderBy``)."""
    by_key: dict = {}
    for t in tgt:
        by_key.setdefault(key(t), []).append(t)
    out, matched = [], set()
    for s in src:
        k = key(s)
        ts = by_key.get(k, []) if k is not None else []
        out += [(k, s, t) for t in ts] or [(k, s, None)]
        if ts:
            matched.add(k)
    out += [(key(t), None, t) for t in tgt if key(t) is None or key(t) not in matched]
    return sorted(out, key=lambda r: (r[0] is not None, r[0] if r[0] is not None else 0))


def _get(row, col: str):
    return None if row is None else row[col]


def _ordinal_rows(src: list, tgt: list) -> list[dict]:
    """FULL OUTER on ordinal position (validation_summary.py:314-318):
    does column N have the same name on both sides?"""
    return [
        {
            "col_order": k,
            "src_col_name": _get(s, "col_name"),
            "tgt_col_name": _get(t, "col_name"),
            "ordinal_compare": _same(_get(s, "col_name"), _get(t, "col_name")),
        }
        for k, s, t in _full_outer(src, tgt, lambda r: r["col_order"])
    ]


def _name_type_rows(src: list, tgt: list, with_comments: bool) -> list[dict]:
    """FULL OUTER on lowered column name (validation_summary.py:388-393):
    per-column name presence + datatype equality.  ``with_comments`` adds
    the reference's null-safe lowered comment compare
    (validation_summary.py:381-391): two NULL comments MATCH, a comment
    present on one side only MISMATCHes — and so does a column missing on
    one side, like the name check."""
    out = []
    for k, s, t in _full_outer(src, tgt, lambda r: _lower(r["col_name"])):
        row = {"col_key": k}
        for side, r in (("src", s), ("tgt", t)):
            row[f"{side}_col_name"] = _get(r, "col_name")
            row[f"{side}_data_type"] = _get(r, "data_type")
            if with_comments:
                row[f"{side}_comment"] = _get(r, "comment")
        row["col_name_compare"] = (
            "MATCH"
            if row["src_col_name"] is not None and row["tgt_col_name"] is not None
            else "MISMATCH"
        )
        row["datatype_compare"] = _same(row["src_data_type"], row["tgt_data_type"])
        if with_comments:
            row["comment_compare"] = _same(row["src_comment"], row["tgt_comment"])
        out.append(row)
    return out


def _name_type_schema(with_comments: bool) -> str:
    cols = ["col_key"]
    for side in ("src", "tgt"):
        cols += [f"{side}_col_name", f"{side}_data_type"]
        if with_comments:
            cols.append(f"{side}_comment")
    cols += ["col_name_compare", "datatype_compare"]
    if with_comments:
        cols.append("comment_compare")
    return ", ".join(f"{c} string" for c in cols)


def _params(t: str) -> tuple[int | None, int]:
    m = _PARAMS.search(t)
    return (int(m[1]), int(m[2] or 0)) if m else (None, 0)


def compatible(src_type: str | None, tgt_type: str | None) -> bool:
    """True iff ``tgt_type`` can hold every ``src_type`` value: the types
    match, or the base-type pair is in the widen-only lattice (a same-base
    pair counts only for lattice types) and the parameters do not shrink —
    decimal integral digits and scale may only grow, char/varchar length
    may only grow, and a missing parameter on either side is the unbounded
    form.  The rule of the DuckDB oracle (``__spark_entry__.py``'s
    ``schema_compatibility``).  Unlike ``lake.schema.can_widen`` it rejects
    same-base types outside the lattice, e.g. ``varchar2(10)`` ->
    ``varchar2(20)``."""
    s, t = _lower(src_type), _lower(tgt_type)
    if s == t:
        return True
    if s is None or t is None:
        return False
    sb, tb = s.split("(")[0], t.split("(")[0]
    if sb not in _WIDEN or (tb != sb and tb not in _WIDEN[sb]):
        return False
    (sp, ss), (tp, ts) = _params(s), _params(t)
    if sp is None or tp is None:
        return True
    if sb == tb == "decimal":
        return tp - ts >= sp - ss and ts >= ss
    if {sb, tb} <= {"char", "varchar"}:
        return tp >= sp
    return True


def _compat_rows(name_type: list) -> list[dict]:
    """The compatibility-matrix check of validation_summary.py:427-506."""
    return [
        {
            **{c: r[c] for c in _COMPAT_KEYS},
            "compatible": compatible(r["src_data_type"], r["tgt_data_type"]),
        }
        for r in name_type
    ]


def schema_failures(ordinal, name_type, compatibility, with_comments: bool) -> dict:
    """MISMATCH counts of the schema checks' rows (dicts or Rows);
    ``comment_bad`` only ``with_comments``."""

    def bad(rows, col):
        return sum(r[col] == "MISMATCH" for r in rows)

    out = {
        "name_bad": bad(name_type, "col_name_compare"),
        "dtype_bad": bad(name_type, "datatype_compare"),
        "ord_bad": bad(ordinal, "ordinal_compare"),
        "compat_bad": sum(not r["compatible"] for r in compatibility),
    }
    if with_comments:
        out["comment_bad"] = bad(name_type, "comment_compare")
    return out


def schema_checks(
    spark: SparkSession, src: T.StructType, tgt: T.StructType
) -> tuple[dict[str, DataFrame], dict]:
    """All three checks of two live schemas, on the driver: the report
    frames under ``ordinal``, ``name_type`` and ``compatibility``, and
    their :func:`schema_failures`."""
    src_rows, tgt_rows = _store_rows(src, "src"), _store_rows(tgt, "tgt")
    ordinal = _ordinal_rows(src_rows, tgt_rows)
    name_type = _name_type_rows(src_rows, tgt_rows, with_comments=True)
    compat = _compat_rows(name_type)
    reports = {
        "ordinal": _frame(spark, ordinal, _ORDINAL),
        "name_type": _frame(spark, name_type, _name_type_schema(True)),
        "compatibility": _frame(spark, compat, _COMPAT),
    }
    return reports, schema_failures(ordinal, name_type, compat, True)


def ordinal_check(src_store: DataFrame, tgt_store: DataFrame) -> DataFrame:
    """Ordinal check of two store frames, ordered by col_order.  A store
    frame (e.g. from ``sources.metadata.normalize_metadata``) is a few rows:
    it is collected and checked on the driver."""
    return _frame(
        src_store.sparkSession,
        _ordinal_rows(src_store.collect(), tgt_store.collect()),
        _ORDINAL,
    )


def name_type_check(src_store: DataFrame, tgt_store: DataFrame) -> DataFrame:
    """Name/type check of two store frames, ordered by col_key; the comment
    compare runs when BOTH stores carry a ``comment`` column (schema_store /
    normalize_metadata emit it)."""
    with_comments = "comment" in src_store.columns and "comment" in tgt_store.columns
    return _frame(
        src_store.sparkSession,
        _name_type_rows(src_store.collect(), tgt_store.collect(), with_comments),
        _name_type_schema(with_comments),
    )


def type_compatibility(name_type_df: DataFrame) -> DataFrame:
    """A :func:`name_type_check` frame (comments dropped) plus
    ``compatible`` per column (:func:`compatible`)."""
    return _frame(
        name_type_df.sparkSession,
        _compat_rows(name_type_df.collect()),
        _COMPAT,
    )


__all__ = [
    "compatible",
    "name_type_check",
    "ordinal_check",
    "schema_checks",
    "schema_failures",
    "schema_store",
    "type_compatibility",
]
