"""Schema validation: ordinal check, name/type compare, datatype
compatibility via regex matrix — reference ``validation_summary.py:309-506``
and ``validation_v3.py:234-480``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.schema import _WIDEN, _base
from ..session import local_frame


def schema_store(
    spark: SparkSession, schema: T.StructType, side: str = "src"
) -> DataFrame:
    """Capture a schema as rows (col_name, data_type, col_order, side,
    comment) — the per-warehouse "schema store" (databricks-extract.py:
    86-117) built from a live StructType instead of DESC output.  The
    per-column COMMENT rides along (COL_COMMENT in every dialect's capture,
    validation_summary.py:62,99) from StructField metadata, NULL when the
    field carries none."""
    rows = [
        (
            f.name,
            f.dataType.simpleString(),
            i + 1,
            side,
            f.metadata.get("comment") if f.metadata else None,
        )
        for i, f in enumerate(schema.fields)
    ]
    return local_frame(
        spark,
        rows,
        "col_name string, data_type string, col_order int, side string, "
        "comment string",
    )


def ordinal_check(src_store: DataFrame, tgt_store: DataFrame) -> DataFrame:
    """FULL OUTER on ordinal position (validation_summary.py:314-318):
    does column N have the same name on both sides?"""
    s = src_store.select(
        F.col("col_order"),
        F.col("col_name").alias("src_col_name"),
    )
    t = tgt_store.select(
        F.col("col_order"),
        F.col("col_name").alias("tgt_col_name"),
    )
    j = s.join(t, on="col_order", how="full_outer")
    return j.withColumn(
        "ordinal_compare",
        F.when(
            F.lower(F.col("src_col_name")).eqNullSafe(F.lower(F.col("tgt_col_name"))),
            F.lit("MATCH"),
        ).otherwise(F.lit("MISMATCH")),
    ).orderBy("col_order")


def name_type_check(src_store: DataFrame, tgt_store: DataFrame) -> DataFrame:
    """FULL OUTER on lowered column name (validation_summary.py:388-393):
    per-column name presence + datatype equality.  When BOTH stores carry a
    ``comment`` column (schema_store / normalize_metadata emit it), the
    per-column comment compare rides the same join — the reference's
    null-safe lowered compare (validation_summary.py:381-391): two NULL
    comments MATCH, a comment present on one side only MISMATCHes."""
    with_comments = (
        "comment" in src_store.columns and "comment" in tgt_store.columns
    )
    s_cols = [
        F.lower(F.col("col_name")).alias("col_key"),
        F.col("col_name").alias("src_col_name"),
        F.col("data_type").alias("src_data_type"),
    ]
    t_cols = [
        F.lower(F.col("col_name")).alias("col_key"),
        F.col("col_name").alias("tgt_col_name"),
        F.col("data_type").alias("tgt_data_type"),
    ]
    if with_comments:
        s_cols.append(F.col("comment").alias("src_comment"))
        t_cols.append(F.col("comment").alias("tgt_comment"))
    s = src_store.select(*s_cols)
    t = tgt_store.select(*t_cols)
    j = s.join(t, on="col_key", how="full_outer")
    j = j.withColumn(
        "col_name_compare",
        F.when(
            F.col("src_col_name").isNotNull() & F.col("tgt_col_name").isNotNull(),
            F.lit("MATCH"),
        ).otherwise(F.lit("MISMATCH")),
    ).withColumn(
        "datatype_compare",
        F.when(
            F.lower(F.col("src_data_type")).eqNullSafe(
                F.lower(F.col("tgt_data_type"))
            ),
            F.lit("MATCH"),
        ).otherwise(F.lit("MISMATCH")),
    )
    if with_comments:
        # a column missing on one side entirely (extra column) compares its
        # comment against the absent side's NULL — same MISMATCH the name
        # check already reports, matching the reference's x-join semantics
        j = j.withColumn(
            "comment_compare",
            F.when(
                F.lower(F.col("src_comment")).eqNullSafe(
                    F.lower(F.col("tgt_comment"))
                ),
                F.lit("MATCH"),
            ).otherwise(F.lit("MISMATCH")),
        )
    return j.orderBy("col_key")


def default_compatibility_matrix(spark: SparkSession) -> DataFrame:
    """Compatibility matrix as (src_type_pattern, compatible_tgt_pattern)
    regex rows — the shape of ``conf/data_type_compatibility_matrix.csv``,
    generated from the widen-only lattice instead of hand-curated per
    warehouse."""
    rows = []
    for frm, tos in _WIDEN.items():
        allowed = sorted({frm} | tos)
        pattern = "^(" + "|".join(allowed) + ")([(].*)?$"
        rows.append((f"^{frm}([(].*)?$", pattern))
    return local_frame(
        spark, rows, "src_type_pattern string, compatible_tgt_pattern string"
    )


def type_compatibility(
    name_type_df: DataFrame, matrix: DataFrame
) -> DataFrame:
    """Regex theta-join against the compatibility matrix — the reference's
    non-equi ``rlike`` join (validation_summary.py:502-504), expressed as a
    broadcast nested-loop join (the matrix is tiny).

    Adds ``compatible`` boolean: tgt type equals src type or is a legal
    widening of it.
    """
    j = name_type_df.join(
        F.broadcast(matrix),
        F.expr("lower(src_data_type) rlike src_type_pattern"),
        "left",
    )
    # Parameter guard (same rules as lake.schema.can_widen): the regex
    # matrix strips type parameters, so without this a lossy NARROWING like
    # decimal(38,10) -> decimal(5,2) or varchar(100) -> varchar(10) would
    # pass the very gate that exists to forbid it.  Decimal: integral
    # digits and scale may only grow.  Length types (char/varchar, incl.
    # cross-base): length may only grow.  A missing parameter on either
    # side defers to the base-type verdict (unparameterized = unbounded).
    src_t = F.lower(F.col("src_data_type"))
    tgt_t = F.lower(F.col("tgt_data_type"))

    def _p(col, grp):
        v = F.regexp_extract(col, r"\((\d+)\s*(?:,\s*(\d+))?\)", grp)
        return F.when(v == "", F.lit(None)).otherwise(v).cast("int")

    sb = F.regexp_extract(src_t, r"^([a-z]+)", 1)
    tb = F.regexp_extract(tgt_t, r"^([a-z]+)", 1)
    sp, ss = _p(src_t, 1), F.coalesce(_p(src_t, 2), F.lit(0))
    tp, ts = _p(tgt_t, 1), F.coalesce(_p(tgt_t, 2), F.lit(0))
    both_len = sb.isin("char", "varchar") & tb.isin("char", "varchar")
    param_ok = (
        F.when(sp.isNull() | tp.isNull(), F.lit(True))
        .when(
            (sb == "decimal") & (tb == "decimal"),
            ((tp - ts) >= (sp - ss)) & (ts >= ss),
        )
        .when(both_len, tp >= sp)
        .otherwise(F.lit(True))
    )
    compat = F.when(
        F.col("datatype_compare") == "MATCH", F.lit(True)
    ).otherwise(
        F.coalesce(
            F.expr("lower(tgt_data_type) rlike compatible_tgt_pattern"),
            F.lit(False),
        )
        & param_ok
    )
    return (
        j.withColumn("compatible", compat)
        .groupBy(
            "col_key",
            "src_col_name",
            "tgt_col_name",
            "src_data_type",
            "tgt_data_type",
            "col_name_compare",
            "datatype_compare",
        )
        .agg(F.max("compatible").alias("compatible"))
        .orderBy("col_key")
    )


def can_widen_df(spark: SparkSession) -> DataFrame:
    """The lattice as explicit (frm, to) pairs — handy for SQL tests."""
    rows = [(f, t) for f, tos in _WIDEN.items() for t in sorted(tos)]
    rows += [(f, f) for f in _WIDEN]
    return local_frame(spark, rows, "frm string, wide string")


__all__ = [
    "schema_store",
    "ordinal_check",
    "name_type_check",
    "default_compatibility_matrix",
    "type_compatibility",
    "can_widen_df",
    "_base",
]
