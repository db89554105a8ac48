"""Correctness check made apart from the program: DuckDB reads the input
files and computes the expected table, and compares the program's table
against it row for row by sha256.

Nothing here imports the program or Spark.  The program's table reaches this
module only as parquet files that the benchmark wrote from ``LakeTable.read``.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DML = "('insert', 'update', 'delete')"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '2GB'")
    return con


def _events(events_dir: str, batch_ids: list[int]) -> str:
    files = ", ".join(
        f"'{os.path.join(events_dir, f'batch_hint={b}', '*.parquet')}'"
        for b in batch_ids
    )
    return f"read_parquet([{files}], hive_partitioning = false)"


def lww_state(con, events_dir: str, batch_ids: list[int], keys: list[str]) -> pa.Table:
    """Last-writer-wins state: per key the payload of the highest
    ``event_seq`` event, absent when that event is a delete."""
    k = ", ".join(keys)
    return con.sql(
        f"""
        SELECT {k}, "commit", lang, content FROM (
            SELECT *, row_number() OVER (
                PARTITION BY {k} ORDER BY event_seq DESC) AS rn
            FROM {_events(events_dir, batch_ids)} WHERE op IN {DML})
        WHERE rn = 1 AND op <> 'delete'
        """
    ).arrow()


def scd2_state(con, events_dir: str, batch_ids: list[int]) -> pa.Table:
    """SCD2 history: one version per non-delete event, closed by the next
    event of the same key (any op), open while none follows."""
    return con.sql(
        f"""
        SELECT repo, path, event_seq AS valid_from_seq, "commit", lang,
               content, valid_to_seq FROM (
            SELECT *, lead(event_seq) OVER (
                PARTITION BY repo, path ORDER BY event_seq) AS valid_to_seq
            FROM {_events(events_dir, batch_ids)} WHERE op IN {DML})
        WHERE op <> 'delete'
        """
    ).arrow()


def non_delete_events(con, events_dir: str, batch_ids: list[int]) -> int:
    return con.sql(
        f"SELECT count(*) FROM {_events(events_dir, batch_ids)} "
        f"WHERE op IN ('insert', 'update')"
    ).fetchone()[0]


def _digests(rel: str, cols: list[str]) -> str:
    parts = ", ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(0))" for c in sorted(cols)
    )
    return f"SELECT sha256(concat_ws(chr(31), {parts})) AS h FROM {rel}"


def compare(con, expected: pa.Table, table_dir: str) -> dict:
    """Row-for-row comparison of the program's table (parquet under
    ``table_dir``) with ``expected``, as multisets of per-row sha256."""
    con.register("expected_rows", expected)
    cols = expected.column_names
    got = f"read_parquet('{os.path.join(table_dir, '*.parquet')}')"
    con.execute(f"CREATE OR REPLACE TEMP TABLE h_exp AS {_digests('expected_rows', cols)}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE h_got AS {_digests(got, cols)}")
    missing, extra, n_got = con.sql(
        """
        SELECT (SELECT count(*) FROM (SELECT h FROM h_exp EXCEPT ALL SELECT h FROM h_got)),
               (SELECT count(*) FROM (SELECT h FROM h_got EXCEPT ALL SELECT h FROM h_exp)),
               (SELECT count(*) FROM h_got)
        """
    ).fetchone()
    con.unregister("expected_rows")
    return {
        "expected_rows": expected.num_rows,
        "table_rows": n_got,
        "missing": missing,
        "extra": extra,
    }


def perturbed_reference(
    state: pa.Table, keys: list[str], seed: int, out_path: str
) -> dict:
    """Write the reference handed to ``run_validation``: ``state`` with a
    seeded number of rows removed, altered (content changed) and added (new
    keys).  Returns the summary counts the validator must report when the
    reference is the source side and the program's table the target."""
    rng = np.random.default_rng(seed + 7_919)
    n = state.num_rows
    removed, altered, added = (int(x) for x in rng.integers(20, 200, 3))
    pick = rng.permutation(n)[: removed + altered]
    drop = np.zeros(n, dtype=bool)
    drop[pick[:removed]] = True
    alter = np.zeros(n, dtype=bool)
    alter[pick[removed:]] = True
    content = state.column("content")
    changed = pc.if_else(
        pa.array(alter),
        pc.binary_join_element_wise(content, pa.scalar("~"), ""),
        content,
    )
    ref = state.set_column(state.column_names.index("content"), "content", changed)
    ref = ref.filter(pa.array(~drop))
    extra = state.take(pa.array(rng.integers(0, n, added)))
    extra = extra.set_column(
        extra.column_names.index(keys[-1]),
        keys[-1],
        _new_keys(extra.column(keys[-1]), added),
    )
    ref = pa.concat_tables([ref, extra.cast(ref.schema)])
    pq.write_table(ref, out_path)
    return {
        "rows": ref.num_rows,
        "matches": n - removed - altered,
        "mismatches": altered,
        "src_extras": added,
        "tgt_extras": removed,
    }


def _new_keys(col: pa.ChunkedArray, k: int) -> pa.Array:
    """``k`` key values no generated row has (string or integer key)."""
    if pa.types.is_integer(col.type):
        return pa.array(-1 - np.arange(k), col.type)
    return pa.array([f"added/{i}" for i in range(k)], col.type)
