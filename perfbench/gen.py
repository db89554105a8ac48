"""Seeded change-event streams for the benchmark, written with NumPy and
Arrow only.

The program's own generator (``cdc.events``) is deliberately not used: a
change to it must not change what the benchmark feeds the program.  Every
stream here is a pure function of (workload shape, seed).

Layout is the one ``cdc.replay.replay`` and ``cdc.demux`` read:
``<dir>/batch_hint=<id>/part-<k>.parquet`` with the columns
``event_seq, op, repo, path, commit, lang, content, schema_change`` and, for
the fan-out stream, ``table_name``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["py", "java", "go", "rs", "ts", "c", "sql", "md"]
FILES_PER_BATCH = 4


@dataclass(frozen=True)
class Shape:
    """How one stream is drawn.  ``kind`` is ``zipf`` (hot repos, uniform
    paths, keys hashed over the key space) or ``frontier`` (auto-increment
    keys, updates skewed toward the newest keys)."""

    kind: str
    batches: int  # after the preload batch, if any
    batch_events: int
    preload_events: int = 0  # size of batch 0; frontier: all inserts
    tables: int = 1
    repos: int = 0  # zipf: repos per table
    paths: int = 64  # zipf: paths per repo; frontier: keys per repo
    zipf_s: float = 1.1
    delete_share: float = 0.1
    insert_share: float = 0.5  # frontier: share of events that add a key
    recent_keys: float = 0.0  # frontier: mean key distance of an update
    recent_window: int = 1  # frontier: updates reach back at most this far
    content_min: int = 40
    content_max: int = 160


def _zipf_ranks(rng: np.random.Generator, n: int, k: int, s: float) -> np.ndarray:
    """``n`` draws of a rank in [0, k) with P(rank r) proportional to
    1/(r+1)^s (bounded Zipf, inverse-CDF sampling)."""
    w = 1.0 / np.arange(1, k + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), k - 1)


def _ascii_pool(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    """``n`` random lower-case bodies with lengths uniform in [lo, hi]."""
    lengths = rng.integers(lo, hi + 1, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    data = rng.integers(97, 123, int(offsets[-1]), dtype=np.uint8)
    data[rng.random(data.size) < 0.15] = 32  # word breaks
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(data.tobytes())
    )


def _hex40(rng: np.random.Generator, n: int) -> pa.Array:
    """``n`` random 40-character lower-case hex strings (commit ids)."""
    digits = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    nib = rng.integers(0, 16, n * 40, dtype=np.uint8)
    offsets = np.arange(0, n * 40 + 1, 40, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(digits[nib].tobytes())
    )


def _str(prefix: str, ids: np.ndarray, width: int = 0) -> pa.Array:
    s = pc.cast(pa.array(ids, pa.int64()), pa.string())
    if width:
        s = pc.utf8_lpad(s, width=width, padding="0")
    return pc.binary_join_element_wise(prefix, s, "")


def _ops(rng, key: np.ndarray, delete_share: float) -> np.ndarray:
    """First event of a key is an insert; later ones are deletes with
    probability ``delete_share``, updates otherwise."""
    _, first = np.unique(key, return_index=True)
    op = np.where(rng.random(key.size) < delete_share, 2, 1).astype(np.int8)
    op[first] = 0
    return op


def _zipf_keys(rng, shape: Shape, n: int):
    table = rng.integers(0, shape.tables, n)
    repo = _zipf_ranks(rng, n, shape.repos, shape.zipf_s)
    path = rng.integers(0, shape.paths, n)
    key = (table * shape.repos + repo) * shape.paths + path
    # repo names carry no order: a hot repo hashes to an arbitrary bucket
    repo_s = pc.binary_join_element_wise(
        _str("org", (repo * 7919) % 97), _str("repo", repo), "/"
    )
    path_s = pc.binary_join_element_wise(
        _str("src/m", path % 13), _str("file_", path), "/"
    )
    return key, repo_s, path_s, table


def _frontier_keys(rng, shape: Shape, n: int):
    pre = shape.preload_events
    key = np.empty(n, dtype=np.int64)
    key[:pre] = np.arange(pre)
    rest = n - pre
    adds = rng.random(rest) < shape.insert_share
    frontier = pre + np.cumsum(adds) - adds  # keys that exist before the event
    back = np.floor(rng.exponential(shape.recent_keys, rest)).astype(np.int64)
    back %= shape.recent_window
    key[pre:] = np.where(adds, frontier, np.maximum(0, frontier - 1 - back))
    # zero-padded, so lexical order is key order: each base file then holds
    # a narrow key range that a MERGE's range test can leave untouched
    repo_s = _str("repo", key // shape.paths, width=8)
    path_s = _str("f", key % shape.paths, width=3)
    return key, repo_s, path_s, None


def generate(shape: Shape, seed: int, out_dir: str) -> dict:
    """Write the stream under ``out_dir``; returns counts for the report."""
    rng = np.random.default_rng(seed)
    sizes = ([shape.preload_events] if shape.preload_events else []) + [
        shape.batch_events
    ] * shape.batches
    starts = np.concatenate([[0], np.cumsum(sizes)])
    n = int(starts[-1])
    if shape.kind == "zipf":
        key, repo, path, table = _zipf_keys(rng, shape, n)
    else:
        key, repo, path, table = _frontier_keys(rng, shape, n)
    op = _ops(rng, key, shape.delete_share)
    pool = _ascii_pool(rng, 4096, shape.content_min, shape.content_max)
    body = pool.take(pa.array(rng.integers(0, len(pool), n)))
    seq = np.arange(n, dtype=np.int64)
    is_del = pa.array(op == 2)
    content = pc.if_else(
        is_del,
        pa.scalar(None, pa.string()),
        pc.binary_join_element_wise(_str("e", seq), body, "|"),
    )
    cols = {
        "event_seq": pa.array(seq),
        "op": pa.array(np.array(["insert", "update", "delete"])[op]),
        "repo": repo,
        "path": path,
        "commit": _hex40(rng, n),
        "lang": pa.array(np.array(LANGS)[key % len(LANGS)]),
        "content": content,
        "schema_change": pa.nulls(n, pa.string()),
    }
    if table is not None:
        cols["table_name"] = _str("t", table)
    events = pa.table(cols)
    for b, size in enumerate(sizes):
        bdir = os.path.join(out_dir, f"batch_hint={b}")
        os.makedirs(bdir, exist_ok=True)
        per_file = -(-size // FILES_PER_BATCH)
        for k in range(FILES_PER_BATCH):
            length = min(per_file, size - k * per_file)
            if length > 0:
                pq.write_table(
                    events.slice(int(starts[b]) + k * per_file, length),
                    os.path.join(bdir, f"part-{k:03d}.parquet"),
                    compression="snappy",
                )
    return {
        "batch_events": sizes,
        "keys": int(np.unique(key).size),
        "deletes": int((op == 2).sum()),
    }
