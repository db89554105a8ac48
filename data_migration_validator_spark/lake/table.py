"""LakeTable — a from-scratch lake table format on parquet.

No Iceberg/Delta jars ship in this sandbox, so the engine implements the
needed subset itself, Spark-first:

- **Manifest JSON snapshots** (``_manifest/v<seq>.json``): schema registry
  (column-id based, historical schemas kept), partition spec
  (``bucket(N, source_col)``), live data-file list with per-file bucket +
  row count + writer schema id.  Commit = atomic ``os.replace`` of the next
  manifest version; readers resolve the max version (optimistic concurrency:
  a losing writer's replace would collide on seq — single-writer here).
- **Bucketed data layout**: every key's rows live in exactly one bucket
  (``pmod(xxhash64(source_col), N)``), so a MERGE only rewrites the buckets
  its change-set touches — at 10^10-event scale with hot repos this is the
  difference between rewriting GBs and rewriting the table.  Hot repos spread
  across *files within* a bucket via the writer's repartition (SURVEY.md §7.4).
- **Copy-on-write MERGE**: ``survivors = existing ⟕anti changes.keys`` ∪
  ``upserts`` (deletes simply don't re-enter).  The anti-join broadcasts the
  change-set when small (micro-batches usually are), so the table side never
  shuffles; file pruning keeps the scan to touched buckets only.  Mirrors the
  reference's MERGE sink (``conf/setup_validation_mapping.py:8-67``)
  generalized to arbitrary key upsert+delete.
- **Exactly-once batch set** (``batches`` in every manifest): each
  snapshot records the batch ids applied up to it, so the manifest link is
  the ONE commit point for data and exactly-once state alike (Delta's
  ``txn`` action, an Iceberg snapshot summary) — generalizing the
  reference's "skip already-SUMMARY_SUCCESS batches"
  (migration-data-validation.py:1816-1817).
- **Schema evolution**: add / rename / widen produce a new schema id; old
  files stay live and are projected to the current schema at read time by
  field id (rename-safe) with casts (widen) and null fill (add).

Driver-side metadata ops (the footers a commit wrote, file listing) are
O(#files) and would be a manifest/stats service at 100 TB; the data plane is
pure Spark.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .schema import TableSchema
from .stats import collect_entry_stats, prune_entries

_MANIFEST_RE = re.compile(r"v(\d{8})\.json$")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the sequence this handle was about to take.

    The commit protocol is optimistic concurrency on the manifest version:
    each writer prepares snapshot ``seq+1`` from its loaded manifest and
    claims ``_manifest/v<seq+1>.json`` with an atomic ``os.link`` — the
    filesystem-level compare-and-swap (link fails with EEXIST if the name
    exists; unlike a bare exists()-check + replace there is no window in
    which two writers both pass).  The loser's data files are orphans (never
    referenced by any manifest — invisible to readers, reclaimed by
    :meth:`LakeTable.expire_snapshots`), and the loser's handle is left on
    its ORIGINAL snapshot, so the recovery is always: ``load()`` a fresh
    handle and re-apply.  For CDC batches the replay loop does exactly that
    for free: a batch counts as applied only in the manifest that won, so
    the fresh handle re-applies it unless the winner already did."""


_TS_PIN_KEY = "spark.sql.parquet.outputTimestampType"
_TS_PIN_LOCK = threading.Lock()
# id(SparkSession) -> [refcount, prior conf value]
_TS_PIN_STATE: dict[int, list] = {}


@contextmanager
def _pin_micros_timestamps(spark: SparkSession):
    """Hold ``outputTimestampType = TIMESTAMP_MICROS`` for the duration of a
    write.  A session built outside session.get_spark may default to legacy
    INT96 timestamps, which carry no parquet statistics and would blind the
    per-file skipping.  The conf is session-global and Spark offers no
    per-write option for it, so concurrent writers (which the CAS commit
    protocol supports) share one REFCOUNTED pin: the first writer in saves
    the caller's value and sets micros, the last writer out restores it —
    no writer can yank the conf out from under another mid-write."""
    try:
        # key on the JVM session's identity, not the python wrapper's —
        # two wrappers of one JVM session share one conf and must share
        # one pin (identityHashCode collisions across distinct sessions
        # are vanishingly rare and only risk a harmless shared refcount)
        sid = int(spark._jvm.System.identityHashCode(spark._jsparkSession))
    except Exception:
        sid = id(spark)
    with _TS_PIN_LOCK:
        st = _TS_PIN_STATE.get(sid)
        if st is None:
            st = _TS_PIN_STATE[sid] = [0, spark.conf.get(_TS_PIN_KEY)]
            spark.conf.set(_TS_PIN_KEY, "TIMESTAMP_MICROS")
        st[0] += 1
    try:
        yield
    finally:
        with _TS_PIN_LOCK:
            st = _TS_PIN_STATE[sid]
            st[0] -= 1
            if st[0] == 0:
                del _TS_PIN_STATE[sid]
                spark.conf.set(_TS_PIN_KEY, st[1])


def _should_broadcast(
    n_changes: int, broadcast_changes: bool | None, broadcast_max_rows: int
) -> bool:
    """MERGE's size-aware anti-join strategy: hint broadcast only when the
    change-set is known-small (or the caller forces it); a big batch
    (backfill, initial load) must shuffle instead of OOMing the driver.
    Kept as a pure function so the decision matrix is plan-tested."""
    if broadcast_changes is not None:
        return broadcast_changes
    return n_changes <= broadcast_max_rows


# Keys-only broadcast reaches this multiple of ``broadcast_max_rows``: key
# tuples are ~10x narrower than full rows, so a key set 10x past the full-row
# cap costs the driver/executors about the same memory as a full-row
# broadcast at the cap.
_KEY_BROADCAST_FACTOR = 10


def _anti_join_strategy(
    n_changes: int,
    broadcast_changes: bool | None,
    broadcast_max_rows: int,
) -> str:
    """Three-tier survivors-join strategy, kept pure so it is plan-testable.

    'broadcast': the whole change-set is known-small — hint broadcast (the
        anti-join AND the later union/write reuse the cached small frame).
    'keys': too big for a full-row broadcast, but the anti-join only needs
        the key columns (~10x narrower), so broadcasting JUST the keys keeps
        the big existing side shuffle-free up to 10x the row cap.
    'shuffle': backfill-sized key sets — a broadcast would OOM; shuffle.
    """
    if broadcast_changes is not None:
        return "broadcast" if broadcast_changes else "shuffle"
    if _should_broadcast(n_changes, None, broadcast_max_rows):
        return "broadcast"
    if n_changes <= broadcast_max_rows * _KEY_BROADCAST_FACTOR:
        return "keys"
    return "shuffle"


def _fs(op, *args):
    """The commit protocol's one filesystem seam: every mutation a commit
    or a vacuum makes (manifest temp write, manifest ``os.link``, staged
    delta rename, expiry removals) is ``_fs(op, *args)``, so a crash test
    can kill the protocol at each call in turn."""
    return op(*args)


def _chars_as_string(dt: T.DataType) -> T.DataType:
    """``dt`` with every char/varchar, nested ones too, as string."""
    if isinstance(dt, (T.CharType, T.VarcharType)):
        return T.StringType()
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _chars_as_string(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_chars_as_string(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(
            _chars_as_string(dt.keyType), _chars_as_string(dt.valueType)
        )
    return dt


def _dump_json(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


def _seed_bucket_rows(m: dict) -> dict[str, int]:
    """A manifest's per-bucket row counts, seeding LEGACY manifests (written
    before bucket_rows existed) from their per-file counts — the ONE copy of
    that fallback rule; every reader (row counts, rollback restore, rewrite
    carry-over) must go through it or the copies drift."""
    brows = m.get("bucket_rows")
    if brows is not None:
        return dict(brows)
    out: dict[str, int] = {}
    for f in m["files"]:
        b = str(f["bucket"])
        out[b] = out.get(b, 0) + f.get("rows", 0)
    return out


def _manifest_rows(m: dict) -> int:
    """Live row count of one manifest: per-bucket recorded counts, with a
    per-file fallback for manifests written before bucket_rows existed."""
    return sum(_seed_bucket_rows(m).values())


class LakeTable:
    """Handle to one lake table rooted at a local/posix directory."""

    def __init__(self, spark: SparkSession, root: str, manifest: dict):
        self.spark = spark
        self.root = root
        self.manifest = manifest
        self._pinned = False  # True on time-travel handles (read-only)
        self._carry: dict = {}  # see _committing
        # single-writer guard PER HANDLE: concurrent driver threads (the
        # parallel demux fan-out) may share one destination handle — e.g.
        # the quarantine table — and its manifest commit is a
        # read-modify-write; the reentrant lock serializes whole write ops
        # on the same instance while leaving different tables' writes fully
        # concurrent.
        self._write_lock = threading.RLock()

    # ------------------------------------------------------------------ #
    # lifecycle
    # ------------------------------------------------------------------ #
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: TableSchema | list[tuple[str, str]],
        key_cols: list[str],
        bucket_col: str | None = None,
        num_buckets: int = 16,
        properties: dict | None = None,
    ) -> "LakeTable":
        if isinstance(schema, list):
            schema = TableSchema.from_pairs(schema)
        for k in key_cols:
            if schema.field_by_name(k) is None:
                raise ValueError(f"key column {k!r} not in schema")
        bucket_col = bucket_col or key_cols[0]
        os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        manifest = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "seq": 1,
            "parent_seq": None,
            "schema_id": 0,
            "schemas": {"0": schema.to_json()},
            "partition": {"num_buckets": num_buckets, "source": bucket_col},
            "key_cols": list(key_cols),
            "files": [],
            "bucket_rows": {},
            "batches": {},
            "properties": properties or {},
            "committed_at": time.time(),
        }
        t = LakeTable(spark, root, manifest)
        t._write_manifest(manifest)
        return t

    @staticmethod
    def load(spark: SparkSession, root: str) -> "LakeTable":
        mdir = os.path.join(root, "_manifest")
        versions = sorted(glob.glob(os.path.join(mdir, "v*.json")))
        if not versions:
            raise FileNotFoundError(f"no manifest under {mdir}")
        with open(versions[-1]) as f:
            manifest = json.load(f)
        return LakeTable(spark, root, manifest)

    @staticmethod
    def exists(root: str) -> bool:
        return bool(glob.glob(os.path.join(root, "_manifest", "v*.json")))

    def at_version(self, seq: int) -> "LakeTable":
        """Time-travel: a READ-ONLY handle pinned to committed snapshot
        ``seq`` (Iceberg ``VERSION AS OF`` analog).  Every read-path method
        (``read``, ``row_count``, ``detail``, schema access) resolves
        against the pinned manifest; any write raises.  Valid only within
        the retention window — :meth:`expire_snapshots` deletes old
        manifests and the files only they reference."""
        path = os.path.join(self.root, "_manifest", f"v{seq:08d}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"no committed snapshot seq={seq} under {self.root} "
                "(never committed, or expired by expire_snapshots)"
            )
        with open(path) as f:
            m = json.load(f)
        t = LakeTable(self.spark, self.root, m)
        t._pinned = True
        return t

    def _assert_writable(self) -> None:
        if self._pinned:
            raise RuntimeError(
                "time-travel handle (at_version) is read-only; "
                "load() the live table to write"
            )

    def rollback(self, seq: int) -> dict:
        """Restore the table to committed snapshot ``seq`` as a NEW commit
        (Iceberg ``rollback_to_snapshot`` analog): pure metadata — the new
        manifest re-points at the old snapshot's files/deltas/schema/spec
        under seq N+1, so any number of bad commits are undone without
        rewriting a byte, and the rolled-over commits stay time-travelable
        until :meth:`expire_snapshots`.

        Exactly-once interplay: the restored snapshot brings back its own
        batch set, so the batches applied after ``seq`` (reported as
        ``batches_retracted``) re-apply when the event stream is replayed
        and the table reconverges.
        """
        self._assert_writable()
        path = os.path.join(self.root, "_manifest", f"v{seq:08d}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"no committed snapshot seq={seq} under {self.root}"
            )
        with open(path) as f:
            old = json.load(f)
        restored = {
            k: v for k, v in old.items()
            if k not in ("seq", "parent_seq", "committed_at", "properties")
        }
        # legacy target manifest: seeds from per-file counts, else the
        # restored table would report row_count() == 0 ({} is "present")
        restored.update(
            deltas=old.get("deltas", []),
            batches=old.get("batches", {}),
            bucket_rows=_seed_bucket_rows(old),
        )
        m = self._next_manifest(**restored)
        retracted = [
            b["id"] for k, b in self.manifest.get("batches", {}).items()
            if k not in m["batches"]
        ]
        self._write_manifest(m)
        return {
            "rolled_back_to": seq,
            "seq": m["seq"],
            "batches_retracted": sorted(retracted, key=str),
        }

    def rebucket(self, num_buckets: int, bucket_col: str | None = None) -> dict:
        """Partition-spec evolution: rewrite the table into ``num_buckets``
        hash buckets (optionally on a new source column) — the maintenance
        analog of Iceberg partition-spec evolution, for when a table
        outgrows its create-time bucket count (bucket count bounds write
        parallelism and file-pruning granularity; at 100× growth the
        original count becomes the bottleneck).

        One full rewrite: MOR-resolved read → one shuffle on the NEW bucket
        expression → files + spec swapped atomically in a single manifest
        commit.  Time travel to pre-rebucket snapshots still resolves
        correctly — each manifest carries its own spec.
        """
        self._assert_writable()
        if num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        src = bucket_col or self.bucket_source
        if self.schema.field_by_name(src) is None:
            raise ValueError(f"bucket column {src!r} not in schema")
        current = self.read()
        old_partition = self.manifest["partition"]
        # the in-memory spec drives _write_files' bucket expr; restored on
        # failure so the handle never lies
        self.manifest["partition"] = {"num_buckets": num_buckets, "source": src}
        try:
            entries, bucket_rows = self._write_files(current)
            m = self._next_manifest(
                files=entries,
                deltas=[],
                bucket_rows={str(b): n for b, n in bucket_rows.items()},
            )
            self._write_manifest(m)
        except Exception:
            self.manifest["partition"] = old_partition
            raise
        return {
            "num_buckets": num_buckets,
            "bucket_source": src,
            "rows": int(sum(bucket_rows.values())),
            "files": len(entries),
        }

    def _write_manifest(self, manifest: dict) -> None:
        """Commit ``manifest`` as the next snapshot via a true CAS: the
        version filename is claimed with ``os.link`` (atomic fail-if-exists
        on POSIX), so of N racing writers exactly one wins and every loser
        gets :class:`ConcurrentCommitError` — no
        check-then-replace window in which a commit could be silently
        clobbered.  On an object store this maps to a conditional PUT
        (If-None-Match) or a commit-coordinator swap.  The link is the
        table's only commit point: a snapshot's files, schema and applied
        batch set become visible together or not at all."""
        self._assert_writable()
        seq = manifest["seq"]
        mdir = os.path.join(self.root, "_manifest")
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
        final = os.path.join(mdir, f"v{seq:08d}.json")
        _fs(_dump_json, tmp, manifest)
        try:
            _fs(os.link, tmp, final)  # atomic claim: EEXIST = lost the race
        except FileExistsError:
            raise ConcurrentCommitError(
                f"seq {seq} was committed by another writer while this "
                f"handle held seq {self.manifest['seq']}; load() a fresh "
                "handle and re-apply"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        self.manifest = manifest

    @contextmanager
    def _committing(self, **updates):
        """Fold ``updates`` into every manifest this handle commits inside
        the block: how an owner's own state (a view's definition and
        refreshed source seq) lands atomically with a MERGE or overwrite,
        and is rolled back with the snapshot that carries it."""
        self._carry = updates
        try:
            yield
        finally:
            self._carry = {}

    def _next_manifest(self, batch_id=None, **updates) -> dict:
        """The next snapshot: this handle's manifest with ``updates``
        applied, recording ``batch_id`` (when given) as applied in it."""
        m = json.loads(json.dumps(self.manifest))
        m["parent_seq"] = m["seq"]
        m["seq"] += 1
        m["committed_at"] = time.time()
        m.update(self._carry)
        m.update(updates)
        if batch_id is not None:
            m.setdefault("batches", {})[str(batch_id)] = {
                "id": batch_id, "seq": m["seq"],
            }
        return m

    # ------------------------------------------------------------------ #
    # schema access / evolution
    # ------------------------------------------------------------------ #
    @property
    def schema(self) -> TableSchema:
        sid = str(self.manifest["schema_id"])
        return TableSchema.from_json(self.manifest["schemas"][sid])

    @property
    def key_cols(self) -> list[str]:
        return list(self.manifest["key_cols"])

    @property
    def num_buckets(self) -> int:
        return self.manifest["partition"]["num_buckets"]

    @property
    def bucket_source(self) -> str:
        return self.manifest["partition"]["source"]

    def _evolve(self, new_schema: TableSchema) -> None:
        new_id = int(self.manifest["schema_id"]) + 1
        m = self._next_manifest(schema_id=new_id)
        m["schemas"][str(new_id)] = new_schema.to_json()
        self._write_manifest(m)

    def add_column(self, name: str, type_str: str) -> None:
        self._evolve(self.schema.add_column(name, type_str))

    def rename_column(self, old: str, new: str) -> None:
        # keep EVERY manifest reference to the column consistent through the
        # rename: key/bucket refs, plus the write.sort.cols clustering list
        # and an explicit write.stats.cols list — a stale name there would
        # make every later write raise (unresolved sort column) or silently
        # stop collecting stats for the column
        new_schema = self.schema.rename_column(old, new)
        m = self._next_manifest(schema_id=int(self.manifest["schema_id"]) + 1)
        m["schemas"][str(m["schema_id"])] = new_schema.to_json()
        m["key_cols"] = [new if k == old else k for k in m["key_cols"]]
        if m["partition"]["source"] == old:
            m["partition"]["source"] = new
        for prop in ("write.sort.cols", "write.stats.cols"):
            raw = m["properties"].get(prop)
            if raw and raw != "auto":
                cols = [c.strip() for c in raw.split(",") if c.strip()]
                m["properties"][prop] = ",".join(
                    new if c == old else c for c in cols
                )
        self._write_manifest(m)

    def widen_type(self, name: str, to: str) -> None:
        from .stats import same_comparison_domain

        fld = self.schema.field_by_name(name)
        new_schema = self.schema.widen_type(name, to)
        new_id = int(self.manifest["schema_id"]) + 1
        m = self._next_manifest(schema_id=new_id)
        m["schemas"][str(new_id)] = new_schema.to_json()
        if fld is not None and not same_comparison_domain(fld.type, to):
            # e.g. int -> string: the column moves to lexical comparison,
            # where the stored numeric bounds would wrongly prune
            # ('11' < '9').  Scrub this field's stats so every old file
            # stays reachable; fresh writes re-collect in the new domain.
            fid = str(fld.id)
            for entry in m["files"] + (m.get("deltas") or []):
                st = entry.get("stats")
                if st and fid in st:
                    del st[fid]
                    if not st:
                        del entry["stats"]
        self._write_manifest(m)

    # ------------------------------------------------------------------ #
    # read path
    # ------------------------------------------------------------------ #
    def _stat_cols(self) -> list[str]:
        """Columns whose per-file min/max/null stats ride the manifest
        (``write.stats.cols`` property: comma list; ``"auto"``/unset = every
        statable primitive column, capped at 12 like Iceberg's default
        stats budget; ``""`` disables)."""
        from .stats import statable

        prop = self.manifest["properties"].get("write.stats.cols", "auto")
        if prop == "auto":
            return [f.name for f in self.schema.fields if statable(f.type)][:12]
        return [c.strip() for c in prop.split(",") if c.strip()]

    def _sort_cols(self) -> list[str]:
        """Clustered-write columns (``write.sort.cols`` property): rows are
        sorted by these WITHIN each bucket's write task, so per-file (and
        per-row-group) min/max ranges become narrow and disjoint — the
        prerequisite for the stats pruning in :meth:`scan` to be selective
        (Delta OPTIMIZE ZORDER's purpose, done at write time)."""
        prop = self.manifest["properties"].get("write.sort.cols", "")
        return [c.strip() for c in prop.split(",") if c.strip()]

    def bucket_expr(self, col: str | None = None) -> F.Column:
        src = col or self.bucket_source
        return F.pmod(F.xxhash64(F.col(src)), F.lit(self.num_buckets)).cast("int")

    def read(
        self,
        buckets: list[int] | None = None,
        with_bucket: bool = False,
        stats_predicate: str | None = None,
        file_subset: frozenset | set | None = None,
    ) -> DataFrame:
        """Current-schema DataFrame over the live table state.

        ``buckets`` prunes at file level — the scan never touches untouched
        buckets' files (MERGE relies on this).  Files are grouped by writer
        schema id; each group is projected to the current schema by field id
        (rename via id match, add via null literal, widen via cast), then the
        groups union by name.

        When merge-on-read deltas are live (``merge(mode="mor")``), the
        scanned buckets' deltas are folded in here: base ∪ deltas, latest
        delta sequence wins per key (one hash aggregate — the same partial-
        aggregation skew story as the dedup), delete tombstones drop out.
        Buckets with no deltas keep the plain scan.  MOR read assumes unique
        keys in the base (MERGE guarantees it; a blind ``append`` of
        duplicate keys onto a delta-bearing table is caller error, as in
        Iceberg equality-delete semantics).

        ``stats_predicate`` skips BASE files whose per-file min/max stats
        prove no row can match (see :mod:`.stats`) — the caller MUST still
        apply the same predicate to the result (this method does not): the
        contract is only that every row satisfying the predicate survives.
        Sound under MOR because delta files are never skipped and any delta
        row outranks its base row in :meth:`_resolve_mor` whether or not
        the base row was scanned; base rows without deltas that were
        skipped provably fail the predicate, so the caller's filter would
        drop them anyway.

        ``file_subset``: restrict the BASE scan to these manifest paths
        (MERGE file pruning passes the candidate set); deltas are never
        restricted by it.
        """
        cur = self.schema
        base = self._read_base(cur, buckets, stats_predicate, file_subset)
        deltas = self.manifest.get("deltas", [])
        if buckets is not None:
            bset = set(buckets)
            deltas = [e for e in deltas if e["bucket"] in bset]
        df = self._resolve_mor(base, deltas, cur) if deltas else base
        if with_bucket:
            df = df.withColumn("__bucket", self.bucket_expr())
        return df

    def _read_base(
        self,
        cur: TableSchema,
        buckets: list[int] | None,
        stats_predicate: str | None = None,
        file_subset: frozenset | set | None = None,
    ) -> DataFrame:
        """Plain scan of the base files projected to the current schema."""
        files = self.manifest["files"]
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if file_subset is not None:
            files = [f for f in files if f["path"] in file_subset]
        if stats_predicate and files:
            # field-id-keyed min/max interval tests; stats written under an
            # older schema stay valid because ids survive renames and the
            # bounds are re-normalized under the current (possibly widened)
            # type — see stats.prune_entries soundness notes
            files = prune_entries(self.spark, stats_predicate, cur, files)
        if not files:
            return local_frame(self.spark, [], cur.to_struct_type())

        by_schema: dict[str, list[str]] = {}
        for f in files:
            by_schema.setdefault(str(f["schema_id"]), []).append(
                os.path.join(self.root, f["path"])
            )

        parts: list[DataFrame] = []
        for sid, paths in by_schema.items():
            raw = self.spark.read.schema(self._file_schema(sid)).parquet(*paths)
            parts.append(raw.select(*self._projection_to(cur, sid, raw.columns)))
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _file_schema(self, schema_id: str, *extra: str) -> T.StructType:
        """Reader schema of the files written under ``schema_id`` (plus the
        string columns ``extra``, e.g. a delta's ``__op``): given to the
        reader, it spares every read Spark's schema-inference job.
        char/varchar read as string, since Spark rejects them in a reader
        schema; the field-id projection casts them back."""
        written = TableSchema.from_json(self.manifest["schemas"][schema_id])
        struct = _chars_as_string(written.to_struct_type())
        for c in extra:
            struct.add(c, T.StringType())
        return struct

    def _projection_to(
        self, cur: TableSchema, schema_id: str, available: list[str]
    ) -> list[F.Column]:
        """Field-id projection of a file written under ``schema_id`` to the
        current schema (rename via id match, add via null, widen via cast)."""
        old = TableSchema.from_json(self.manifest["schemas"][schema_id])
        proj = []
        for fld in cur.fields:
            src_fld = old.field_by_id(fld.id)
            if src_fld is None or src_fld.name not in available:
                proj.append(F.lit(None).cast(fld.type).alias(fld.name))
            else:
                proj.append(F.col(src_fld.name).cast(fld.type).alias(fld.name))
        return proj

    def _mor_union(
        self, base: DataFrame, delta_entries: list[dict], cur: TableSchema
    ) -> DataFrame:
        """base ∪ delta files as one frame tagged (__op, __dseq): base rows
        carry ('u', 0); each delta file group carries its manifest commit
        seq, projected to the current schema by field id."""
        groups: dict[tuple[str, int], list[str]] = {}
        for e in delta_entries:
            groups.setdefault((str(e["schema_id"]), int(e["seq"])), []).append(
                os.path.join(self.root, e["path"])
            )
        parts = [
            base.select("*", F.lit("u").alias("__op"), F.lit(0).alias("__dseq"))
        ]
        for (sid, seq), paths in groups.items():
            raw = self.spark.read.schema(self._file_schema(sid, "__op")).parquet(*paths)
            proj = self._projection_to(cur, sid, raw.columns)
            parts.append(
                raw.select(*proj, F.col("__op"), F.lit(seq).alias("__dseq"))
            )
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _resolve_mor(
        self, base: DataFrame, delta_entries: list[dict], cur: TableSchema
    ) -> DataFrame:
        """base ∪ deltas → latest-wins per key → drop delete tombstones.

        One hash aggregate on the key columns: map-side partial ``max_by``
        collapses each key to one candidate per task, so a hot key's rows
        never funnel raw into a single reducer (the same defusal as the
        dedup's partial aggregation).  ``__dseq`` is the manifest seq the
        delta committed at — attached per file group from the manifest, not
        stored per row; base rows carry seq 0, so any delta beats base and
        later deltas beat earlier ones (a redelivered key appears in at most
        one delta per seq because MERGE takes pre-deduped change-sets)."""
        allr = self._mor_union(base, delta_entries, cur)
        keys = self.key_cols
        payload = [f.name for f in cur.fields if f.name not in keys]
        winner = F.max_by(
            F.struct(*[F.col(c) for c in payload], F.col("__op")), F.col("__dseq")
        ).alias("__w")
        resolved = allr.groupBy(*keys).agg(winner).where(F.col("__w.__op") != "d")
        return resolved.select(
            *[
                F.col(f.name) if f.name in keys else F.col(f"__w.{f.name}").alias(f.name)
                for f in cur.fields
            ]
        )

    def to_df(self) -> DataFrame:
        return self.read()

    def scan(self, predicate: str | None = None) -> DataFrame:
        """``SELECT * WHERE predicate`` with every metadata prune applied:
        static bucket pruning when the predicate pins the bucket column
        (:meth:`_buckets_from_predicate`), per-file min/max stats skipping
        for range/IN/null conjuncts (:mod:`.stats`), then the full predicate
        as a residual Spark filter — so the result is EXACTLY the filtered
        table regardless of how much pruning applied.  At 100 TB this is the
        read path for time-ranged and selective queries: with
        ``write.sort.cols`` clustering, a day's slice touches a handful of
        files instead of the whole table."""
        if predicate is None:
            return self.read()
        df = self.read(
            buckets=self._buckets_from_predicate(predicate),
            stats_predicate=predicate,
        )
        return df.filter(F.expr(predicate))

    # ------------------------------------------------------------------ #
    # write path
    # ------------------------------------------------------------------ #
    def _conform(self, df: DataFrame) -> DataFrame:
        """Project an incoming frame to exactly the current schema (casting)."""
        cur = self.schema
        cols = set(df.columns)
        proj = []
        for fld in cur.fields:
            if fld.name in cols:
                proj.append(F.col(fld.name).cast(fld.type).alias(fld.name))
            else:
                proj.append(F.lit(None).cast(fld.type).alias(fld.name))
        return df.select(*proj)

    def _write_files(
        self, df: DataFrame, pre_partitioned: bool = False
    ) -> tuple[list[dict], dict[int, int]]:
        """Write ``df`` (current schema) as bucketed parquet; return
        (file entries, per-bucket row counts).  ``pre_partitioned``: the
        frame already carries ``__bucket`` and is exchange-partitioned and
        sorted by it (the fused compaction path) — skip the layout shuffle.

        One shuffle on ``__bucket`` so each task writes whole buckets —
        avoids the tasks×buckets small-file explosion.  AQE coalesces when
        the rewrite is small; at scale, raise shuffle partitions so hot
        buckets split across multiple files (maxRecordsPerFile).

        Per-file stats and per-bucket row counts come from the new files'
        footers, read once each on the driver after the write
        (:func:`.stats.collect_entry_stats`): no extra Spark job, and
        O(files written this commit), never O(table).  File byte sizes come
        from driver inode stats (cheap metadata; a real object store
        surfaces them from the write committer).
        """
        self._assert_writable()  # before any data file lands (no orphans)
        snap_dir = f"data/snap-{self.manifest['seq'] + 1:08d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.root, snap_dir)
        shaped = (
            df  # pre-partitioned caller: __bucket present, exchange done
            if pre_partitioned
            else df.withColumn("__bucket", self.bucket_expr()).repartition(
                F.col("__bucket")
            )
        )
        sort_cols = self._sort_cols()
        if sort_cols:
            # clustered layout: in-partition sort only (no extra exchange);
            # leading __bucket keeps whole buckets contiguous per task, so
            # partitionBy still writes one file per bucket per task
            shaped = shaped.sortWithinPartitions("__bucket", *sort_cols)
        with _pin_micros_timestamps(self.spark):
            (
                shaped.write.option("maxRecordsPerFile", 5_000_000)
                .partitionBy("__bucket")
                .mode("overwrite")
                .parquet(out)
            )
        entries = []
        for p in glob.glob(os.path.join(out, "__bucket=*", "*.parquet")):
            bucket = int(p.split("__bucket=")[1].split(os.sep)[0])
            rel = os.path.relpath(p, self.root)
            entries.append(
                {
                    "path": rel,
                    "bucket": bucket,
                    "bytes": os.path.getsize(p),
                    "schema_id": self.manifest["schema_id"],
                }
            )
        bucket_rows = collect_entry_stats(
            self.root, entries, self.schema, self._stat_cols()
        )
        return entries, bucket_rows

    def _write_delta_files(
        self,
        changes: DataFrame,
        op_col: str,
        delete_value: str,
        order_col: str | None = None,
        pre_partitioned: bool = False,
        extra_obs: dict | None = None,
    ) -> tuple[list[dict], list[dict], dict]:
        """Write a change-set as merge-on-read delta files (upsert rows +
        delete tombstones, ``__op`` ∈ {'u','d'}); return (file entries,
        per-bucket stats rows).

        ONE Spark action: the per-bucket upsert/delete counts (and, when
        ``order_col`` is given, its min/max — the lineage offsets) ride the
        write via ``observe``, so a MOR merge needs no separate stats job,
        no cached change-set, and no scan of the existing table.  That is
        the point of the mode: per batch the engine moves O(batch) bytes,
        not O(touched table), which at 10^10-event scale (and on this
        sandbox's memory-bandwidth-bound host) is the difference between a
        scalable ingest and one that rewrites the table every micro-batch.

        ``extra_obs``: {name: aggregate Column} caller metrics folded into
        the SAME Observation (e.g. the SCD2 inverted-interval guard) —
        returned as the third tuple element.  Riding this Observation is
        the robust position for caller invariants: a separate observe on a
        sub-frame can be pruned with its subtree by the optimizer.
        """
        from pyspark.sql import Observation

        self._assert_writable()  # before any data file lands (no orphans)
        seq = self.manifest["seq"] + 1
        snap_dir = f"data/delta-{seq:08d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.root, snap_dir)
        cur = self.schema
        # pre_partitioned: the caller's change-set already carries __bucket
        # and is exchange-partitioned AND sorted by it (cdc.apply's
        # bucket-aligned dedup) — the write below then needs NO repartition
        # and NO writer-side sort: the batch's single payload shuffle was
        # the dedup's, and it doubled as the layout.
        df = (
            changes
            if pre_partitioned
            else changes.withColumn("__bucket", self.bucket_expr())
        )
        # the per-bucket aggregates are SQL text over internal columns only
        # (one Py4J call each, no caller value pasted into SQL): the delete
        # flag and the order column are computed once, by the Column API
        df = df.select(
            "*",
            (F.col(op_col) == delete_value).alias("__is_del"),
            *([F.col(order_col).alias("__ord")] if order_col is not None else []),
        )
        aggs = []
        for b in range(self.num_buckets):
            inb = f"__bucket = {b}"
            aggs.append(F.expr(f"count_if({inb} AND NOT __is_del) AS u{b}"))
            aggs.append(F.expr(f"count_if({inb} AND __is_del) AS d{b}"))
            if order_col is not None:
                aggs.append(F.expr(f"min(CASE WHEN {inb} THEN __ord END) AS lo{b}"))
                aggs.append(F.expr(f"max(CASE WHEN {inb} THEN __ord END) AS hi{b}"))
        for name, expr in (extra_obs or {}).items():
            aggs.append(expr.alias(f"x_{name}"))
        obs = Observation(f"rows-{snap_dir}")
        cols = set(changes.columns)
        proj = [
            F.col(f.name).cast(f.type).alias(f.name)
            if f.name in cols
            else F.lit(None).cast(f.type).alias(f.name)
            for f in cur.fields
        ]
        shaped = df.observe(obs, *aggs).select(
            *proj,
            F.when(F.col("__is_del"), F.lit("d")).otherwise(F.lit("u")).alias("__op"),
            F.col("__bucket"),
        )
        if not pre_partitioned:
            shaped = shaped.repartition(F.col("__bucket"))
        (
            shaped.write.option("maxRecordsPerFile", 5_000_000)
            .partitionBy("__bucket")
            .mode("overwrite")
            .parquet(out)
        )
        try:
            observed = dict(obs.get)
        except Exception:  # zero-task write (empty frame): no metrics row
            observed = {}
        stats = []
        for b in range(self.num_buckets):
            n_up = int(observed.get(f"u{b}") or 0)
            n_del = int(observed.get(f"d{b}") or 0)
            if n_up + n_del == 0:
                continue
            row = {"__bucket": b, "n_up": n_up, "n_del": n_del}
            if order_col is not None:
                row["first_event_seq"] = observed.get(f"lo{b}")
                row["last_event_seq"] = observed.get(f"hi{b}")
            stats.append(row)
        extras = {
            name: observed.get(f"x_{name}") for name in (extra_obs or {})
        }
        entries = []
        for p in glob.glob(os.path.join(out, "__bucket=*", "*.parquet")):
            bucket = int(p.split("__bucket=")[1].split(os.sep)[0])
            entries.append(
                {
                    "path": os.path.relpath(p, self.root),
                    "bucket": bucket,
                    "bytes": os.path.getsize(p),
                    "schema_id": self.manifest["schema_id"],
                    "seq": seq,
                }
            )
        return entries, stats, extras

    def _updated_bucket_rows(
        self, touched: set[int], new_rows: dict[int, int], add: bool = False
    ) -> dict[str, int]:
        """Next manifest's bucket_rows: touched buckets take (or add) the
        new counts, others carry over.  A legacy manifest (predating
        bucket_rows) seeds the carry-over from its per-file row counts so
        untouched buckets don't silently drop to zero on the first rewrite."""
        current = _seed_bucket_rows(self.manifest)
        out = {b: n for b, n in current.items() if int(b) not in touched or add}
        for b, n in new_rows.items():
            out[str(b)] = out.get(str(b), 0) + n if add else n
        return out

    def overwrite(self, df: DataFrame) -> None:
        """Full-table replace (CTAS / initial load).  Clears any live
        merge-on-read deltas — they described the replaced state."""
        entries, bucket_rows = self._write_files(self._conform(df))
        self._write_manifest(
            self._next_manifest(
                files=entries,
                deltas=[],
                bucket_rows={str(b): n for b, n in bucket_rows.items()},
            )
        )

    def append(self, df: DataFrame) -> None:
        """Blind append (reference S11: ``write.mode('append').saveAsTable``)."""
        entries, bucket_rows = self._write_files(self._conform(df))
        m = self._next_manifest()
        m["files"] = m["files"] + entries
        m["bucket_rows"] = self._updated_bucket_rows(set(), bucket_rows, add=True)
        self._write_manifest(m)

    # ------------------------------------------------------------------ #
    # MERGE (upsert + delete), exactly-once by batch_id
    # ------------------------------------------------------------------ #
    def has_batch(self, batch_id) -> bool:
        """Whether this handle's snapshot records ``batch_id`` as applied
        (batches another handle committed show up after :meth:`load`)."""
        return str(batch_id) in self.manifest.get("batches", {})

    # key types the MERGE file prune supports: same-type range comparisons
    # with no coercion traps (char padding, session-tz timestamps, NaN
    # floats are excluded on purpose — those buckets just rewrite whole,
    # which is always correct; decimal is out because Arrow cannot extract
    # footer stats for Spark's INT64/FLBA-backed decimals, so decimal keys
    # never have bounds to compare)
    _PRUNE_KEY_TYPES = frozenset(
        {"tinyint", "smallint", "int", "bigint", "string", "varchar",
         "date"}
    )

    def _merge_candidate_files(
        self,
        changes: DataFrame,
        touched: list[int],
        key_ranges: dict[int, tuple],
    ) -> tuple[set, list[dict], dict[int, int]] | None:
        """MERGE file pruning (Hudi bloom-index / Iceberg merge-on-read
        file-scoping analog, done with the per-file key min/max stats the
        manifest already carries): decide which BASE files in the touched
        buckets can possibly contain a change key.

        ``key_ranges`` maps bucket → (min, max) change key, computed inside
        the SAME discovery aggregation that finds the touched buckets, so
        the decision costs zero Spark actions: a file whose key interval is
        disjoint from its bucket's change-key range is clean.  This carries
        the classic CDC shape (monotone keys, updates skewed recent → only
        the newest files intersect).

        Returns ``(candidate_paths, clean_entries, clean_rows_per_bucket)``
        or ``None`` when no file is clean (no stats, unsupported key type,
        property off, nothing disjoint).  Soundness: a file is "clean"
        (kept as-is, never read or rewritten) only if its key interval
        provably excludes EVERY change key.  Conservative fallbacks: a file
        with missing or undecodable key bounds, a bucket carrying live MOR
        deltas (their keys are not in the file stats), a bucket with no
        usable change range, or a change key column that compares in a
        different domain from the table key → candidate.  NULL keys never
        join-match in MERGE's anti/semi joins, so bounds and ranges that
        ignore nulls stay sound.  Python string comparison is code-point
        order == UTF-8 byte order, matching both Spark's string ordering
        and the parquet-footer bound ordering, so the driver-side compares
        agree with the executors'.

        At 10^10-row scale this turns COW write amplification from
        O(touched buckets) into O(files whose key range the batch actually
        intersects).
        """
        from .stats import _base_type, _norm, same_comparison_domain

        if self.manifest["properties"].get(
            "write.merge.prune_files", "true"
        ).lower() != "true":
            return None
        key = self.key_cols[0]
        fld = self.schema.field_by_name(key)
        if fld is None or _base_type(fld.type) not in self._PRUNE_KEY_TYPES:
            return None
        # The ranges are sound only when the change-set's key column
        # compares in the SAME domain the table key does: the per-bucket
        # min/max was computed under the CHANGES column's native ordering,
        # and e.g. a string-typed change key gives lexical bounds ("10" <
        # "9") that _norm would silently cross-coerce into numeric — an
        # inverted range that could mark a file clean while it holds a
        # change key.
        try:
            ch_type = changes.schema[key].dataType.simpleString()
        except KeyError:  # key column named in another letter case
            return None
        if not same_comparison_domain(ch_type, fld.type):
            return None
        # normalized per-bucket change-key ranges; a range with a NULL end
        # (all-NULL keys) or a normalization failure degrades to "no range"
        # for that bucket
        ranges: dict[int, tuple] = {}
        for b, (c_lo, c_hi) in key_ranges.items():
            if c_lo is None or c_hi is None:
                continue
            ok_l, nl = _norm(fld.type, c_lo)
            ok_h, nh = _norm(fld.type, c_hi)
            if ok_l and ok_h:
                ranges[int(b)] = (nl, nh)
        fid = str(fld.id)
        tset = set(touched)
        delta_buckets = {
            e["bucket"] for e in self.manifest.get("deltas", [])
            if e["bucket"] in tset
        }

        candidates: set = set()
        clean: list[dict] = []
        for f in self.manifest["files"]:
            if f["bucket"] not in tset:
                continue
            st = (f.get("stats") or {}).get(fid)
            rng = ranges.get(int(f["bucket"]))
            if (
                f["bucket"] in delta_buckets or rng is None
                or not st or st[0] is None
            ):
                candidates.add(f["path"])
                continue
            lo_ok, lo = _norm(fld.type, st[0])
            hi_ok, hi = (True, None) if st[1] is None else _norm(fld.type, st[1])
            rows = st[3] if len(st) > 3 else None
            if (
                lo_ok and hi_ok and rows is not None
                and ((hi is not None and hi < rng[0]) or lo > rng[1])
            ):
                clean.append(f)  # disjoint from the change range
            else:
                candidates.add(f["path"])
        if not clean:
            return None
        clean_rows: dict[int, int] = {}
        for f in clean:
            b = int(f["bucket"])
            clean_rows[b] = clean_rows.get(b, 0) + int(f["stats"][fid][3])
        return candidates, clean, clean_rows

    def merge(
        self,
        changes: DataFrame,
        op_col: str = "op",
        delete_value: str = "delete",
        batch_id=None,
        broadcast_changes: bool | None = None,
        count_deletes: bool = True,
        broadcast_max_rows: int = 500_000,
        bucket_stats: list[dict] | None = None,
        mode: str | None = None,
        order_col: str | None = None,
        pre_partitioned: bool = False,
        extra_obs: dict | None = None,
    ) -> dict:
        """MERGE of a pre-deduped change-set: copy-on-write (default) or
        merge-on-read.

        ``mode``: "cow" rewrites the touched buckets (read amplification
        zero, write amplification O(touched table) per batch); "mor" lands
        the change-set as delta files + delete tombstones in one pass
        (write amplification O(batch); readers fold deltas in until
        :meth:`compact`).  ``None`` takes the table property
        ``write.merge.mode`` (default "cow").  High-rate CDC ingest wants
        "mor" + periodic compaction — the Iceberg v2 position on the same
        trade-off.  ``order_col`` (mor only): event-offset column observed
        per bucket for lineage; dropped before the files are written.

        ``changes``: exactly one row per key (last-writer-wins dedup happens
        upstream in ``cdc.apply``), columns ⊇ current schema + ``op_col``.

        Plan shape (the one you'd want at 100 TB):
          1. touched buckets  ← distinct bucket of changes (tiny collect).
          2. existing         ← file-pruned scan of ONLY those buckets;
             within them, files whose per-file key min/max provably exclude
             every change key are KEPT in the manifest unread+unrewritten
             (:meth:`_merge_candidate_files` — the Hudi-bloom-index move,
             done with the stats the manifest already carries; disable per
             table with ``write.merge.prune_files=false``).
          3. survivors        ← existing LEFT ANTI join with the change keys.
             The key set is broadcast only when the change-set is small
             (``broadcast_max_rows``, decided from the SAME aggregation that
             finds touched buckets — no extra action); a big batch (initial
             load, backfill) falls back to a shuffle anti-join instead of
             OOMing the driver.  ``broadcast_changes=True/False`` overrides.
          4. new bucket data  ← survivors ∪ upserts (deletes drop out).
          5. one shuffle on __bucket to lay the rewrite out; commit manifest
             swapping the touched buckets' files.

        Returns stats {rows_upserted, rows_deleted, touched_buckets, skipped};
        ``rows_deleted`` is the EXACT count (delete keys actually present)
        only when ``count_deletes=True``; otherwise it is omitted and only
        ``rows_delete_requested`` is reported.

        ``bucket_stats``: optional precomputed per-bucket
        ``{__bucket, n_up, n_del, k_lo, k_hi}`` rows (e.g. from
        ``cdc.apply_batch``'s fused per-batch stats job).  When given, the
        discovery aggregation is skipped and the write is this call's only
        Spark action (the file prune reads only the manifest).  Counted per
        call, a clean COW merge of a 2,000-row batch into a 4-bucket table
        runs 9 Spark jobs without ``bucket_stats`` (6 with
        ``count_deletes=False``): AQE splits the discovery aggregate, the
        exact-delete count and the write into several jobs each; the scan
        and the commit's footer reads run none.  Held by
        ``tests/test_job_budget.py::test_cow_merge_job_budget``.
        """
        with self._write_lock:
            return self._merge_locked(
                changes, op_col, delete_value, batch_id, broadcast_changes,
                count_deletes, broadcast_max_rows, bucket_stats, mode,
                order_col, pre_partitioned, extra_obs,
            )

    def _merge_locked(
        self,
        changes: DataFrame,
        op_col: str,
        delete_value: str,
        batch_id,
        broadcast_changes: bool | None,
        count_deletes: bool,
        broadcast_max_rows: int,
        bucket_stats: list[dict] | None,
        mode: str | None,
        order_col: str | None,
        pre_partitioned: bool,
        extra_obs: dict | None = None,
    ) -> dict:
        if batch_id is not None and self.has_batch(batch_id):
            return {"skipped": True, "batch_id": batch_id}
        mode = mode or self.manifest["properties"].get("write.merge.mode", "cow")
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}")
        if mode == "mor":
            return self._merge_mor(
                changes, op_col, delete_value, batch_id, count_deletes,
                order_col, pre_partitioned, extra_obs,
            )

        keys = self.key_cols
        # Persist the change-set: every downstream action (bucket stats,
        # delete count, file write) reuses it instead of re-running the
        # upstream dedup/shuffle DAG — this took the replay from O(actions ×
        # full-DAG) to O(1 DAG + tiny cached scans) per batch.
        changes = changes.withColumn("__bucket", self.bucket_expr()).persist()
        try:
            if bucket_stats is None:
                # ONE aggregation action yields touched buckets + upsert
                # count + per-bucket change-key range (the free tier of the
                # MERGE file prune rides the same shuffle).
                bucket_stats = (
                    changes.groupBy("__bucket")
                    .agg(
                        F.sum(F.when(F.col(op_col) != delete_value, 1).otherwise(0)).alias("n_up"),
                        F.sum(F.when(F.col(op_col) == delete_value, 1).otherwise(0)).alias("n_del"),
                        F.min(keys[0]).alias("k_lo"),
                        F.max(keys[0]).alias("k_hi"),
                    )
                    .collect()
                )
            touched = [int(r["__bucket"]) for r in bucket_stats]
            rows_upserted = int(sum(r["n_up"] for r in bucket_stats))
            deletes_requested = int(sum(r["n_del"] for r in bucket_stats))
            key_ranges = {
                int(r["__bucket"]): (r["k_lo"], r["k_hi"]) for r in bucket_stats
            }

            # A touched bucket "has rows" if it has BASE FILES or live MOR
            # DELTAS — a mor-ingested, not-yet-compacted bucket has an empty
            # files list but a non-empty read; skipping the anti-join for it
            # would keep stale row versions alongside the upserts and ignore
            # deletes.
            touched_set = set(touched)
            touched_has_files = any(
                f["bucket"] in touched_set
                for f in self.manifest["files"] + self.manifest.get("deltas", [])
            )
            clean_entries: list[dict] = []
            clean_rows: dict[int, int] = {}
            prune = (
                self._merge_candidate_files(changes, touched, key_ranges)
                if touched_has_files
                else None
            )
            if prune is None:
                existing = self.read(buckets=touched)
            else:
                candidates, clean_entries, clean_rows = prune
                # clean files provably hold no change key: keep them in the
                # manifest untouched; scan + anti-join + rewrite run over
                # candidate files (and any live deltas) only
                existing = self.read(
                    buckets=touched, file_subset=frozenset(candidates)
                )
            if touched_has_files:
                change_keys = changes.select(*keys)
                n_changes = rows_upserted + deletes_requested
                # Keys-only tier: the anti-join needs just the key columns
                # of the change-set, so the existing side — the BIG side,
                # the whole touched region of the table — stays put
                # (scan → filter → write, no shuffle) for change-sets well
                # past the full-row broadcast cap.  On the 8M-event replay
                # this removes a full-width shuffle of 0.6-2.5 GB per batch.
                if _anti_join_strategy(
                    n_changes, broadcast_changes, broadcast_max_rows
                ) in ("broadcast", "keys"):
                    change_keys = F.broadcast(change_keys)
                survivors = existing.join(change_keys, on=keys, how="left_anti")
            else:
                # initial load / all-new buckets: nothing to survive, so skip
                # the anti-join entirely — otherwise a backfill would shuffle
                # the whole change-key set against an empty scan for nothing.
                survivors = existing

            rows_deleted = 0
            if count_deletes and deletes_requested:
                # exact deletes = delete keys actually present (file-pruned
                # scan of touched buckets only; change side is cached).
                deletes = changes.filter(F.col(op_col) == delete_value).select(*keys)
                rows_deleted = deletes.join(
                    existing.select(*keys), on=keys, how="left_semi"
                ).count()

            upserts = self._conform(changes.filter(F.col(op_col) != delete_value))
            new_data = survivors.unionByName(upserts)
            entries, bucket_rows = self._write_files(new_data)
        finally:
            changes.unpersist()

        n_touched_files = sum(
            1 for f in self.manifest["files"] if f["bucket"] in touched_set
        )
        for b, n in clean_rows.items():  # kept files' rows re-enter the count
            bucket_rows[b] = bucket_rows.get(b, 0) + n
        kept = [f for f in self.manifest["files"] if f["bucket"] not in touched_set]
        m = self._next_manifest(
            files=kept + clean_entries + entries,
            # the rewrite read a MOR-resolved ``existing``: any deltas on the
            # touched buckets are folded into ``entries`` and must go.
            deltas=[
                e
                for e in self.manifest.get("deltas", [])
                if e["bucket"] not in touched_set
            ],
            bucket_rows=self._updated_bucket_rows(touched_set, bucket_rows),
            batch_id=batch_id,
        )
        self._write_manifest(m)

        stats = {
            "skipped": False,
            "rows_upserted": rows_upserted,
            "rows_delete_requested": deletes_requested,
            "touched_buckets": sorted(touched),
            "files_kept": len(clean_entries),
            "files_rewritten": n_touched_files - len(clean_entries),
            "seq": m["seq"],
        }
        if count_deletes:
            stats["rows_deleted"] = rows_deleted
        return stats

    def _merge_mor(
        self,
        changes: DataFrame,
        op_col: str,
        delete_value: str,
        batch_id,
        count_deletes: bool,
        order_col: str | None,
        pre_partitioned: bool = False,
        extra_obs: dict | None = None,
    ) -> dict:
        """Merge-on-read MERGE: ONE write action lands the change-set as
        delta files (stats observed on the write itself), the manifest gains
        the delta entries, and the existing table is never scanned.  Exact
        delete accounting (``count_deletes=True``) re-runs the change DAG
        for a semi-join vs the pre-merge state — keep it off the hot path.
        """
        entries, bstats, observed_extras = self._write_delta_files(
            changes, op_col, delete_value, order_col, pre_partitioned,
            extra_obs,
        )
        touched = sorted(r["__bucket"] for r in bstats)
        rows_upserted = int(sum(r["n_up"] for r in bstats))
        deletes_requested = int(sum(r["n_del"] for r in bstats))

        rows_deleted = 0
        if count_deletes and deletes_requested:
            deletes = changes.filter(F.col(op_col) == delete_value).select(
                *self.key_cols
            )
            rows_deleted = deletes.join(  # pre-merge state: manifest not yet swapped
                self.read(buckets=touched).select(*self.key_cols),
                on=self.key_cols,
                how="left_semi",
            ).count()

        m = self._next_manifest(
            deltas=self.manifest.get("deltas", []) + entries,
            batch_id=batch_id,
        )
        self._write_manifest(m)

        stats = {
            "skipped": False,
            "mode": "mor",
            "rows_upserted": rows_upserted,
            "rows_delete_requested": deletes_requested,
            "touched_buckets": touched,
            "seq": m["seq"],
            "bucket_stats": bstats,
            "observed_extras": observed_extras,
        }
        if count_deletes:
            stats["rows_deleted"] = rows_deleted
        return stats

    def commit_staged_deltas(
        self,
        files: list[tuple[str, int]],
        batch_id=None,
        stats: dict | None = None,
    ) -> dict:
        """Adopt externally-staged delta files as one MOR delta commit.

        The multi-table demux writes EVERY routed table's deltas in a
        single Spark job (``partitionBy(table, bucket)`` into a staging
        dir); each table then adopts its staged files here — a same-fs
        rename per file plus one manifest commit, no Spark work.  Contract
        (same as ``merge(mode="mor")``): files carry this table's CURRENT
        schema columns plus ``__op`` ('u'/'d'), and the change-set was
        pre-deduped per key within the batch.

        ``files``: [(staged_path, bucket)].  Exactly-once on ``batch_id``:
        the manifest this call links records the batch; an empty list still
        commits one (a table with no rows in this mixed batch must not
        re-apply on redelivery).  No Spark job runs here.
        """
        import shutil

        with self._write_lock:
            if batch_id is not None and self.has_batch(batch_id):
                return {"skipped": True, "batch_id": batch_id}
            self._assert_writable()
            seq = self.manifest["seq"] + 1
            snap_dir = f"data/delta-{seq:08d}-{uuid.uuid4().hex[:8]}"
            entries = []
            for src, bucket in files:
                dst_dir = os.path.join(
                    self.root, snap_dir, f"__bucket={int(bucket)}"
                )
                os.makedirs(dst_dir, exist_ok=True)
                dst = os.path.join(dst_dir, os.path.basename(src))
                try:
                    _fs(os.rename, src, dst)
                except OSError:  # cross-device staging dir: copy fallback
                    _fs(shutil.move, src, dst)
                entries.append(
                    {
                        "path": os.path.relpath(dst, self.root),
                        "bucket": int(bucket),
                        "bytes": os.path.getsize(dst),
                        "schema_id": self.manifest["schema_id"],
                        "seq": seq,
                    }
                )
            m = self._next_manifest(
                deltas=self.manifest.get("deltas", []) + entries,
                batch_id=batch_id,
            )
            self._write_manifest(m)
            return {
                "skipped": False,
                "mode": "mor",
                "gang": True,
                "seq": m["seq"],
                "touched_buckets": sorted({int(b) for _, b in files}),
                **(stats or {}),
            }

    # ------------------------------------------------------------------ #
    # compaction (MOR maintenance: fold deltas back into the base)
    # ------------------------------------------------------------------ #
    def delta_detail(self) -> dict:
        """Per-table delta footprint — the compaction trigger's input.
        Metadata only: {num_delta_files, delta_bytes, buckets}."""
        deltas = self.manifest.get("deltas", [])
        return {
            "num_delta_files": len(deltas),
            "delta_bytes": sum(e.get("bytes", 0) for e in deltas),
            "buckets": sorted({e["bucket"] for e in deltas}),
        }

    def _resolve_compact_frame(self, buckets: list[int], wsalt: int = 8) -> DataFrame:
        """MOR resolution shaped for the compaction rewrite: ONE exchange on
        (__bucket, key-hash salt) doubles as the output layout, and the
        latest-wins pick is a window-lag over the in-partition sort instead
        of a second groupBy shuffle — the same single-shuffle fusion as
        ``cdc.apply.dedup_bucket_aligned``, so compaction scales like the
        ingest it serves rather than paying the payload exchange twice.
        Returns current-schema columns + ``__bucket``, partitioned AND
        sorted by it (feed to ``_write_files(pre_partitioned=True)``)."""
        from pyspark.sql import Window

        cur = self.schema
        base = self._read_base(cur, buckets)
        bset = set(buckets)
        deltas = [
            e for e in self.manifest.get("deltas", []) if e["bucket"] in bset
        ]
        allr = self._mor_union(base, deltas, cur)
        keys = self.key_cols
        khash = F.xxhash64(*[F.col(k) for k in keys])
        df = allr.withColumn("__bucket", self.bucket_expr()).withColumn(
            "__wsalt", F.pmod(khash, F.lit(wsalt))
        )
        df = df.repartition(F.col("__bucket"), F.col("__wsalt"))
        w = Window.partitionBy("__bucket", "__wsalt").orderBy(
            khash, *[F.col(k) for k in keys], F.desc("__dseq")
        )
        same_key = reduce(
            lambda a, b: a & b,
            [F.lag(F.col(k)).over(w).eqNullSafe(F.col(k)) for k in keys],
        )
        winner = F.lag(F.col("__dseq")).over(w).isNull() | ~same_key
        return (
            df.withColumn("__is_winner", winner)
            .filter(F.col("__is_winner") & (F.col("__op") != "d"))
            .select(*[F.col(f.name) for f in cur.fields], F.col("__bucket"))
        )

    def maybe_compact(self, max_delta_ratio: float = 0.3) -> dict:
        """Policy-triggered compaction: fold deltas only for buckets whose
        delta bytes exceed ``max_delta_ratio`` x the bucket's base bytes
        (a bucket with no base compacts as soon as it has any delta).
        Metadata-only decision — no scan; the trigger every sustained-ingest
        loop wants between batches (cf. Iceberg's maintenance thresholds)."""
        base_bytes: dict[int, int] = {}
        for f in self.manifest["files"]:
            base_bytes[f["bucket"]] = base_bytes.get(f["bucket"], 0) + f.get("bytes", 0)
        delta_bytes: dict[int, int] = {}
        for e in self.manifest.get("deltas", []):
            delta_bytes[e["bucket"]] = delta_bytes.get(e["bucket"], 0) + e.get("bytes", 0)
        due = sorted(
            b
            for b, d in delta_bytes.items()
            if d > max_delta_ratio * base_bytes.get(b, 0)
        )
        if not due:
            return {"compacted_buckets": [], "skipped": True}
        return self.compact(buckets=due)

    def compact(self, buckets: list[int] | None = None) -> dict:
        """Fold merge-on-read deltas back into base files (bucket-scoped).

        The MOR-resolved read of the delta-bearing buckets is rewritten as
        plain base files (one shuffle on ``__bucket``, row counts from the
        new footers), the buckets' deltas leave the manifest, and per-bucket
        counts become exact again.  Equivalent to Iceberg's rewrite_data_files
        maintenance; run it on a schedule or when :meth:`delta_detail`'s
        bytes cross a threshold — ingest never blocks on it.
        """
        deltas = self.manifest.get("deltas", [])
        scope = set(buckets) if buckets is not None else None
        target = sorted(
            {e["bucket"] for e in deltas if scope is None or e["bucket"] in scope}
        )
        if not target:
            return {"compacted_buckets": [], "skipped": True}
        resolved = self._resolve_compact_frame(target)
        entries, bucket_rows = self._write_files(resolved, pre_partitioned=True)
        tset = set(target)
        kept_files = [f for f in self.manifest["files"] if f["bucket"] not in tset]
        kept_deltas = [e for e in deltas if e["bucket"] not in tset]
        self._write_manifest(
            self._next_manifest(
                files=kept_files + entries,
                deltas=kept_deltas,
                bucket_rows=self._updated_bucket_rows(tset, bucket_rows),
            )
        )
        return {
            "compacted_buckets": target,
            "skipped": False,
            "rows": int(sum(bucket_rows.values())),
            "remaining_delta_files": len(kept_deltas),
        }

    # ------------------------------------------------------------------ #
    # row-level UPDATE / DELETE (reference S14 point updates,
    # migration-data-validation.py:1756-1769; validation_summary.py passim)
    # ------------------------------------------------------------------ #
    def _buckets_from_predicate(self, predicate: str) -> list[int] | None:
        """Static bucket pruning via a Catalyst expression-tree walk.

        The predicate is parsed with Spark's own SQL parser; if some
        TOP-LEVEL conjunct pins the bucket column to literal value(s)
        (``src = lit``, ``lit = src``, ``src <=> lit``, ``src IN (lits)``),
        return those literals' buckets so the discovery scan is file-pruned
        up front.  Soundness: a top-level conjunct must hold for any row to
        match, so pruning on one pinning conjunct never excludes a matching
        row, and every OTHER conjunct shape (ranges, functions, OR/NOT
        subtrees) is simply ignored — it can only forgo extra pruning, never
        cause a miss.  Returns None (full scan) when nothing pins the
        column.  The parse walk handles shapes the earlier regex sketch had
        to bail on or missed: backticked columns, reversed operands
        (``'x' = src``), parenthesized conjunctions, BETWEEN, and non-integer
        literals (a float literal is cast to the column type exactly, not
        string-truncated)."""
        import datetime as _dt

        from .stats import (
            UndecodableLiteral,
            _session_tz_is_utc,
            expr_kind as kind,
            iter_conjuncts as conjuncts,
            literal_in_column_domain,
            literal_value as py_literal,
            parse_expression,
            simple_attr_name as attr_name,
        )

        jexpr = parse_expression(self.spark, predicate)
        if jexpr is None:
            return None

        src_l = self.bucket_source.lower()
        pinned = None
        try:
            for c in conjuncts(jexpr):
                k = kind(c)
                if k in ("EqualTo", "EqualNullSafe"):
                    left, right = c.left(), c.right()
                    for a, b in ((left, right), (right, left)):
                        name = attr_name(a)
                        if name and name.lower() == src_l and kind(b) == "Literal":
                            pinned = [py_literal(b)]
                            break
                elif k == "In":
                    name = attr_name(c.value())
                    if name and name.lower() == src_l:
                        lst = c.list()
                        items = [lst.apply(i) for i in range(lst.size())]
                        if items and all(kind(i) == "Literal" for i in items):
                            pinned = [py_literal(i) for i in items]
                if pinned:
                    break
        except UndecodableLiteral:
            return None
        if not pinned:
            return None
        if any(isinstance(v, _dt.datetime) for v in pinned) and not (
            _session_tz_is_utc(self.spark)
        ):
            # literal micros are a UTC instant; re-encoding under another
            # session tz could hash a different bucket — forgo pruning
            return None

        fld0 = self.schema.field_by_name(self.bucket_source)
        if fld0 is not None and not all(
            literal_in_column_domain(fld0.type, v) for v in pinned
        ):
            # e.g. ``repo = 10`` on a string bucket column: Spark compares
            # numerically, so '10.0' matches yet hashes to a different
            # bucket than lit(10) — pruning here would silently miss rows
            return None

        fld = self.schema.field_by_name(self.bucket_source)
        type_str = fld.type if fld else "string"
        cols = [
            F.pmod(F.xxhash64(F.lit(v).cast(type_str)), F.lit(self.num_buckets))
            .cast("int")
            .alias(f"b{i}")
            for i, v in enumerate(pinned)
        ]
        row = self.spark.range(1).select(*cols).first()
        return sorted({int(b) for b in row})

    def _discover_touched(self, predicate: str) -> tuple[list[int], int]:
        """ONE scan + one action: (touched buckets, matching-row count).
        The scan is file-pruned up front when the predicate pins the bucket
        column to literals, and per-file min/max stats skip base files no
        matching row can live in (range predicates prune here too)."""
        pre = self._buckets_from_predicate(predicate)
        df = self.read(buckets=pre, with_bucket=True, stats_predicate=predicate)
        row = (
            df.filter(F.expr(predicate))
            .agg(
                F.collect_set("__bucket").alias("b"),
                F.count(F.lit(1)).alias("n"),
            )
            .first()
        )
        return sorted(int(b) for b in (row["b"] or [])), int(row["n"])

    def update_where(self, predicate: str, assignments: dict[str, object]) -> int:
        """``UPDATE t SET col = expr WHERE pred`` as copy-on-write rewrite.

        ``assignments`` maps column → pyspark ``Column`` OR a SQL expression
        string.  A bare string is parsed with ``F.expr`` — quote literals
        (``{"lang": "'python'"}``) or pass ``F.lit("python")`` directly.
        Two scans total: one fused discovery pass (touched buckets + match
        count in a single action, bucket-pruned when the predicate pins the
        bucket column) and one file-pruned rewrite of the touched buckets.
        Returns #rows updated.
        """
        for c, v in assignments.items():
            if not isinstance(v, (Column, str)):
                raise TypeError(
                    f"assignment for {c!r} must be a Column or SQL expression "
                    f"string, got {type(v).__name__}"
                )
            if self.schema.field_by_name(c) is None:
                # withColumns would ADD an unknown column and _conform would
                # silently drop it: the call would report rows "updated"
                # while writing a byte-identical rewrite — fail loudly
                raise ValueError(f"unknown column {c!r} in UPDATE assignments")
            if c == self.bucket_source or c in self.key_cols:
                # rewriting the bucket-source (or a key) would migrate rows
                # into buckets outside the touched set, corrupting the
                # per-bucket row accounting and breaking key-pruned reads.
                raise ValueError(
                    f"cannot UPDATE {c!r}: it is the bucket/key column; "
                    "delete + re-insert (MERGE) instead"
                )
        touched, n = self._discover_touched(predicate)
        if not touched:
            return 0
        scoped = self.read(buckets=touched)
        updated = scoped.withColumns(
            {
                c: F.when(
                    F.expr(predicate),
                    v if isinstance(v, Column) else F.expr(v),
                ).otherwise(F.col(c))
                for c, v in assignments.items()
            }
        )
        entries, bucket_rows = self._write_files(self._conform(updated))
        self._commit_bucket_rewrite(set(touched), entries, bucket_rows)
        return n

    def delete_where(self, predicate: str) -> int:
        """``DELETE FROM t WHERE pred`` — bucket-pruned copy-on-write.
        Same two-scan shape as :meth:`update_where`."""
        touched, n = self._discover_touched(predicate)
        if not touched:
            return 0
        scoped = self.read(buckets=touched)
        survivors = scoped.filter(~F.expr(predicate))
        entries, bucket_rows = self._write_files(self._conform(survivors))
        self._commit_bucket_rewrite(set(touched), entries, bucket_rows)
        return n

    def _commit_bucket_rewrite(
        self, touched: set[int], entries: list[dict], bucket_rows: dict[int, int]
    ) -> None:
        """Swap the touched buckets' base files for ``entries``.  The
        rewrite came from a MOR-resolved :meth:`read`, so the buckets'
        deltas are folded in and must leave the manifest with the old files
        — keeping them would re-apply them on top of the rewrite."""
        kept = [f for f in self.manifest["files"] if f["bucket"] not in touched]
        kept_deltas = [
            e for e in self.manifest.get("deltas", []) if e["bucket"] not in touched
        ]
        self._write_manifest(
            self._next_manifest(
                files=kept + entries,
                deltas=kept_deltas,
                bucket_rows=self._updated_bucket_rows(touched, bucket_rows),
            )
        )

    # ------------------------------------------------------------------ #
    # snapshot expiry / vacuum (reference S16 DROP/purge,
    # migration-data-validation.py:1687-1699)
    # ------------------------------------------------------------------ #
    def expire_snapshots(self, keep_last: int = 1, min_age_s: float = 0.0) -> dict:
        """Drop manifest versions older than the newest ``keep_last`` and
        delete data files referenced only by the expired versions.

        COW merges de-reference superseded files but never delete them, so
        without vacuum storage grows without bound.  Files referenced by ANY
        retained manifest survive (time-travel over the retained window
        stays valid).  Returns {manifests_removed, files_removed,
        bytes_reclaimed}.

        Concurrency contract: vacuum assumes a SINGLE writer (the same
        assumption every manifest-swap commit here makes), but readers may
        be concurrent — a reader that resolved an older manifest could still
        be scanning files this call would delete.  ``min_age_s`` is the
        grace period for that race: an otherwise-expired manifest younger
        than ``min_age_s`` is retained (files and all) this cycle, so any
        reader that planned its scan within the window keeps its files.  Set
        it comfortably above the longest expected query wall (the same
        contract as Iceberg's ``expireSnapshots(olderThan=...)``); the
        default 0 is only safe with no concurrent readers.
        """
        self._assert_writable()  # vacuum deletes files: not for pinned handles
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        mdir = os.path.join(self.root, "_manifest")
        versions = sorted(glob.glob(os.path.join(mdir, "v*.json")))
        expired, kept = versions[:-keep_last], versions[-keep_last:]
        if min_age_s > 0 and expired:
            cutoff = time.time() - min_age_s
            young = [p for p in expired if os.path.getmtime(p) >= cutoff]
            expired = [p for p in expired if os.path.getmtime(p) < cutoff]
            kept = young + kept
        live: set[str] = set()
        for mp in kept:
            with open(mp) as f:
                m = json.load(f)
            for entry in m["files"] + m.get("deltas", []):
                live.add(entry["path"])
        # files referenced by the manifests expiring THIS cycle are provably
        # committed-then-superseded: safe to delete at any age
        superseded: set[str] = set()
        for mp in expired:
            with open(mp) as f:
                m = json.load(f)
            for entry in m["files"] + m.get("deltas", []):
                superseded.add(entry["path"])
        # expired manifests go FIRST: a crash part-way through leaves at
        # worst unreferenced data files, which the next run sweeps up —
        # never a manifest pointing at deleted files
        for mp in expired:
            _fs(os.remove, mp)
        data_root = os.path.join(self.root, "data")
        files_removed = 0
        bytes_reclaimed = 0
        data_cutoff = time.time() - min_age_s
        for p in glob.glob(os.path.join(data_root, "**", "*.parquet"), recursive=True):
            rel = os.path.relpath(p, self.root)
            if rel not in live:
                # min_age_s gates TRUE ORPHANS (referenced by no manifest at
                # all): a young one may belong to a concurrent writer that
                # has landed its snapshot dir but not yet won the manifest
                # CAS — deleting it would corrupt that writer's commit
                if (
                    min_age_s > 0
                    and rel not in superseded
                    and os.path.getmtime(p) >= data_cutoff
                ):
                    continue
                bytes_reclaimed += os.path.getsize(p)
                _fs(os.remove, p)
                files_removed += 1
        # drop now-empty snapshot directories (bottom-up)
        for d, subdirs, fnames in os.walk(data_root, topdown=False):
            if d != data_root and not subdirs and not fnames:
                try:
                    _fs(os.rmdir, d)
                except OSError:
                    pass
        return {
            "manifests_removed": len(expired),
            "files_removed": files_removed,
            "bytes_reclaimed": bytes_reclaimed,
        }

    # ------------------------------------------------------------------ #
    # introspection
    # ------------------------------------------------------------------ #
    def detail(self, exact_rows: bool = False) -> dict:
        """``DESCRIBE DETAIL`` analog (reference A7 size metric,
        migration-data-validation.py:1642-1643): files/bytes from manifest +
        footers — metadata only, no scan.

        ``num_rows``: metadata-only while no MOR deltas are live.  With live
        deltas an exact count requires resolving them (a full read — exactly
        the steady state a monitoring loop polls in), so the default reports
        the cheap BASE row count plus ``rows_approximate: True`` and the
        delta byte/file pressure (:meth:`delta_detail` is the scan-free
        compaction signal); pass ``exact_rows=True`` to pay the resolved
        count."""
        files = self.manifest["files"]
        size = 0
        for f in files:
            if "bytes" in f:  # recorded at commit from a driver inode stat
                size += f["bytes"]
            else:  # legacy entry — driver stat fallback
                p = os.path.join(self.root, f["path"])
                if os.path.exists(p):
                    size += os.path.getsize(p)
        has_deltas = bool(self.manifest.get("deltas"))
        if has_deltas and not exact_rows:
            num_rows, approx = _manifest_rows(self.manifest), True
        else:
            num_rows, approx = self.row_count(), False
        out = {
            "num_files": len(files),
            "num_rows": num_rows,
            "size_in_bytes": size,
            "num_buckets": self.num_buckets,
            "schema_id": self.manifest["schema_id"],
            "seq": self.manifest["seq"],
        }
        if approx:
            out["rows_approximate"] = True
        dd = self.delta_detail()
        if dd["num_delta_files"]:
            out["num_delta_files"] = dd["num_delta_files"]
            out["delta_bytes"] = dd["delta_bytes"]
        return out

    def changes(
        self,
        since_seq: int,
        until_seq: int | None = None,
        with_preimage: bool = False,
    ) -> DataFrame:
        """Change data feed: NET row-level changes between two committed
        snapshots, as the current-schema columns plus ``_change_type`` ∈
        {'insert', 'update_postimage', 'delete'} (Delta ``table_changes`` /
        Iceberg ``create_changelog_view`` analog; net semantics — a key
        inserted then deleted inside the window emits nothing).

        ``with_preimage=True`` additionally emits an ``update_preimage``
        row per update (the Delta CDF four-type shape) — the form
        downstream INCREMENTAL consumers need: an additive aggregate
        retracts the pre-image and applies the post-image (lake/ivm.py).
        Cost: the same single join; updates fan out to two rows through
        one narrow inline (no second join, no extra shuffle).

        Snapshot-diff plan, so it works for COW and MOR commits alike: ONE
        full-outer join of the two snapshot reads on the key columns, with a
        null-safe struct comparison over the payload columns deciding
        update-vs-unchanged.  An old snapshot written under an earlier
        schema id is projected to the current schema by field id first
        (rename-safe, null-fill, widen), so the feed is stable across
        schema evolution.

        **Bucket-pruned**: a key's bucket is fixed by the partition spec,
        so any row that changed lives in a bucket whose manifest file list
        (base files + delta files) differs between the two snapshots — the
        diff reads ONLY those buckets from each side.  At steady state the
        feed costs O(touched buckets), not O(table): this is what keeps an
        incremental consumer (lake/ivm.py) cheap when one CDC batch lands
        on a 10^10-row table.  If the partition spec changed inside the
        window (:meth:`rebucket`) bucket ids are not comparable and the
        diff falls back to the full join.  A bucket rewritten with
        identical rows (compaction) is scanned but yields no change rows —
        pruning is conservative, never lossy.

        ``until_seq`` defaults to this handle's snapshot.  Both seqs must be
        within the retention window (:meth:`expire_snapshots`)."""
        until_seq = int(self.manifest["seq"]) if until_seq is None else until_seq
        if since_seq > until_seq:
            raise ValueError(f"since_seq {since_seq} > until_seq {until_seq}")
        new_t = (
            self
            if until_seq == int(self.manifest["seq"])
            else self.at_version(until_seq)
        )
        old_t = self.at_version(since_seq)
        cur = new_t.schema
        keys = self.key_cols
        payload = [f.name for f in cur.fields if f.name not in keys]

        prune: list[int] | None = None
        if old_t.manifest.get("partition") == new_t.manifest.get("partition"):

            def _sig(m: dict) -> dict[int, frozenset]:
                by_bucket: dict[int, set] = {}
                for f in m["files"]:
                    by_bucket.setdefault(int(f["bucket"]), set()).add(
                        ("b", f["path"])
                    )
                for e in m.get("deltas", []):
                    by_bucket.setdefault(int(e["bucket"]), set()).add(
                        ("d", e["path"])
                    )
                return {b: frozenset(s) for b, s in by_bucket.items()}

            so, sn = _sig(old_t.manifest), _sig(new_t.manifest)
            prune = sorted(
                b for b in set(so) | set(sn) if so.get(b) != sn.get(b)
            )

        old_df = old_t.read(buckets=prune)
        old_df = old_df.select(
            *self._projection_to(cur, str(old_t.manifest["schema_id"]), old_df.columns)
        )
        new_df = new_t.read(buckets=prune)

        def _side(df: DataFrame, tag: str) -> DataFrame:
            pay = (
                F.struct(*[F.col(c) for c in payload])
                if payload
                else F.lit(0)  # key-only table: presence is the whole row
            )
            return df.select(
                *[F.col(k).alias(f"{tag}_{k}") for k in keys],
                pay.alias(f"{tag}_pay"),
                F.lit(True).alias(f"{tag}_in"),
            )

        n, o = _side(new_df, "n"), _side(old_df, "o")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"n_{k}").eqNullSafe(F.col(f"o_{k}")) for k in keys],
        )
        j = n.join(o, cond, "full_outer")
        ctype = (
            F.when(F.col("o_in").isNull(), F.lit("insert"))
            .when(F.col("n_in").isNull(), F.lit("delete"))
            .when(
                ~F.col("n_pay").eqNullSafe(F.col("o_pay")),
                F.lit("update_postimage"),
            )
        )
        j = j.withColumn("_change_type", ctype).where(
            F.col("_change_type").isNotNull()
        )
        key_out = [
            F.coalesce(F.col(f"n_{k}"), F.col(f"o_{k}")).alias(k) for k in keys
        ]
        if not with_preimage or not payload:
            # net shape: one row per changed key (a key-only table has no
            # update rows at all, so the preimage variant degenerates here)
            is_del = F.col("_change_type") == "delete"
            out_cols = key_out + [
                F.when(is_del, F.col(f"o_pay.{c}"))
                .otherwise(F.col(f"n_pay.{c}"))
                .alias(c)
                for c in payload
            ]
            return j.select(*out_cols, F.col("_change_type"))

        # four-type CDF shape: updates fan out to (pre, post) through one
        # narrow inline over the SAME join — no extra shuffle.
        def _row(side: str, tag: str) -> F.Column:
            return F.struct(
                *[F.col(f"{side}_pay.{c}").alias(c) for c in payload],
                F.lit(tag).alias("_change_type"),
            )

        arr = (
            F.when(F.col("_change_type") == "insert", F.array(_row("n", "insert")))
            .when(F.col("_change_type") == "delete", F.array(_row("o", "delete")))
            .otherwise(
                F.array(
                    _row("o", "update_preimage"), _row("n", "update_postimage")
                )
            )
        )
        return j.select(*key_out, F.inline(arr))

    def history(self) -> list[dict]:
        mdir = os.path.join(self.root, "_manifest")
        out = []
        for p in sorted(glob.glob(os.path.join(mdir, "v*.json"))):
            with open(p) as f:
                m = json.load(f)
            out.append(
                {
                    "seq": m["seq"],
                    "schema_id": m["schema_id"],
                    "n_files": len(m["files"]),
                    "rows": _manifest_rows(m),
                    "committed_at": m["committed_at"],
                }
            )
        return out

    def row_count(self) -> int:
        """Exact live row count.  Metadata-only (per-bucket counts recorded
        at each commit) — except while merge-on-read deltas are live, when an
        exact count genuinely requires resolving them (a delta upsert may be
        an insert or an update; a tombstone may or may not hit a row), so
        this runs one count over the resolved read.  :meth:`compact` returns
        the table to metadata-only counting."""
        if self.manifest.get("deltas"):
            return self.read().count()
        return _manifest_rows(self.manifest)
