"""Per-file column statistics and predicate-driven file skipping.

The manifest's bucket layout prunes on key *equality*; everything else —
range predicates on timestamps, sizes, status columns — still had to scan
every live file.  This module closes that gap the way Iceberg/Delta do:

- **Collection** (:func:`collect_entry_stats`): after a commit's files land,
  the driver reads each new parquet FOOTER once (metadata only — KBs per
  file, no data pages) and records per-column ``min`` / ``max`` /
  ``null_count`` / ``rows`` on the manifest file entry, keyed by immutable
  FIELD ID so renames don't orphan the stats and old files stay prunable
  under the current schema.  The same footers give the commit its
  per-bucket row counts.  Cost is O(files written this commit), never
  O(table).
- **Pruning** (:func:`prune_entries`): a scan predicate is parsed with
  Spark's own SQL parser (same walk as the bucket pruner); every TOP-LEVEL
  conjunct of a supported shape (``col op literal``, ``literal op col``,
  ``col IN (...)``, ``IS [NOT] NULL``) becomes an interval test against each
  file's stats.  A file survives unless some understood conjunct PROVES it
  cannot contain a matching row — unsupported shapes (OR subtrees,
  functions, casts) are ignored, which only forgoes pruning, never loses
  rows.  The residual predicate is still applied by Spark, so pruning is a
  pure I/O optimization.

At 100 TB this is the difference between "read 2 of 40 000 files" and a
full scan for every time-ranged query; combined with the
``write.sort.cols`` clustered layout the per-file ranges become narrow and
disjoint, which is what makes the min/max test selective (the same reason
Delta's OPTIMIZE ZORDER exists).

Soundness notes:

- Statistics written by Spark's parquet writer are exact when present
  (parquet-mr *drops* oversized binary stats rather than truncating).  A
  defensive guard still treats very long string bounds (>= 4000 chars) as
  open.
- Timestamp literals are compared only when the session timezone is UTC
  (the sandbox default); otherwise timestamp conjuncts are ignored.
- Integer bounds beyond 2^53 skip float-literal comparison (mantissa).
- Non-string literals against STRING columns never prune (Spark casts the
  COLUMN out of its lexical domain — :func:`literal_in_column_domain`);
  DECIMAL literals decode as Decimal so they can't masquerade as strings.
- Literals python can't represent (timestamps past year 9999) raise
  :class:`UndecodableLiteral`; the conjunct is dropped, never crashed on.
- A file whose column is entirely NULL is pruned by any value test.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from decimal import Decimal, InvalidOperation

_STR_BOUND_MAX = 4000  # treat longer string bounds as open (truncation guard)
_STR_STORE_MAX = 64  # stored string bounds are truncated to this many chars
_F53 = 2**53

# types whose stats we collect and can compare against literals
_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}
# an EMPTY/unknown session tz is deliberately NOT treated as UTC: timestamp
# pruning must only engage when the tz is provably UTC
_UTC_NAMES = {"utc", "etc/utc", "gmt", "z", "+00:00"}


def _base_type(type_str: str) -> str:
    return type_str.split("(")[0].strip().lower()


_DOMAINS = {
    **{t: "num" for t in ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")},
    **{t: "str" for t in ("string", "char", "varchar")},
    "date": "time",
    "timestamp": "time",
    "boolean": "bool",
}


def same_comparison_domain(frm: str, to: str) -> bool:
    """True iff stored bounds collected under ``frm`` stay soundly
    comparable after the column widens to ``to``.  int -> string moves the
    column to LEXICAL order where the numeric bounds are meaningless
    ('11' < '9'), so that widen must scrub the field's stats; int -> bigint
    or date -> timestamp keep one comparison domain and the bounds stay
    valid."""
    return _DOMAINS.get(_base_type(frm)) == _DOMAINS.get(_base_type(to))


def statable(type_str: str) -> bool:
    b = _base_type(type_str)
    return b in _NUMERIC or b in {
        "string",
        "char",
        "varchar",
        "date",
        "timestamp",
        "decimal",
        "boolean",
    }


# --------------------------------------------------------------------- #
# collection
# --------------------------------------------------------------------- #
def _enc(v):
    """Footer stat value -> JSON-safe encoding (None = unknown/open bound)."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return None if (math.isnan(v) or math.isinf(v)) else v
    if isinstance(v, str):
        return v if len(v) < _STR_BOUND_MAX else None
    if isinstance(v, bytes):
        try:
            s = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
        return s if len(s) < _STR_BOUND_MAX else None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    return None


def _trunc_lo(s: str) -> str:
    """A prefix is always <= the full string (code-point order), so a
    truncated LOWER bound stays a valid lower bound."""
    return s[:_STR_STORE_MAX]


def _trunc_hi(s: str) -> str | None:
    """Shortest sound UPPER bound for a long string: truncate, then
    increment the last kept code point (Iceberg's ``truncate(w)`` upper
    rule).  ``None`` = no short bound exists (kept chars all U+10FFFF) —
    stored as an OPEN upper bound.  UTF-8 byte order == code-point order,
    so the parquet byte-wise max stays comparable after this."""
    if len(s) <= _STR_STORE_MAX:
        return s
    p = s[:_STR_STORE_MAX]
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i])
        if cp < 0x10FFFF:
            return p[:i] + chr(cp + 1)
    return None


def _file_stats(md, want: dict[str, tuple[int, str]]) -> dict | None:
    """One file's ``{field_id: [min, max, nulls, rows]}`` from its parquet
    footer metadata ``md``.  A column whose stats cannot be decoded
    degrades to "no stats" for that column, never an error."""
    names = [md.schema.column(j).name for j in range(md.num_columns)]
    stats: dict[str, list] = {}
    for name, (fid, type_str) in want.items():
        if name not in names:
            continue
        j = names.index(name)
        # bounds accumulate in the NORMALIZED domain (encoded-string
        # compare would misorder decimals: "9" > "10" lexically)
        lo = hi = None  # (norm_key, encoded) pairs
        nulls: int | None = 0
        ok = True
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            st = rg.column(j).statistics
            if st is None:
                ok = False
                break
            if st.has_null_count:
                if nulls is not None:
                    nulls += st.null_count
            else:
                nulls = None
            if not st.has_min_max:
                # an all-null row group has no bounds but is still
                # prunable (Statistics.num_values counts NON-null
                # values, so compare null_count to the group's rows)
                if st.has_null_count and st.null_count == rg.num_rows:
                    continue
                ok = False
                break
            try:
                # Arrow raises (not returns None) for types it cannot
                # decode stats for — e.g. ArrowNotImplementedError on
                # INT64-backed decimals. Degrade to "no stats", never fail
                # the commit.
                mn, mx = _enc(st.min), _enc(st.max)
            except Exception:
                ok = False
                break
            if mn is None or mx is None:
                ok = False
                break
            okn, kn = _norm(type_str, mn)
            okx, kx = _norm(type_str, mx)
            if not okn or not okx:
                ok = False
                break
            if lo is None or kn < lo[0]:
                lo = (kn, mn)
            if hi is None or kx > hi[0]:
                hi = (kx, mx)
        if ok:
            lo_v = lo[1] if lo else None
            hi_v = hi[1] if hi else None
            if _base_type(type_str) in ("string", "char", "varchar"):
                # keep manifests small: a wide text column must not ship
                # KBs of bound per file; truncation only WIDENS the
                # interval (lower prefix / incremented-prefix upper), so
                # pruning stays sound, just less selective
                if lo_v is not None:
                    lo_v = _trunc_lo(lo_v)
                if hi_v is not None:
                    hi_v = _trunc_hi(hi_v)  # None -> open upper bound
            stats[str(fid)] = [lo_v, hi_v, nulls, md.num_rows]
    return stats or None


def collect_entry_stats(
    root: str, entries: list[dict], schema, stat_cols: list[str]
) -> dict[int, int]:
    """Read each new manifest file entry's footer on the driver, attach
    ``entry["stats"] = {field_id: [min, max, nulls, rows]}`` and return the
    per-bucket row counts ``{bucket: rows}``.  Field ids come from
    ``schema`` (the writer schema of these files).

    One footer read per file this commit wrote (~0.1 ms of metadata I/O
    each), and nothing older.  A footer that cannot be read raises, so the
    commit fails before its manifest is linked."""
    import pyarrow.parquet as pq

    want: dict[str, tuple[int, str]] = {}
    for c in stat_cols:
        fld = schema.field_by_name(c)
        if fld is not None and statable(fld.type):
            want[c] = (fld.id, fld.type)
    bucket_rows: dict[int, int] = {}
    for e in entries:
        with pq.ParquetFile(os.path.join(root, e["path"])) as pf:
            md = pf.metadata
        b = e["bucket"]
        bucket_rows[b] = bucket_rows.get(b, 0) + md.num_rows
        st = _file_stats(md, want)
        if st:
            e["stats"] = st
    return bucket_rows


# --------------------------------------------------------------------- #
# pruning
# --------------------------------------------------------------------- #
def _norm(type_str: str, v):
    """Normalize a stored bound or a predicate literal into one comparable
    python domain per column type.  Returns (ok, value); ok=False means the
    bound/literal can't be compared soundly -> treat as open."""
    b = _base_type(type_str)
    try:
        if b in ("tinyint", "smallint", "int", "bigint"):
            if isinstance(v, bool):
                return False, None
            if isinstance(v, int):
                return True, v
            if isinstance(v, float):
                return (abs(v) <= _F53), v
            iv = int(str(v)) if "." not in str(v) else float(str(v))
            return (not isinstance(iv, float) or abs(iv) <= _F53), iv
        if b in ("float", "double"):
            f = float(v)
            return (not math.isnan(f)), f
        if b == "decimal":
            return True, Decimal(str(v))
        if b in ("string", "char", "varchar"):
            s = str(v)
            return len(s) < _STR_BOUND_MAX, s
        if b == "boolean":
            if isinstance(v, bool):
                return True, v
            return str(v).lower() in ("true", "false"), str(v).lower() == "true"
        if b == "date":
            if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                return True, v
            return True, _dt.date.fromisoformat(str(v).strip()[:10])
        if b == "timestamp":
            if isinstance(v, _dt.datetime):
                return True, v
            s = str(v).strip()
            if len(s) == 10:  # bare date literal
                s += " 00:00:00"
            return True, _dt.datetime.fromisoformat(s)
    except (ValueError, TypeError, InvalidOperation, ArithmeticError):
        return False, None
    return False, None


class _Test:
    """One understood conjunct: op + normalized literal(s) on one field."""

    __slots__ = ("fid", "type_str", "op", "vals")

    def __init__(self, fid: int, type_str: str, op: str, vals: list):
        self.fid, self.type_str, self.op, self.vals = fid, type_str, op, vals

    def may_match(self, stats: dict | None) -> bool:
        """False only when the file PROVABLY holds no matching row."""
        if not stats:
            return True
        ent = stats.get(str(self.fid))
        if not ent:
            return True
        lo_raw, hi_raw, nulls, rows = ent
        if self.op == "isnull":
            return nulls is None or nulls > 0
        if self.op == "isnotnull":
            return nulls is None or rows is None or nulls < rows
        # value ops (eq/lt/...) need a NON-NULL value to match; a file whose
        # column is entirely NULL (nulls == rows, including empty files)
        # provably holds none, regardless of its (open) bounds
        if nulls is not None and rows is not None and nulls >= rows:
            return False
        # a None stored bound is OPEN (unknown) on that side, never a value
        ok_lo, lo = _norm(self.type_str, lo_raw) if lo_raw is not None else (False, None)
        ok_hi, hi = _norm(self.type_str, hi_raw) if hi_raw is not None else (False, None)
        try:
            if self.op == "eq":  # any v in [lo, hi]?
                return any(
                    (not ok_lo or not (v < lo)) and (not ok_hi or not (hi < v))
                    for v in self.vals
                )
            v = self.vals[0]
            if self.op == "lt":
                return not ok_lo or lo < v
            if self.op == "le":
                return not ok_lo or lo <= v
            if self.op == "gt":
                return not ok_hi or hi > v
            if self.op == "ge":
                return not ok_hi or hi >= v
        except TypeError:
            return True
        return True


def _session_tz_is_utc(spark) -> bool:
    try:
        tz = spark.conf.get("spark.sql.session.timeZone", "")
    except Exception:
        return False
    return (tz or "").strip().lower() in _UTC_NAMES


# --------------------------------------------------------------------- #
# Shared Catalyst expression walk — the SINGLE parser both pruners use.
# table.LakeTable._buckets_from_predicate (bucket pruning) and build_tests
# below (stats pruning) consume the same predicate shapes; keeping one
# walk means a new literal type or tz rule can't silently diverge between
# bucket-level and file-level pruning.
# --------------------------------------------------------------------- #
class UndecodableLiteral(Exception):
    """A Catalyst literal has no faithful python representation (e.g. a
    timestamp beyond python's datetime range).  Callers must treat the
    enclosing conjunct as unsupported and forgo pruning on it."""


def parse_expression(spark, predicate: str):
    """``predicate`` → Catalyst expression tree (jvm object), or None when
    it doesn't parse (callers then forgo pruning, which is always sound)."""
    try:
        return (
            spark._jsparkSession.sessionState().sqlParser().parseExpression(predicate)
        )
    except Exception:
        return None


def expr_kind(e) -> str:
    return e.getClass().getSimpleName()


def iter_conjuncts(e):
    """Top-level AND-conjuncts of a Catalyst expression tree."""
    if expr_kind(e) == "And":
        yield from iter_conjuncts(e.left())
        yield from iter_conjuncts(e.right())
    else:
        yield e


def simple_attr_name(e) -> str | None:
    """Bare single-part column reference (handles backticks), else None."""
    if expr_kind(e) == "UnresolvedAttribute" and e.nameParts().size() == 1:
        return str(e.nameParts().apply(0))
    return None


def literal_value(e):
    """Catalyst Literal node → python value.

    Catalyst stores typed literals in internal form: TIMESTAMP as
    micros-since-epoch (UTC instant), DATE as days-since-epoch — decode
    them or every timestamp/date conjunct would be dropped (stats pruner)
    or hash a wrong bucket (bucket pruner).  Timestamp decodes assume the
    session tz is UTC — callers must gate on :func:`_session_tz_is_utc`
    before USING a datetime result (``isinstance(v, datetime)``).

    DECIMAL literals decode to :class:`~decimal.Decimal` (NOT str): a
    fractional literal rendered as a string would masquerade as
    string-domain-comparable and drive unsound lexical pruning against
    string columns.  Raises :class:`UndecodableLiteral` for values python
    can't represent (timestamps past ``datetime.max`` — Spark's range runs
    to year 294276); callers drop the conjunct instead of crashing."""
    v = e.value()
    if v is None:
        return None
    tname = str(e.dataType().typeName())
    try:
        if tname.startswith("timestamp"):
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(str(v)))
        if tname == "date":
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(str(v)))
        if tname.startswith("decimal"):
            return Decimal(str(v))
    except (OverflowError, ValueError, ArithmeticError) as exc:
        raise UndecodableLiteral(str(exc)) from exc
    if isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def literal_in_column_domain(type_str: str, lit) -> bool:
    """False when Spark would coerce the COLUMN (not the literal) to
    evaluate ``col op lit``.  A numeric/date/timestamp/decimal literal
    against a STRING column makes Spark compare numerically ('10.0' = 10 is
    true), so anything keyed to the column's stored lexical domain — string
    min/max stats, the bucket hash of the stored string — would wrongly
    prune.  The reverse (string literal on a typed column) casts the
    LITERAL, which stays faithful."""
    if _base_type(type_str) in ("string", "char", "varchar"):
        return isinstance(lit, str)
    return True


def build_tests(spark, predicate: str, schema) -> list[_Test]:
    """Parse ``predicate`` and extract interval tests from the understood
    top-level conjuncts.  Unsupported shapes contribute nothing (sound)."""
    jexpr = parse_expression(spark, predicate)
    if jexpr is None:
        return []

    ts_ok = _session_tz_is_utc(spark)
    by_lower = {f.name.lower(): f for f in schema.fields}
    _FLIP = {"lt": "gt", "le": "ge", "gt": "lt", "ge": "le", "eq": "eq"}
    _OPS = {
        "EqualTo": "eq",
        "EqualNullSafe": "eq",
        "LessThan": "lt",
        "LessThanOrEqual": "le",
        "GreaterThan": "gt",
        "GreaterThanOrEqual": "ge",
    }

    def field_for(e):
        name = simple_attr_name(e)
        if name is None:
            return None
        fld = by_lower.get(name.lower())
        if fld is None or not statable(fld.type):
            return None
        if _base_type(fld.type) == "timestamp" and not ts_ok:
            return None
        return fld

    def date_vs_ts(op: str, ts: _dt.datetime):
        """``date_col op TIMESTAMP_LITERAL``: Spark promotes the COLUMN to
        timestamp (midnight instants), so rewrite into an equivalent test
        on the date domain.  None = conjunct contributes no pruning."""
        if not ts_ok:  # date -> timestamp cast is session-tz dependent
            return None
        d, mid = ts.date(), ts.time() == _dt.time(0, 0)
        if op == "eq":
            return ("eq", d) if mid else None  # non-midnight: no date equals it
        if op == "lt":  # midnight(d') < ts  <=>  d' <= date(ts) when ts has time
            return ("lt" if mid else "le", d)
        if op == "le":
            return ("le", d)
        if op == "gt":  # midnight(d') > ts  <=>  d' > date(ts) always
            return ("gt", d)
        if op == "ge":
            return ("ge", d) if mid else ("gt", d)
        return None

    tests: list[_Test] = []
    for c in iter_conjuncts(jexpr):
        try:
            k = expr_kind(c)
            if k in _OPS:
                op = _OPS[k]
                for a, b, flip in (
                    (c.left(), c.right(), False),
                    (c.right(), c.left(), True),
                ):
                    fld = field_for(a)
                    if fld is not None and expr_kind(b) == "Literal":
                        lit = literal_value(b)
                        if lit is None:
                            break  # NULL comparison: ignore conjunct (sound)
                        if not literal_in_column_domain(fld.type, lit):
                            break
                        fin_op = _FLIP[op] if flip else op
                        if _base_type(fld.type) == "date" and isinstance(
                            lit, _dt.datetime
                        ):
                            rewritten = date_vs_ts(fin_op, lit)
                            if rewritten is None:
                                break
                            fin_op, lit = rewritten
                        ok, v = _norm(fld.type, lit)
                        if ok:
                            tests.append(_Test(fld.id, fld.type, fin_op, [v]))
                        break
            elif k == "In":
                fld = field_for(c.value())
                if fld is None:
                    continue
                lst = c.list()
                items = [lst.apply(i) for i in range(lst.size())]
                if not items or not all(expr_kind(i) == "Literal" for i in items):
                    continue
                vals = []
                sound = True
                for i in items:
                    lit = literal_value(i)
                    if lit is None:
                        continue  # NULL in IN-list matches nothing
                    if not literal_in_column_domain(fld.type, lit):
                        sound = False
                        break
                    if _base_type(fld.type) == "date" and isinstance(
                        lit, _dt.datetime
                    ):
                        rewritten = date_vs_ts("eq", lit)
                        if rewritten is None:
                            continue  # non-midnight ts: equals no date, drop value
                        lit = rewritten[1]
                    ok, v = _norm(fld.type, lit)
                    if not ok:
                        sound = False
                        break
                    vals.append(v)
                if sound and vals:
                    tests.append(_Test(fld.id, fld.type, "eq", vals))
            elif k == "IsNull":
                fld = field_for(c.child())
                if fld is not None:
                    tests.append(_Test(fld.id, fld.type, "isnull", []))
            elif k == "IsNotNull":
                fld = field_for(c.child())
                if fld is not None:
                    tests.append(_Test(fld.id, fld.type, "isnotnull", []))
        except UndecodableLiteral:
            continue  # conjunct unsupported: forgo its pruning (sound)
    return tests


def prune_entries(spark, predicate: str, schema, entries: list[dict]) -> list[dict]:
    """File entries that MAY contain a row matching ``predicate``."""
    tests = build_tests(spark, predicate, schema)
    if not tests:
        return entries
    return [
        e for e in entries if all(t.may_match(e.get("stats")) for t in tests)
    ]
