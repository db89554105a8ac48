"""Incremental materialized-view maintenance from the change feed.

``IncrementalAggView`` keeps a grouped additive aggregate (COUNT + SUMs)
over a :class:`~.table.LakeTable` up to date WITHOUT rescanning the fact
table: each ``refresh()`` reads only the snapshot-diff change feed since
the last refreshed sequence (``LakeTable.changes`` with pre-images), folds
it into signed partial aggregates, and MERGEs the touched groups into the
view's own LakeTable.  Work per refresh is O(changed rows + touched
groups) — at 10^10-event scale this is the difference between a dashboard
aggregate that costs a full 100 TB scan per update and one that costs a
few MB of delta.

Why additive only (COUNT / SUM, AVG derived as sum/count at read time):
MIN/MAX are not incrementally maintainable under deletes/updates without
re-scanning the group (the classic IVM distributive-vs-holistic split);
callers needing them should recompute per refresh or bound the window.

Exactly-once: the view's definition (source uuid, group and sum columns)
and the source seq it is refreshed to live in the view table's own
manifest (``view``), and each window commits its refreshed seq in the SAME
manifest as its MERGE (or rebuild overwrite).  A crash before that commit
leaves the old seq, so the retry recomputes from the same ``since`` up to
the then-current source head — nothing landed, nothing double-applies; a
crash after it finds the window done.

Correctness invariant (tested): after any refresh,
``view.read() == source.read().groupBy(G).agg(count, sums)`` exactly.

Reference parity note: no reference row — the reference validator
recomputes its summary tables per run.  Engine-native surface
(SURVEY.md §2.11).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table import LakeTable


class IncrementalAggView:
    """A persisted ``GROUP BY group_cols`` COUNT+SUM view over ``source``,
    maintained incrementally from the change feed.

    ``sum_cols``: fact columns to SUM (must cast losslessly to the view's
    declared type — pass integral/decimal columns; floating sums would
    drift from the recompute under long delete chains).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: LakeTable,
        group_cols: list[str],
        sum_cols: list[str],
        table: LakeTable,
    ):
        self.spark = spark
        self.root = root
        self.source = source
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.table = table

    # ------------------------------------------------------------------ #
    # lifecycle
    # ------------------------------------------------------------------ #
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        source: LakeTable,
        group_cols: list[str],
        sum_cols: list[str],
        num_buckets: int = 4,
    ) -> "IncrementalAggView":
        src_schema = source.schema
        cols: list[tuple[str, str]] = []
        for g in group_cols:
            fld = src_schema.field_by_name(g)
            if fld is None:
                raise ValueError(f"group column {g!r} not in source schema")
            cols.append((g, fld.type))
        cols.append(("n_rows", "bigint"))
        for s in sum_cols:
            fld = src_schema.field_by_name(s)
            if fld is None:
                raise ValueError(f"sum column {s!r} not in source schema")
            t = fld.type
            # widen integral sums to bigint; keep decimals as declared
            sum_t = "bigint" if t in ("tinyint", "smallint", "int", "bigint") else t
            cols.append((f"sum_{s}", sum_t))
        names = [c for c, _ in cols]
        if len(set(names)) != len(names):
            raise ValueError(
                f"view column collision in {names}: group columns may not be "
                "named 'n_rows' or shadow a sum_<col> output"
            )
        table = LakeTable.create(
            spark,
            root,
            cols,
            key_cols=list(group_cols),
            num_buckets=num_buckets,
        )
        table._write_manifest(
            table._next_manifest(
                view={
                    "source_uuid": source.manifest["table_uuid"],
                    "group_cols": list(group_cols),
                    "sum_cols": list(sum_cols),
                    "refreshed_seq": 0,
                }
            )
        )
        return IncrementalAggView(spark, root, source, group_cols, sum_cols, table)

    @staticmethod
    def load(
        spark: SparkSession, root: str, source: LakeTable
    ) -> "IncrementalAggView":
        table = LakeTable.load(spark, root)
        st = table.manifest.get("view")
        if st is None:
            raise ValueError(f"no view definition in the manifest at {root}")
        if st["source_uuid"] != source.manifest["table_uuid"]:
            raise ValueError(
                "view was built over a different source table "
                f"({st['source_uuid']} != {source.manifest['table_uuid']})"
            )
        return IncrementalAggView(
            spark, root, source, st["group_cols"], st["sum_cols"], table
        )

    @property
    def last_refreshed_seq(self) -> int:
        return int(self.table.manifest["view"]["refreshed_seq"])

    def _advancing_to(self, seq: int):
        """Commit context: the view manifest committed inside it records
        the source as refreshed up to ``seq``."""
        return self.table._committing(
            view={**self.table.manifest["view"], "refreshed_seq": int(seq)}
        )

    # ------------------------------------------------------------------ #
    # maintenance
    # ------------------------------------------------------------------ #
    def refresh(self) -> dict:
        """Fold the change feed since the last refresh into the view, up to
        the source head, as one window: O(changed rows + touched groups).

        Plan: one change-feed diff (the source's single full-outer join),
        one hash aggregate down to the touched groups (map-side partial —
        a hot group's rows collapse per task before the shuffle), one join
        against the CURRENT view rows of those groups only, one MERGE.
        Nothing here scales with the fact-table size except the feed's
        snapshot diff, and callers running inside the ingest loop can pass
        consecutive seqs so the diff stays O(batch).
        """
        since = self.last_refreshed_seq
        until = int(self.source.manifest["seq"])
        if since == until:
            return {"skipped": True, "reason": "up to date", "seq": until}
        # seq 0 = view creation time; the source's first real snapshot is 1
        try:
            feed = self.source.changes(max(since, 1), until, with_preimage=True)
        except FileNotFoundError:
            # the since-snapshot fell out of the source's retention window
            # (expire_snapshots) — the delta is unrecoverable, so rebuild
            # from the defining query: one full aggregate, one overwrite.
            return self._rebuild(until)
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        aggs = [F.sum(sign).alias("__d_n")]
        for s in self.sum_cols:
            fld = self.table.schema.field_by_name(f"sum_{s}")
            aggs.append(
                F.sum(sign.cast(fld.type) * F.col(s).cast(fld.type)).alias(
                    f"__d_sum_{s}"
                )
            )
        delta = feed.groupBy(*self.group_cols).agg(*aggs)
        # current view rows — group keys are the view's bucket keys, so
        # the join below is bucket-aligned; the view is orders of
        # magnitude smaller than the facts (it IS the aggregate).
        cur = self.table.read().select(
            *self.group_cols,
            F.col("n_rows").alias("__cur_n"),
            *[
                F.col(f"sum_{s}").alias(f"__cur_sum_{s}")
                for s in self.sum_cols
            ],
        )
        cond = reduce(
            lambda a, b: a & b,
            [delta[g].eqNullSafe(cur[g]) for g in self.group_cols],
        )
        j = delta.join(cur, cond, "left").select(
            *[delta[g] for g in self.group_cols],
            (F.coalesce(F.col("__cur_n"), F.lit(0)) + F.col("__d_n")).alias(
                "n_rows"
            ),
            *[
                (
                    F.coalesce(F.col(f"__cur_sum_{s}"), F.lit(0))
                    + F.coalesce(F.col(f"__d_sum_{s}"), F.lit(0))
                ).alias(f"sum_{s}")
                for s in self.sum_cols
            ],
        )
        changes = j.withColumn(
            "__ivm_op",
            F.when(F.col("n_rows") <= 0, F.lit("delete")).otherwise(
                F.lit("upsert")
            ),
        )
        # ONE Spark action per window: the view merge lands as a
        # merge-on-read delta commit (the view is tiny; periodic
        # maybe_compact below bounds its read-side fold), with the
        # null-group guard riding the write's own Observation — a NULL
        # group key cannot be MERGE-maintained (keys match null-unequal),
        # so a positive count rolls the just-committed window back and
        # raises instead of silently wedging the view.  The feed's diff
        # join, the delta aggregate and the view join all execute inside
        # this single write.
        null_groups = reduce(
            lambda a, b: a | b,
            [F.col(g).isNull() for g in self.group_cols],
        )
        pre_seq = int(self.table.manifest["seq"])
        with self._advancing_to(until):
            stats = self.table.merge(
                changes,
                op_col="__ivm_op",
                delete_value="delete",
                count_deletes=False,
                mode="mor",
                extra_obs={"null_groups": F.sum(null_groups.cast("long"))},
            )
        n_null = int(
            (stats.get("observed_extras") or {}).get("null_groups") or 0
        )
        if n_null:
            self.table.rollback(pre_seq)
            raise ValueError(
                "NULL in group column(s) "
                f"{self.group_cols}: the view MERGE matches keys "
                "null-unequal, so NULL groups cannot be maintained — "
                "coalesce NULLs to a sentinel upstream"
            )
        # lax ratio: the view is tiny, so its read-side delta fold is cheap
        # — compacting near-every refresh would just restore the second
        # Spark action this path exists to avoid
        self.table.maybe_compact(max_delta_ratio=4.0)
        return {
            "since_seq": since,
            "until_seq": until,
            "skipped": False,
            **{k: v for k, v in stats.items() if k != "skipped"},
        }

    def bootstrap(self) -> dict:
        """Initialize (or re-baseline) the view from the defining query —
        the bulk-load path: ONE full aggregate + overwrite, state advances
        to the source head.  Equivalent to ``refresh()`` from empty but
        O(one aggregate) instead of a snapshot diff against the empty base
        (the diff formulation joins the whole table against nothing)."""
        return self._rebuild(int(self.source.manifest["seq"]))

    def _rebuild(self, until: int) -> dict:
        """Full rebuild from the defining query (used when the incremental
        window expired).  Overwrite replaces every group — including ones
        that should vanish — and commits the refreshed seq with it."""
        with self._advancing_to(until):
            self.table.overwrite(self.recompute())
        return {"skipped": False, "rebuilt": True, "until_seq": until}

    # ------------------------------------------------------------------ #
    # read path
    # ------------------------------------------------------------------ #
    def read(self) -> DataFrame:
        """Current view rows: group cols, n_rows, sum_<col>s, avg_<col>s
        (derived — kept out of storage so the stored state stays additive)."""
        df = self.table.read()
        for s in self.sum_cols:
            df = df.withColumn(
                f"avg_{s}",
                F.col(f"sum_{s}") / F.col("n_rows"),
            )
        return df

    def recompute(self) -> DataFrame:
        """The view's defining query, from scratch (the oracle refresh()
        must match exactly)."""
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for s in self.sum_cols:
            fld = self.table.schema.field_by_name(f"sum_{s}")
            aggs.append(F.sum(F.col(s).cast(fld.type)).alias(f"sum_{s}"))
        return self.source.read().groupBy(*self.group_cols).agg(*aggs)
