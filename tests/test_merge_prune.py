"""MERGE file pruning (LakeTable._merge_candidate_files): COW merges skip
base files whose per-file key min/max provably exclude every change key.
There is one tier, and it runs no Spark job: the per-bucket change-key
min/max rides the merge's discovery aggregation (or the caller's
bucket_stats), and a file whose key interval is disjoint from its bucket's
range is kept.  A change key that compares in another domain than the
table key, a bucket with live merge-on-read deltas, and a file without
key stats all fall back to rewriting the file.

Scale rationale: at 10^10 rows a bucket holds many files (one per historical
append/compaction), but a CDC batch's keys usually intersect a few of them —
the classic shape is monotone keys with updates skewed recent.  Whole-bucket
COW rewrites are O(touched buckets); file-scoped rewrites are O(intersected
files).  Every test here asserts RESULT equality against an unpruned clone,
so a pruning bug can only fail loudly, plus the row-accounting invariants
(row_count / bucket_rows) that the manifest carries.
"""

import os

from pyspark.sql import functions as F

from data_migration_validator_spark.lake import LakeTable

SCHEMA = [("id", "bigint"), ("val", "string"), ("ver", "int")]
N_BUCKETS = 4


def _mk(spark, root, name, properties=None):
    props = {"write.sort.cols": "id"}
    props.update(properties or {})
    return LakeTable.create(
        spark,
        os.path.join(root, name),
        SCHEMA,
        key_cols=["id"],
        num_buckets=N_BUCKETS,
        properties=props,
    )


def _rows(spark, lo, hi, ver=0, val="base"):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.concat(F.lit(val), F.col("id")).alias("val"),
        F.lit(ver).cast("int").alias("ver"),
    )


def _build(spark, root, name, n_appends=4, span=1000, properties=None):
    """n_appends appends of disjoint key ranges -> n_appends files/bucket."""
    t = _mk(spark, root, name, properties)
    for i in range(n_appends):
        t.append(_rows(spark, i * span, (i + 1) * span))
    return t


def _changes(spark, up_lo, up_hi, del_lo, del_hi, ins_lo, ins_hi):
    ups = _rows(spark, up_lo, up_hi, ver=1, val="upd").withColumn(
        "op", F.lit("upsert")
    )
    ins = _rows(spark, ins_lo, ins_hi, ver=1, val="new").withColumn(
        "op", F.lit("upsert")
    )
    dels = _rows(spark, del_lo, del_hi, ver=1).withColumn("op", F.lit("delete"))
    return ups.unionByName(ins).unionByName(dels)


def _sorted_rows(t):
    return [tuple(r) for r in t.read().orderBy("id").collect()]


def test_pruned_merge_equals_unpruned(spark, tmp_root):
    """Same change-set, pruning on vs off: identical table state, but the
    pruned merge keeps the non-intersected files byte-identical."""
    t_on = _build(spark, tmp_root, "on")
    t_off = _build(
        spark, tmp_root, "off", properties={"write.merge.prune_files": "false"}
    )
    ch = _changes(spark, 3000, 3100, 3100, 3110, 4000, 4010)
    s_on = t_on.merge(ch, broadcast_changes=True)
    s_off = t_off.merge(ch, broadcast_changes=True)

    assert _sorted_rows(t_on) == _sorted_rows(t_off)
    assert s_on["rows_deleted"] == s_off["rows_deleted"] == 10
    assert s_on["rows_upserted"] == s_off["rows_upserted"] == 110

    # every change key is in [3000, 4010) -> only the 4th append's files
    # (range [3000, 4000)) intersect; appends 1-3 survive untouched
    assert s_off["files_kept"] == 0
    assert s_on["files_kept"] > 0
    assert s_on["files_rewritten"] < s_off["files_rewritten"]
    before = {
        e["path"] for e in LakeTable.load(spark, t_on.root).at_version(
            s_on["seq"] - 1
        ).manifest["files"]
    }
    kept_now = {e["path"] for e in t_on.manifest["files"]} & before
    assert len(kept_now) == s_on["files_kept"]


def test_fully_disjoint_batch_keeps_all_touched_files(spark, tmp_root):
    """Insert-only batch with keys beyond every file range: nothing is
    rewritten inside the touched buckets except the new files."""
    t = _build(spark, tmp_root, "t", n_appends=3)
    ins = _rows(spark, 9000, 9040, ver=1, val="new").withColumn(
        "op", F.lit("upsert")
    )
    st = t.merge(ins, broadcast_changes=True)
    assert st["files_rewritten"] == 0
    assert st["files_kept"] > 0
    assert t.read().count() == 3000 + 40
    # row accounting survives the partial rewrite
    assert sum(t.manifest["bucket_rows"].values()) == 3040


def test_row_accounting_after_pruned_merge(spark, tmp_root):
    t = _build(spark, tmp_root, "t")
    ch = _changes(spark, 3500, 3600, 100, 120, 5000, 5050)
    t.merge(ch, broadcast_changes=True)
    expect = 4000 - 20 + 50
    assert t.read().count() == expect
    assert sum(t.manifest["bucket_rows"].values()) == expect
    assert t.detail()["num_rows"] == expect


def test_delta_buckets_are_not_pruned(spark, tmp_root):
    """A bucket carrying live MOR deltas must rewrite whole (delta keys are
    not in the file stats): result still equals the unpruned clone."""
    t_on = _build(spark, tmp_root, "on")
    t_off = _build(
        spark, tmp_root, "off", properties={"write.merge.prune_files": "false"}
    )
    mor = _rows(spark, 200, 260, ver=2, val="mor").withColumn(
        "op", F.lit("upsert")
    )
    for t in (t_on, t_off):
        t.merge(mor, mode="mor")
    ch = _changes(spark, 3000, 3050, 3050, 3060, 4000, 4005)
    t_on.merge(ch, broadcast_changes=True)
    t_off.merge(ch, broadcast_changes=True)
    assert _sorted_rows(t_on) == _sorted_rows(t_off)
    # the MOR rows survived the COW pass
    got = {r["id"]: r["val"] for r in t_on.read().filter("id < 260").collect()}
    assert got[200] == "mor200" and got[199] == "base199"


def test_missing_stats_file_is_always_candidate(spark, tmp_root):
    """A file without key stats (stats disabled at write time) can never be
    skipped — merge falls back to rewriting it and stays correct."""
    t = _build(
        spark, tmp_root, "t", n_appends=2, properties={"write.stats.cols": ""}
    )
    assert all("stats" not in e for e in t.manifest["files"])
    ch = _changes(spark, 100, 110, 110, 112, 5000, 5002)
    st = t.merge(ch, broadcast_changes=True)
    assert st["files_kept"] == 0
    assert t.read().count() == 2000 - 2 + 2
    got = {r["id"]: r["val"] for r in t.read().filter("id < 112").collect()}
    assert got[100] == "upd100" and 110 not in got


def test_string_key_pruning(spark, tmp_root):
    """String keys range-probe on the (possibly truncated) bounds; result
    equality vs the unpruned clone."""
    schema = [("k", "string"), ("v", "int")]

    def mk(name, props=None):
        p = {"write.sort.cols": "k"}
        p.update(props or {})
        return LakeTable.create(
            spark, os.path.join(tmp_root, name), schema,
            key_cols=["k"], num_buckets=2, properties=p,
        )

    def rows(prefix, n):
        return spark.createDataFrame(
            [(f"{prefix}{i:04d}", i) for i in range(n)], "k string, v int"
        )

    t_on, t_off = mk("on"), mk("off", {"write.merge.prune_files": "false"})
    for t in (t_on, t_off):
        t.append(rows("a", 50))
        t.append(rows("m", 50))
        t.append(rows("z", 50))
    ch = rows("m", 10).withColumn("v", F.col("v") + 100).withColumn(
        "op", F.lit("upsert")
    )
    s_on = t_on.merge(ch, broadcast_changes=True)
    s_off = t_off.merge(ch, broadcast_changes=True)
    assert s_on["files_kept"] > 0 and s_off["files_kept"] == 0
    assert (
        sorted(tuple(r) for r in t_on.read().collect())
        == sorted(tuple(r) for r in t_off.read().collect())
    )


def test_pruned_merge_change_feed_still_consistent(spark, tmp_root):
    """changes() between the pre- and post-merge snapshots sees exactly the
    merged keys even when most files were kept."""
    t = _build(spark, tmp_root, "t")
    v0 = t.manifest["seq"]
    ch = _changes(spark, 3000, 3010, 3010, 3015, 6000, 6003)
    st = t.merge(ch, broadcast_changes=True)
    assert st["files_kept"] > 0
    feed = t.changes(v0, st["seq"])
    by_type = {
        r["_change_type"]: r["cnt"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_type.get("insert", 0) == 3
    assert by_type.get("delete", 0) == 5
    assert by_type.get("update_postimage", by_type.get("update", 0)) == 10


def test_decimal_column_stats_degrade_not_crash(spark, tmp_root):
    """Arrow raises ArrowNotImplementedError extracting footer stats for
    INT64-backed decimals; the commit must degrade that column to
    no-stats (prune falls back to rewrite) instead of failing the task."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "dec"),
        [("id", "bigint"), ("amt", "decimal(10,2)")],
        key_cols=["id"], num_buckets=2,
        properties={"write.sort.cols": "id"},
    )
    rows = spark.range(200).select(
        F.col("id"), (F.col("id") / F.lit(3)).cast("decimal(10,2)").alias("amt")
    )
    t.append(rows)  # must not raise
    assert t.read().count() == 200
    # id (bigint) stats survive even though amt's are degraded
    id_fid = str(t.schema.field_by_name("id").id)
    assert all(id_fid in (e.get("stats") or {}) for e in t.manifest["files"])
    ch = (
        spark.range(500, 510)
        .select(
            F.col("id"),
            F.lit("1.00").cast("decimal(10,2)").alias("amt"),
            F.lit("upsert").alias("op"),
        )
    )
    st = t.merge(ch, broadcast_changes=True)
    assert st["files_kept"] > 0  # bigint-key prune still works
    assert t.read().count() == 210


def test_tier1_range_prune(spark, tmp_root):
    """The free per-bucket range tier must keep the disjoint files,
    result-equal to the unpruned clone."""
    t_on = _build(spark, tmp_root, "on")
    t_off = _build(
        spark, tmp_root, "off",
        properties={"write.merge.prune_files": "false"},
    )
    ch = _changes(spark, 3200, 3300, 3300, 3310, 4000, 4010)
    s_on = t_on.merge(ch, broadcast_changes=True)
    s_off = t_off.merge(ch, broadcast_changes=True)
    assert s_on["files_kept"] > 0  # appends 1-3 ([0,3000)) are range-disjoint
    assert _sorted_rows(t_on) == _sorted_rows(t_off)
    assert sum(t_on.manifest["bucket_rows"].values()) == 4000 - 10 + 10


def test_string_typed_change_key_disables_tier1(spark, tmp_root):
    """A change-set whose key column arrives string-typed compares in
    LEXICAL order ('10' < '9'), so its per-bucket min/max is meaningless
    in the table key's numeric domain — tier 1 must be disabled (the
    cross-domain guard): the touched buckets rewrite whole, and the result
    equals the unpruned clone."""
    def mk(name, props=None):
        p = {"write.sort.cols": "id"}
        p.update(props or {})
        return LakeTable.create(
            spark, os.path.join(tmp_root, name),
            [("id", "bigint"), ("grp", "string"), ("v", "int")],
            key_cols=["id"], bucket_col="grp", num_buckets=2, properties=p,
        )

    def rows(lo, hi, v=0):
        return spark.range(lo, hi).select(
            F.col("id"),
            F.concat(F.lit("g"), F.pmod(F.col("id"), F.lit(7))).alias("grp"),
            F.lit(v).cast("int").alias("v"),
        )

    t_on, t_off = mk("on"), mk("off", {"write.merge.prune_files": "false"})
    for t in (t_on, t_off):
        for i in range(3):
            t.append(rows(i * 100, (i + 1) * 100))
    # string-typed keys 9 and 10: lexical min/max is ("10", "9") — an
    # INVERTED numeric range that unguarded tier 1 would prune on
    ch = spark.createDataFrame([("9",), ("10",)], "id string").select(
        F.col("id"),
        F.concat(F.lit("g"), F.pmod(F.col("id").cast("bigint"), F.lit(7))).alias("grp"),
        F.lit(1).cast("int").alias("v"),
        F.lit("upsert").alias("op"),
    )
    s_on = t_on.merge(ch, broadcast_changes=True)
    s_off = t_off.merge(ch, broadcast_changes=True)
    assert s_on["rows_upserted"] == s_off["rows_upserted"] == 2
    assert (
        sorted(tuple(r) for r in t_on.read().collect())
        == sorted(tuple(r) for r in t_off.read().collect())
    )
    got = {r["id"]: r["v"] for r in t_on.read().filter("id in (9, 10)").collect()}
    assert got == {9: 1, 10: 1}
    assert t_on.read().count() == 300
    # no file is kept on an unsound range
    assert s_on["files_kept"] == 0
