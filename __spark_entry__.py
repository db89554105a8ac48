"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship reconciliation pipeline on
sf0.001.  ``queries()`` exposes one callable per implemented operator
from SURVEY.md §2 (+ the training-data operators); ``oracle_sql()``
gives the DuckDB-equivalent ANSI SQL for every SQL-expressible one.
Column names/aliases match exactly between the Spark plans and the
oracle SQL (the driver hash-compares values after sorting by column
name).

Float discipline: every aggregated double is summed as DECIMAL(18,2)
(exact, order-independent) then cast back to DOUBLE on both sides, so
Spark's parallel summation order cannot diverge from DuckDB's serial
one.  Raw column passthroughs (untouched doubles from parquet) are
bit-identical by construction.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_migration_validator_spark.operators import dedup as D
from data_migration_validator_spark.operators import sampling as SAMP
from data_migration_validator_spark.operators import scrub as SC
from data_migration_validator_spark.operators import text as T
from data_migration_validator_spark.validation import checks as C
from data_migration_validator_spark.validation import reconcile as R

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col, alias):
    """Order-independent double sum: exact decimal accumulate, double out."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


def _rev_expr():
    """extendedprice*(1-discount) in ALL-decimal arithmetic.  Quantizing the
    inputs (exact 2-dp round-trips) before multiplying keeps the math exact
    and engine-independent; multiplying doubles first would make the result
    depend on each engine's double→decimal tie-rounding."""
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    dc = F.col("l_discount").cast("decimal(18,2)")
    return ep * (F.lit(1).cast("decimal(18,2)") - dc)


# --------------------------------------------------------------------------- #
# deterministic src/tgt perturbation of `orders` for the validation suite.
# Same derivation is written out in SQL inside oracle_sql() (_SRC/_TGT).
# src drops keys %37==0, perturbs o_totalprice on %101==0 and
# o_orderpriority on %113==0; tgt drops keys %41==0.
# --------------------------------------------------------------------------- #
def _src_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % 37 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + F.lit(1.0)
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 113 == 0, F.lit("9-CORRUPT")).otherwise(
                F.col("o_orderpriority")
            ),
        )
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )
    )


def _tgt_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 41 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


_ORDER_CMP = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]

_SRC_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 113 = 0 THEN '9-CORRUPT'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderkey % 37 <> 0
"""
_TGT_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 41 <> 0
"""


# --------------------------------------------------------------------------- #
# queries
# --------------------------------------------------------------------------- #
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape (SURVEY §2.4 A1/A3: grouped conditional aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias(
                "high_discount_lines"
            ),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_orders(spark, sf_dir):
    """3-way join + group + top-k by revenue (SURVEY §2.3 J1-shape, §2.6 O4)."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.withColumn("rev", _rev_expr())
        .groupBy("l_orderkey")
        .agg(F.sum("rev").cast("double").alias("revenue"))
    )
    return (
        o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .join(rev, o.o_orderkey == rev.l_orderkey)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("c_custkey").alias("custkey"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


def q_region_revenue(spark, sf_dir):
    """5-way broadcast-dim join: region⋈nation⋈customer⋈orders⋈lineitem."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn("rev", _rev_expr())
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy("region_name")
    )


def q_window_latest_event(spark, sf_dir):
    """W4: latest record per key via row_number desc (the CDC last-writer-wins
    shape, migration-data-validation.py:1802-1804)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


def q_window_dedup_first(spark, sf_dir):
    """W2: first-wins dedup — first line per order (row_number asc = 1)."""
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is intentionally non-unique in the testdata
    # (PK-violation scenarios) — extend the ordering to a total one.
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey")
    )


def q_anti_join_extras(spark, sf_dir):
    """J4 LEFT ANTI: customers with no orders."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        cu.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


def q_semi_join_filter(spark, sf_dir):
    """P7/J-semi: orders that contain at least one high-quantity line."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hot = li.filter(F.col("l_quantity") >= 45).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        o.join(hot, "o_orderkey", "left_semi")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def q_groupby_date_bucket(spark, sf_dir):
    """A3: per-date event counts (windowed_validation_metrics shape)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("bucket_date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("bucket_date")
    )


def q_minmax_timeline(spark, sf_dir):
    """A4: min/max timeline per event_type (update_tstmp_timeline shape)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.date_format(F.min(F.to_date("ts")), "yyyy-MM-dd").alias("min_date"),
            F.date_format(F.max(F.to_date("ts")), "yyyy-MM-dd").alias("max_date"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


def q_pk_validation(spark, sf_dir):
    """A2: count vs count-distinct on the composite PK
    (migration-data-validation.py:1444-1447)."""
    li = _t(spark, sf_dir, "lineitem")
    return C.primary_key_validation(li, ["l_orderkey", "l_linenumber"])


def q_conditional_counts(spark, sf_dir):
    """A5 count_if: status rollup over orders."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("o_totalprice") > 100000.0, 1).otherwise(0)).alias("n_large"),
    )


def q_collect_set_agg(spark, sf_dir):
    """A6 collect_set/string_agg: distinct order statuses per customer nation."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
                "statuses"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("nationkey")
    )


def q_union_distinct(spark, sf_dir):
    """E1 UNION (distinct): key spaces of two derived sides."""
    s = _src_orders(spark, sf_dir).select("o_orderkey")
    t = _tgt_orders(spark, sf_dir).select("o_orderkey")
    return s.union(t).distinct().orderBy("o_orderkey")


def q_recon_counts(spark, sf_dir):
    """getHashAnomalies 4-way classification counts in ONE full-outer pass
    (migration-data-validation.py:887-924)."""
    return R.reconcile_counts(
        _src_orders(spark, sf_dir),
        _tgt_orders(spark, sf_dir),
        ["o_orderkey"],
        _ORDER_CMP,
    )


def q_recon_status_rows(spark, sf_dir):
    """Per-key classification rows (status ∈ MATCH/MISMATCH/SRC_EXTRA/TGT_EXTRA)."""
    rec = R.hash_reconcile(
        _src_orders(spark, sf_dir),
        _tgt_orders(spark, sf_dir),
        ["o_orderkey"],
        _ORDER_CMP,
    )
    return rec.filter(F.col("status") != "MATCH").select("o_orderkey", "status").orderBy(
        "o_orderkey"
    )


def q_bucket_reconcile_clean(spark, sf_dir):
    """Steady-state shape of the digest short-circuit: identical tables →
    zero differing buckets → empty anomalies WITHOUT any src×tgt shuffle
    (two narrow digest scans decide the validation).  Bench entry shows the
    cost profile; the oracle is the same classification SQL on an identical
    pair (empty set)."""
    from data_migration_validator_spark.validation import bucket_reconcile

    t = _tgt_orders(spark, sf_dir)
    _, anomalies = bucket_reconcile(
        t, t.select(*t.columns), ["o_orderkey"], _ORDER_CMP, n_buckets=256
    )
    return anomalies.select("o_orderkey", "status").orderBy("o_orderkey")


def q_bucket_reconcile(spark, sf_dir):
    """Digest-first short-circuit reconcile (validation/bucket_reconcile.py):
    per-bucket aggregate digests first, row-level full-outer only on the
    buckets that disagree.  Anomalies are by construction the full
    reconcile's non-MATCH rows, so this shares recon_status_rows' oracle —
    the scale path and the exact path must produce identical classifications."""
    from data_migration_validator_spark.validation import bucket_reconcile

    _, anomalies = bucket_reconcile(
        _src_orders(spark, sf_dir),
        _tgt_orders(spark, sf_dir),
        ["o_orderkey"],
        _ORDER_CMP,
        n_buckets=256,
    )
    return anomalies.select("o_orderkey", "status").orderBy("o_orderkey")


def q_column_mismatch_metrics(spark, sf_dir):
    """Per-column match/mismatch counters in one aggregation pass (replaces
    the reference's scalar-subquery fan-out, migration-data-validation.py:
    1156-1188)."""
    return R.column_mismatch_metrics(
        _src_orders(spark, sf_dir),
        _tgt_orders(spark, sf_dir),
        ["o_orderkey"],
        _ORDER_CMP,
    ).orderBy("column_name")


def q_row_level_mismatches(spark, sf_dir):
    """E3 EXCEPT-ALL row-level mismatch capture (migration-data-validation.py:
    1313-1334), signed-count formulation."""
    out = R.row_level_mismatches(
        _src_orders(spark, sf_dir),
        _tgt_orders(spark, sf_dir),
        ["o_orderkey"],
        _ORDER_CMP,
    )
    return out.select("o_orderkey", "o_totalprice", "o_orderpriority", "side")


def q_full_outer_report(spark, sf_dir):
    """J1: the __full_outer report with _src/_tgt suffixes + row_match flag
    (migration-data-validation.py:766-832)."""
    rep = R.full_outer_report(
        _src_orders(spark, sf_dir),
        _tgt_orders(spark, sf_dir),
        ["o_orderkey"],
        ["o_totalprice", "o_orderpriority"],
    )
    return rep.filter(~F.col("row_match")).select(
        "o_orderkey",
        "o_totalprice_src",
        "o_totalprice_tgt",
        "o_orderpriority_src",
        "o_orderpriority_tgt",
    ).orderBy("o_orderkey")


def q_windowed_validation(spark, sf_dir):
    """Per-date six-class counts (migration-data-validation.py:1366-1384) —
    here on the events table keyed by event_id with a deterministic fork."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    src = ev.filter(F.col("event_id") % 53 != 0)
    tgt = ev.filter(F.col("event_id") % 59 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 71 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    out = C.windowed_validation(src, tgt, ["event_id"], "ts", ["event_type", "value"])
    return out.withColumn(
        "bucket_date", F.date_format("bucket_date", "yyyy-MM-dd")
    ).orderBy("bucket_date")


def q_extras_rows(spark, sf_dir):
    """J4 both-ways extras as rows tagged by side."""
    src_only, tgt_only = R.extras(
        _src_orders(spark, sf_dir), _tgt_orders(spark, sf_dir), ["o_orderkey"]
    )
    return (
        src_only.select("o_orderkey").withColumn("side", F.lit("src"))
        .unionByName(tgt_only.select("o_orderkey").withColumn("side", F.lit("tgt")))
        .orderBy("o_orderkey", "side")
    )


def q_event_quarantine(spark, sf_dir):
    """Dead-letter classification (cdc.quarantine.classify_events) driven
    over the generic events table: a deterministically corrupted view
    (nulled keys / payloads on fixed id residues, 'error'/'signup' outside
    the valid-op set) is tagged with a quarantine reason by the same
    declarative CASE the CDC ingest uses — whole classification in codegen,
    no UDF.  Oracle = the identical CASE in ANSI SQL."""
    from data_migration_validator_spark.cdc.quarantine import classify_events

    ev = _t(spark, sf_dir, "events")
    corrupted = ev.withColumns(
        {
            "user_id": F.when(
                F.col("event_id") % 97 == 0, F.lit(None).cast("long")
            ).otherwise(F.col("user_id")),
            "value": F.when(
                F.col("event_id") % 101 == 3, F.lit(None).cast("double")
            ).otherwise(F.col("value")),
            "props": F.when(
                F.col("event_id") % 101 == 3, F.lit(None).cast("string")
            ).otherwise(F.col("props")),
        }
    )
    tagged = classify_events(
        corrupted,
        key_cols=("user_id",),
        op_col="event_type",
        valid_ops=("click", "view", "purchase"),
        payload_cols=("value", "props"),
        schema_col=None,
        reason_col="reason",
    )
    return (
        tagged.filter(F.col("reason").isNotNull())
        .select("event_id", "event_type", "reason")
        .orderBy("event_id")
    )


def q_text_stats(spark, sf_dir):
    """Text analysis: token counts (whitespace + BPE-ish) and char ratios."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("chars"),
        T.token_count("text", "whitespace").alias("ws_tokens"),
        T.token_count("text", "bpe").alias("bpe_tokens"),
    ).orderBy("doc_id")


def q_text_quality(spark, sf_dir):
    """Quality scoring: corpus rollup of the heuristic quality metrics."""
    d = _t(spark, sf_dir, "documents")
    m = T.quality_metrics("text")
    per_doc = d.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["punct_ratio"].alias("punct_ratio"),
        m["digit_ratio"].alias("digit_ratio"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.when(F.col("punct_ratio") > 0.10, 1).otherwise(0)).alias("punct_heavy"),
        F.sum(F.when(F.col("digit_ratio") > 0.10, 1).otherwise(0)).alias("digit_heavy"),
    )


def q_vocab_topk(spark, sf_dir):
    """Vocabulary builder over the corpus: top-k tokens by frequency — the
    first step of any tokenizer/vocab pipeline.  Scale shape: explode →
    ONE hash aggregate (map-side partial combine collapses each task's
    token multiset before the exchange, so the shuffle carries per-task
    distinct tokens, not the corpus) → top-k via sort+limit on the tiny
    aggregated frame.  Ties broken by token for determinism."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(50)
    )


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: predicted language → doc count."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(T.language_id("text").alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("pred_lang")
    )


def q_exact_dedup(spark, sf_dir):
    """Exact dedup on content digest: groups with >1 copy."""
    d = _t(spark, sf_dir, "documents")
    out = D.exact_dedup(d, "text", "doc_id", keep="min")
    return (
        out.filter(F.col("dup_count") > 1)
        .select("doc_id", "dup_count")
        .orderBy("doc_id")
    )


def q_fingerprint_dedup(spark, sf_dir):
    """Normalization-robust fingerprint clustering: cluster sizes ≥ 2."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select(T.document_fingerprint("text").alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") >= 2)
        .orderBy("fingerprint")
    )


def q_embedding_norms(spark, sf_dir):
    """Vector plumbing: L2 norm + dims per embedding (JVM higher-order fns)."""
    e = _t(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        F.transform("embedding", lambda x: (x.cast("double") * x.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dims"),
        F.round(F.sqrt(norm2), 6).alias("l2_norm"),
        "label",
    ).orderBy("vec_id")


def q_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-k for a fixed query set (ANN correctness baseline).
    Integer-only output (rank ties broken by id) keeps the hash float-safe."""
    from data_migration_validator_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings").repartition(32, "vec_id")
    queries = e.filter(F.col("vec_id") < 8)
    out = brute_force_topk(e, queries, "vec_id", "embedding", k=5)
    return out.select("query_id", "neighbor_id", "rank").orderBy("query_id", "rank")


def q_knn_ivf(spark, sf_dir):
    """IVF ANN in probe-all mode (n_probe == n_centroids), which is provably
    exact — every corpus vector lands in exactly one centroid list and every
    list is probed, so the candidate set is the full corpus.  The oracle
    therefore checks the whole IVF pipeline (k-means training, Arrow matmul
    assignment, list-keyed join, ranking) against plain SQL; the
    approximation knob (n_probe < n_centroids) is recall-tested in
    tests/test_operators.py."""
    from data_migration_validator_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings").repartition(32, "vec_id")
    queries = e.filter(F.col("vec_id") < 8)
    out = ivf_topk(
        e, queries, "vec_id", "embedding", k=5,
        n_centroids=8, n_probe=8, train_sample=512, seed=42,
    )
    return out.select("query_id", "neighbor_id", "rank").orderBy("query_id", "rank")


def q_embedding_near_dup(spark, sf_dir):
    """Exact embedding-cosine near-duplicate pairs over the corpus — the
    fifth dedup leg (exact hash / minhash / simhash / n-gram Jaccard /
    embedding cosine).  Triangle block decomposition: B(B+1)/2 balanced
    block-pair tasks instead of a cross join (see
    operators/similarity.cosine_near_dup_exact).  Pair-id output only — the
    threshold sits 1e-5 clear of every pair at all SFs, so membership is
    float-robust while the cosine value itself never reaches the hash."""
    from data_migration_validator_spark.operators.similarity import (
        cosine_near_dup_exact,
    )

    # No pre-repartition: the block join's own (bi, bj) exchange is the
    # parallelism source; an upstream repartition would just add a shuffle.
    e = _t(spark, sf_dir, "embeddings")
    out = cosine_near_dup_exact(e, "vec_id", "embedding", threshold=0.40, n_blocks=8)
    return out.select("id_a", "id_b").orderBy("id_a", "id_b")


def q_near_dup_clusters(spark, sf_dir):
    """Transitive closure of the exact cosine near-dup pairs: (vec_id,
    cluster_id = min id in component) via min-label propagation — the
    keep-one decision every dedup pipeline ends with.  Oracle: DuckDB
    recursive CTE over the same edge list."""
    from data_migration_validator_spark.operators.dedup import (
        connected_components,
    )
    from data_migration_validator_spark.operators.similarity import (
        cosine_near_dup_exact,
    )

    e = _t(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_exact(
        e, "vec_id", "embedding", threshold=0.40, n_blocks=8
    )
    out = connected_components(pairs)
    return out.select(
        F.col("vertex").alias("vec_id"), "cluster_id"
    ).orderBy("vec_id")


def q_minhash_near_dup(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.

    Full-value oracle: because the pipeline's final filter is EXACT Jaccard
    ≥ 0.8, the output equals the all-pairs exact-Jaccard set whenever LSH
    recall is 1.0 — which it is on this corpus (measured at sf0.01 and
    sf0.1: 25/25 and 256/256 pairs).  The DuckDB oracle computes that set
    hash-free, so the gate doubles as a recall-regression detector: an LSH
    change that drops a real pair fails the hash compare.  Hash-level
    parity of the xxhash64 signatures themselves is asserted separately in
    tests/test_operators.py against functions/xxh64.py."""
    d = _t(spark, sf_dir, "documents").repartition(32, "doc_id")
    out = D.minhash_near_dup(d, "text", "doc_id", threshold=0.8)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


def q_simhash_near_dup(spark, sf_dir):
    """SimHash banded near-dup candidates, hamming ≤ 8.  Full value oracle:
    the signatures are xxhash64 bit-votes plain SQL cannot reproduce, so
    ``oracle_sql()`` consumes a parquet fixture computed by the independent
    pure-Python XXH64 reimplementation (functions/xxh64.py) and does the
    banding / bucket cap / pair join / hamming in first-class DuckDB SQL
    (:func:`_simhash_oracle_fixture`); hash-level signature parity is ALSO
    asserted in tests/test_operators.py::
    test_simhash_signatures_and_pairs_match_python_oracle."""
    d = _t(spark, sf_dir, "documents").repartition(32, "doc_id")
    out = D.simhash_near_dup(d, "text", "doc_id", bands=4)
    return (
        out.filter(F.col("hamming") <= 8)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard pairs via inverted index (rows-only check)."""
    d = _t(spark, sf_dir, "documents").repartition(32, "doc_id")
    out = D.ngram_jaccard_pairs(
        d, "text", "doc_id", ngram=3, threshold=0.8, max_doc_freq=200
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


# literal schema stores for the schema-validation checks (identical VALUES
# appear in the oracle SQL).
_SRC_STORE = [
    ("id", "int", 1), ("name", "string", 2), ("score", "float", 3),
    ("created", "date", 4), ("flag", "int", 5), ("only_src", "string", 6),
    # parameterized pairs: the compat gate must refuse narrowing
    ("amount", "decimal(38,10)", 7), ("label", "varchar(10)", 8),
    ("code", "char(10)", 9),
]
_TGT_STORE = [
    ("id", "bigint", 1), ("name", "string", 2), ("score", "double", 3),
    ("created", "string", 4), ("flag", "boolean", 5), ("only_tgt", "string", 6),
    ("amount", "decimal(5,2)", 7), ("label", "varchar(100)", 8),
    ("code", "varchar(2)", 9),
]


def _store_df(spark, rows, side):
    return spark.createDataFrame(
        [(n, t, o, side) for n, t, o in rows],
        "col_name string, data_type string, col_order int, side string",
    )


def q_projection_sentinel(spark, sf_dir):
    """P1: col-mapping projection with missing-column sentinel
    (migration-data-validation.py:1487-1537)."""
    from data_migration_validator_spark.operators.projection import (
        MISSING_TGT,
        mapped_projection,
    )

    o = _t(spark, sf_dir, "orders")
    out = mapped_projection(
        o,
        ["o_orderkey", "status", "ghost"],
        {"status": "o_orderstatus"},
        sentinel=MISSING_TGT,
    )
    return out.orderBy("o_orderkey")


def q_ordinal_check(spark, sf_dir):
    """J7: FULL OUTER on ordinal position (validation_summary.py:314-318)."""
    from data_migration_validator_spark.validation.schema_check import ordinal_check

    out = ordinal_check(
        _store_df(spark, _SRC_STORE, "src"), _store_df(spark, _TGT_STORE, "tgt")
    )
    return out.select("col_order", "src_col_name", "tgt_col_name", "ordinal_compare")


def q_schema_compatibility(spark, sf_dir):
    """J6+J8: name/type compare + datatype compatibility against the
    widen-only lattice (validation_summary.py:388-393, 502-504)."""
    from data_migration_validator_spark.validation.schema_check import (
        name_type_check,
        type_compatibility,
    )

    nt = name_type_check(
        _store_df(spark, _SRC_STORE, "src"), _store_df(spark, _TGT_STORE, "tgt")
    )
    out = type_compatibility(nt)
    return out.select(
        "col_key",
        "src_data_type",
        "tgt_data_type",
        "col_name_compare",
        "datatype_compare",
        "compatible",
    ).orderBy("col_key")


def q_comment_compare(spark, sf_dir):
    """J8 completion: per-column COMMENT capture through normalize_metadata
    and the null-safe lowered compare (validation_summary.py:361,381-391;
    validation_sqls.py:45,69)."""
    from data_migration_validator_spark.sources.metadata import (
        normalize_metadata,
    )
    from data_migration_validator_spark.validation.schema_check import (
        name_type_check,
    )

    meta_schema = (
        "col_name string, data_type string, col_order int, comment string"
    )
    src_raw = spark.createDataFrame(
        [
            ("id", "bigint", 1, "primary key"),
            ("name", "string", 2, "customer name"),
            ("bal", "double", 3, None),
            ("upd_ts", "timestamp", 4, "audit ts"),
        ],
        meta_schema,
    )
    tgt_raw = spark.createDataFrame(
        [
            ("id", "bigint", 1, "Primary Key"),  # case-only diff: MATCH
            ("name", "string", 2, "buyer name"),  # MISMATCH
            ("bal", "double", 3, None),  # null <=> null: MATCH
            ("upd_ts", "timestamp", 4, None),  # one side only: MISMATCH
        ],
        meta_schema,
    )
    nt = name_type_check(
        normalize_metadata(src_raw, "spark", "src"),
        normalize_metadata(tgt_raw, "spark", "tgt"),
    )
    return nt.select(
        "col_key", "src_comment", "tgt_comment",
        "col_name_compare", "datatype_compare", "comment_compare",
    ).orderBy("col_key")


def q_mapped_validation(spark, sf_dir):
    """Reference config surface end-to-end (README.md:191-236): a mapping
    with col_mapping renames + mismatch_exclude_fields through the
    config-driven runner — the excluded audit columns carry the injected
    mismatches, so the raw status FAILs while after-exclusion SUCCEEDs."""
    from data_migration_validator_spark.validation import (
        TableMapping,
        run_mappings,
    )

    legacy = _src_orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("ORD_KEY"),
        F.col("o_custkey").alias("CUST_NBR"),
        F.col("o_orderstatus").alias("ORD_STS"),
        F.col("o_totalprice").alias("TOT_PRC"),
        F.col("o_orderpriority").alias("ORD_PRI"),
    )
    frames = {
        "orders_src": legacy,
        "orders_tgt": _tgt_orders(spark, sf_dir),
    }
    m = TableMapping(
        "orders",
        "orders_src",
        "orders_tgt",
        ["o_orderkey"],
        col_mapping={
            "ORD_KEY": "o_orderkey",
            "CUST_NBR": "o_custkey",
            "ORD_STS": "o_orderstatus",
            "TOT_PRC": "o_totalprice",
            "ORD_PRI": "o_orderpriority",
        },
        mismatch_exclude_fields=["o_totalprice", "o_orderpriority"],
    )
    res = run_mappings(spark, [m], resolve=lambda n: frames[n], run_id="r1")
    s = res["orders"]["summary"]
    return spark.createDataFrame(
        [
            (
                s["data_mismatch_status"],
                s["mismatches_after_exclusion_status"],
                s["comment_compare_status"],
                int(s["matches"]),
                int(s["mismatches"]),
                int(s["src_extras"]),
                int(s["tgt_extras"]),
            )
        ],
        "data_mismatch_status string, "
        "mismatches_after_exclusion_status string, "
        "comment_compare_status string, matches bigint, mismatches bigint, "
        "src_extras bigint, tgt_extras bigint",
    )


def q_addtnl_filter_metrics(spark, sf_dir):
    """addtnl_filters slices (README.md:206-236; MDV:1137-1188): named
    predicates over the annotated frame's suffixed columns — including the
    {full_outer_table} scalar-subquery form — each slice's per-column
    counters computed in ONE aggregation pass."""
    from data_migration_validator_spark.validation import (
        AddtnlFilter,
        run_validation,
    )

    filters = [
        AddtnlFilter("N/A", "N/A"),
        AddtnlFilter("open_status", "o_orderstatus_tgt = 'O'"),
        AddtnlFilter(
            "below_max",
            "o_totalprice_src <= "
            "(select max(o_totalprice_tgt) from {full_outer_table})",
            capture_mismatches=True,
        ),
    ]
    reports = run_validation(
        _src_orders(spark, sf_dir),
        _tgt_orders(spark, sf_dir),
        key_cols=["o_orderkey"],
        addtnl_filters=filters,
    )
    out = reports["addtnl_filter_metrics"]
    rows = out.collect()
    reports["annotated"].unpersist()
    return spark.createDataFrame(rows, out.schema)


def q_windowed_stream_metrics(spark, sf_dir):
    """§2.9 streaming value oracle: watermarked tumbling-window per-type
    metrics (streaming/windowed.py windowed_event_metrics) over a bounded
    replay of the events table via a real file-source stream.  Append mode:
    a window row emits exactly once, when the watermark (max ts − 1h,
    advanced by the no-data final micro-batch) passes its end — the tail
    windows inside the delay stay open and appear on NEITHER side of the
    compare.  The HLL distinct-repo metric is excluded (estimator-specific);
    counts and seq offsets are exact."""
    import os as _os
    import tempfile

    from data_migration_validator_spark.streaming.windowed import (
        windowed_event_metrics,
    )

    import shutil

    batch = _t(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="wsm_src_")
    shutil.copy(
        _os.path.join(sf_dir, "events.parquet"),
        _os.path.join(src_dir, "events.parquet"),
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select(
            # the fixture stores TIMESTAMP_NTZ; watermarks need TIMESTAMP
            F.col("ts").cast("timestamp").alias("event_time"),
            F.col("event_type").alias("op"),
            F.col("user_id").cast("string").alias("repo"),
            F.col("event_id").alias("event_seq"),
        )
    )
    metrics = windowed_event_metrics(
        stream, window_duration="1 day", watermark_delay="1 hour"
    )
    with tempfile.TemporaryDirectory() as tmp:
        out_dir = f"{tmp}/out"

        def sink(bdf, _bid):
            bdf.write.mode("append").parquet(out_dir)

        q = (
            metrics.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if q.isActive:
            q.stop()
        try:
            emitted = spark.read.parquet(out_dir).select(
                "window_start", "window_end", "op", "n_events",
                "first_event_seq", "last_event_seq",
            ).orderBy("window_start", "op")
            return spark.createDataFrame(emitted.collect(), emitted.schema)
        finally:
            shutil.rmtree(src_dir, ignore_errors=True)


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payloads → mapInPandas Arrow feature
    extraction + JVM-side resize planning.  The decode kernel is the
    documented sandbox stub (operators/multimodal.py: no PIL/librosa/av in
    the container), but the stub is fully DETERMINISTIC (sha256-derived
    features), so the whole pipeline — payload synthesis, Arrow batch
    plumbing, digest, float32 feature quantization, resize plan — is
    value-checked against a DuckDB oracle reproducing the same hashes."""
    from data_migration_validator_spark.operators.multimodal import (
        extract_features,
        make_media_table,
        resize_plan,
    )

    media = make_media_table(spark, n=256, partitions=8)
    feats = extract_features(media).select(
        "media_id", "kind", "n_bytes", "digest", F.round(F.element_at("feat", 1), 6).alias("f0")
    )
    plan = resize_plan(media).select("media_id", "target_width", "target_height")
    return feats.join(plan, "media_id").orderBy("media_id")


def q_cdc_replay(spark, sf_dir):
    """Engine core (rows-only check): synthesize a seeded change stream,
    replay it batch-by-batch through the lake MERGE path, then prove
    replay ≡ batch oracle by full-row digest reconcile — the north-rule
    equivalence, all classes must be MATCH."""
    import tempfile

    from data_migration_validator_spark.cdc.events import change_events, write_events_batched
    from data_migration_validator_spark.cdc.oracle import expected_final_state
    from data_migration_validator_spark.cdc.replay import replay
    from data_migration_validator_spark.lake.schema import TableSchema
    from data_migration_validator_spark.lake.table import LakeTable

    n = 4000 if "0.001" in sf_dir else 20000
    ev = change_events(spark, n_events=n, n_repos=40, seed=42, batch_size=n // 4)
    with tempfile.TemporaryDirectory() as tmp:
        write_events_batched(ev, f"{tmp}/events")
        table = LakeTable.create(
            spark,
            f"{tmp}/repo_content",
            TableSchema.from_pairs(
                [
                    ("repo", "string"),
                    ("path", "string"),
                    ("commit", "string"),
                    ("lang", "string"),
                    ("content", "string"),
                ]
            ),
            key_cols=["repo", "path"],
            bucket_col="repo",
            num_buckets=8,
        )
        replay(table, f"{tmp}/events")
        final = table.read()
        oracle = expected_final_state(ev)
        rec = R.hash_reconcile(
            final, oracle, ["repo", "path"], ["commit", "lang", "content"]
        )
        out = rec.groupBy("status").agg(F.count(F.lit(1)).alias("n")).orderBy("status")
        # Rebuild from collected rows: a cache()d plan is not durable (an
        # evicted partition would recompute from the deleted tmp dir).
        return spark.createDataFrame(out.collect(), out.schema)


def q_cdc_replay_mor(spark, sf_dir):
    """Merge-on-read variant of the engine core (rows-only check): the same
    seeded stream replayed as O(batch) delta commits with mid-replay
    compaction, digest-reconciled against the batch oracle AND against the
    copy-on-write replay's final state — mode changes the layout, never the
    rows.  All classes must be MATCH."""
    import tempfile

    from data_migration_validator_spark.cdc.events import change_events, write_events_batched
    from data_migration_validator_spark.cdc.oracle import expected_final_state
    from data_migration_validator_spark.cdc.replay import replay
    from data_migration_validator_spark.lake.schema import TableSchema
    from data_migration_validator_spark.lake.table import LakeTable

    n = 4000 if "0.001" in sf_dir else 20000
    ev = change_events(spark, n_events=n, n_repos=40, seed=42, batch_size=n // 4)
    schema = TableSchema.from_pairs(
        [
            ("repo", "string"),
            ("path", "string"),
            ("commit", "string"),
            ("lang", "string"),
            ("content", "string"),
        ]
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_events_batched(ev, f"{tmp}/events")
        table = LakeTable.create(
            spark, f"{tmp}/repo_content", schema,
            key_cols=["repo", "path"], bucket_col="repo", num_buckets=8,
        )
        replay(table, f"{tmp}/events", merge_mode="mor", compact_every=2)
        rec = R.hash_reconcile(
            table.read(), expected_final_state(ev),
            ["repo", "path"], ["commit", "lang", "content"],
        )
        out = rec.groupBy("status").agg(F.count(F.lit(1)).alias("n")).orderBy("status")
        return spark.createDataFrame(out.collect(), out.schema)


def q_validation_summary(spark, sf_dir):
    """End-to-end persisted summary (DDLs.py:160-225, validation_sqls.py:
    24-63): run the full pipeline on the src/tgt orders pair through the
    config-driven runner, persist the summary row into a summary LakeTable,
    then read it BACK through the report-side conjunction — the value the
    dashboard would show."""
    import tempfile

    from data_migration_validator_spark.validation import (
        TableMapping,
        make_summary_table,
        run_mappings,
        summary_conjunction,
    )

    with tempfile.TemporaryDirectory() as tmp:
        summary_t = make_summary_table(spark, f"{tmp}/summary")
        frames = {
            "orders_src": _src_orders(spark, sf_dir),
            "orders_tgt": _tgt_orders(spark, sf_dir),
        }
        run_mappings(
            spark,
            [TableMapping("orders", "orders_src", "orders_tgt", ["o_orderkey"])],
            resolve=lambda n: frames[n],
            run_id="r1",
            summary_table=summary_t,
        )
        out = summary_conjunction(summary_t.read()).select(
            "run_id",
            "table_family",
            "final_validation_status",
            "row_count_status",
            "mismatches_after_exclusion_status",
            "comment_compare_status",
            "extras_status",
            "primary_key_compliance_status",
            "column_names_status",
            "ordinal_status",
            "datatype_compatibility_status",
            "matches",
            "mismatches",
            "src_extras",
            "tgt_extras",
        )
        # Rebuild from collected rows (one summary row): cache() is not
        # durable — an evicted partition would recompute from the deleted
        # tmp-dir table path.
        return spark.createDataFrame(out.collect(), out.schema)


def q_anomaly_rows(spark, sf_dir):
    """Persisted anomaly/mismatch-row store round-trip (conf/constants.py:
    51-69 ``__anomalies``/``__mismatch_data`` families; writes
    migration-data-validation.py:1228-1241, 1351-1364): run the pipeline on
    the src/tgt orders pair, persist every non-MATCH row into the durable
    anomaly LakeTable via run_mappings, then read the table BACK and
    aggregate per status — the dashboard's anomaly browser source."""
    import tempfile

    from data_migration_validator_spark.validation import (
        TableMapping,
        make_anomaly_table,
        run_mappings,
    )

    with tempfile.TemporaryDirectory() as tmp:
        anomaly_t = make_anomaly_table(spark, f"{tmp}/anomalies")
        frames = {
            "orders_src": _src_orders(spark, sf_dir),
            "orders_tgt": _tgt_orders(spark, sf_dir),
        }
        run_mappings(
            spark,
            [TableMapping("orders", "orders_src", "orders_tgt", ["o_orderkey"])],
            resolve=lambda n: frames[n],
            run_id="r1",
            anomaly_table=anomaly_t,
        )
        stored = anomaly_t.read()
        out = (
            stored.select(
                "status",
                F.get_json_object("key_json", "$.o_orderkey")
                .cast("bigint")
                .alias("k"),
                F.element_at(F.col("row"), "o_orderstatus").alias("ost"),
            )
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct("k").alias("n_keys"),
                F.min("k").alias("min_key"),
                F.max("k").alias("max_key"),
                F.count("ost").alias("n_status_vals"),
            )
            .orderBy("status")
        )
        # rebuild from collected rows: the tmp-dir table vanishes with the
        # with-block, and a cache()d plan is not durable.
        return spark.createDataFrame(out.collect(), out.schema)


def q_table_changes(spark, sf_dir):
    """Change data feed between two lake snapshots (Delta ``table_changes``
    / Iceberg changelog analog; extends the reference, which has no CDF
    surface): two deterministic customer snapshots are committed, then
    ``LakeTable.changes`` snapshot-diffs them — ONE full-outer join on the
    key, null-safe payload-struct comparison — into net insert /
    update_postimage / delete rows.  The oracle recomputes the identical
    diff in SQL directly from the source table."""
    import tempfile

    from data_migration_validator_spark.lake.schema import TableSchema
    from data_migration_validator_spark.lake.table import LakeTable

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    old = cust.where(F.col("c_custkey") % 4 < 3).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    new = cust.where(F.col("c_custkey") % 4 > 0).select(
        "c_custkey",
        "c_name",
        (
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 5 == 0, F.lit(100.0)).otherwise(F.lit(0.0))
        ).alias("c_acctbal"),
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(
            spark,
            f"{tmp}/cust",
            TableSchema.from_pairs(
                [
                    ("c_custkey", "bigint"),
                    ("c_name", "string"),
                    ("c_acctbal", "double"),
                ]
            ),
            key_cols=["c_custkey"],
            num_buckets=8,
        )
        t.overwrite(old)
        since = t.manifest["seq"]
        t.overwrite(new)
        out = t.changes(since).orderBy("c_custkey", "_change_type")
        # rebuild from collected rows: the tmp-dir table vanishes with the
        # with-block, and a cache()d plan is not durable.
        return spark.createDataFrame(out.collect(), out.schema)


def q_global_row_number(spark, sf_dir):
    """Global ordinal enumeration WITHOUT a single-partition window: the
    reference's `row_number() over (order by a)` shape (W1) re-expressed
    as deterministic range slices + per-slice windows + broadcast offsets
    (operators/order.py) — the only form that survives 100 TB."""
    from data_migration_validator_spark.operators.order import global_row_number

    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    return global_row_number(o, ["o_orderkey"], num_slices=32).orderBy(
        "o_orderkey"
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix-C 13-gram rule, n=5 at
    test scale): flag every document sharing ≥1 distinct 5-gram with the
    deterministic 'benchmark' subset (doc_id % 97 == 0 — no external
    data).  The benchmark collapses to its distinct hashed-shingle set
    and is BROADCAST, so the corpus side is one narrow map-side semi-join
    pass — at 100 TB the corpus is never shuffled on shingle."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter((F.col("doc_id") % 97) == 0).select("text")
    out = D.decontaminate(d, bench, "text", "doc_id", ngram=5)
    return out.select(
        "doc_id",
        F.col("contaminated_ngrams").cast("bigint").alias("contaminated_ngrams"),
    ).orderBy("doc_id")


def q_pack_shards(spark, sf_dir):
    """Token-budget shard packing: shard_id = exclusive running token sum
    // budget under a total doc order — the global cumulative sum done
    with boundary slices + per-slice windows (operators/order.py
    pack_shards), never a single-partition global window."""
    from data_migration_validator_spark.operators.order import pack_shards

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        T.token_count("text", "whitespace").cast("bigint").alias("tokens"),
    )
    out = pack_shards(d, "tokens", ["doc_id"], budget=2000, num_slices=16)
    return out.select("doc_id", "tokens", "shard_id").orderBy("doc_id")


def _injected_pii(spark, sf_dir):
    """documents with deterministic PII appended (so the scrub has real,
    oracle-reproducible hits): every 3rd doc gets an email, every 5th an
    IPv4, every 7th a 32-hex secret — all pure functions of doc_id."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" key="), F.md5(F.col("doc_id").cast("string"))),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII scrub audit: per-doc redaction counts + sha256 of the scrubbed
    text (value-level proof the redaction ran byte-identically; the oracle
    applies the literal same RE2-safe patterns).  Pure codegen'd
    regexp_count/regexp_replace — narrow, no shuffle, no Python."""
    rep = SC.scrub_report(_injected_pii(spark, sf_dir))
    return rep.select(
        "doc_id",
        *[F.col(f"n_{k}").cast("bigint").alias(f"n_{k}") for k, _ in SC.DEFAULT_PATTERNS],
        "scrub_sha",
        F.col("scrub_len").cast("bigint").alias("scrub_len"),
    ).orderBy("doc_id")


# single source of truth for the mixture-sample targets: the Spark query
# and the generated DuckDB oracle must normalize the SAME dict in the SAME
# insertion order (float sum order matters for bit-identical rates)
_MIX_TARGETS = {"src1": 0.5, "src2": 0.3, "src3": 0.2}


def q_mixture_sample(spark, sf_dir):
    """Domain-mixture sampler (training-data mix shaping): per-source
    hash-threshold rates solved so the sample follows the target mix
    (50/30/20 over three sources), maximal under availability.  Output:
    per-source membership checksum (count + id/char sums) of the sampled
    rows — pins exact membership, not just counts."""
    from data_migration_validator_spark.operators.sampling import (
        mixture_sample,
    )

    d = _t(spark, sf_dir, "documents")
    out = mixture_sample(d, ["doc_id"], "source", dict(_MIX_TARGETS))
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source")
    )


def q_deterministic_sample(spark, sf_dir):
    """Hash-threshold Bernoulli sample (~15% of orders): membership a pure
    function of the key — rerun/partitioning-stable, a narrow codegen'd
    filter next to the scan (no shuffle), unlike seed-based df.sample."""
    o = _t(spark, sf_dir, "orders")
    out = SAMP.deterministic_sample(o, ["o_orderkey"], 0.15)
    return out.select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")


def q_stratified_sample(spark, sf_dir):
    """Per-language stratified sample of the corpus in ONE narrow pass:
    en kept at 25%, zh at 50%, everything else at 10% — the lang-rebalance
    shape every multilingual training-data pipeline needs."""
    d = _t(spark, sf_dir, "documents")
    out = SAMP.stratified_sample(
        d, ["doc_id"], "lang", {"en": 0.25, "zh": 0.50}, default_fraction=0.10
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def q_sample_topk(spark, sf_dir):
    """Exactly-k deterministic sample: the 100 smallest md5-of-key orders.
    Plans as TakeOrderedAndProject (per-partition top-k + tiny driver
    merge) — no global sort or full-data shuffle."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    return SAMP.sample_exact_k(o, ["o_orderkey"], 100).orderBy("o_orderkey")


def q_ivm_refresh(spark, sf_dir):
    """Incremental materialized-view maintenance end-to-end: a COUNT+SUM
    view over a lake table is refreshed from the change feed (never a fact
    rescan) across an initial load and a mixed upsert/insert/delete CDC
    batch; the oracle recomputes the final aggregate directly from the
    equivalent final table expressed in SQL.  Work per refresh is
    O(changed rows + touched groups)."""
    import tempfile

    from data_migration_validator_spark.lake.ivm import IncrementalAggView
    from data_migration_validator_spark.lake.schema import TableSchema
    from data_migration_validator_spark.lake.table import LakeTable

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(
            spark,
            f"{tmp}/orders",
            TableSchema.from_pairs(
                [
                    ("o_orderkey", "bigint"),
                    ("o_orderstatus", "string"),
                    ("o_custkey", "bigint"),
                ]
            ),
            key_cols=["o_orderkey"],
            num_buckets=8,
        )
        t.overwrite(o.where(F.col("o_orderkey") % 4 != 0))
        view = IncrementalAggView.create(
            spark, f"{tmp}/view", t, ["o_orderstatus"], ["o_custkey"]
        )
        view.refresh()
        # CDC batch: status flips on %8==1, late inserts of the %4==0 keys,
        # deletes of %16==2 — final state is a pure function of `orders`.
        batch = (
            o.where(F.col("o_orderkey") % 8 == 1)
            .withColumn("o_orderstatus", F.lit("U"))
            .withColumn("op", F.lit("upsert"))
            .unionByName(
                o.where(F.col("o_orderkey") % 4 == 0).withColumn(
                    "op", F.lit("upsert")
                )
            )
            .unionByName(
                o.where(F.col("o_orderkey") % 16 == 2).withColumn(
                    "op", F.lit("delete")
                )
            )
        )
        t.merge(batch, op_col="op", delete_value="delete")
        view.refresh()
        out = (
            view.table.read()
            .select("o_orderstatus", "n_rows", "sum_o_custkey")
            .orderBy("o_orderstatus")
        )
        # rebuild from collected rows: the tmp-dir table vanishes with the
        # with-block, and a cache()d plan is not durable.
        return spark.createDataFrame(out.collect(), out.schema)


def q_stats_pruned_scan(spark, sf_dir):
    """Predicate file skipping on the lake read path (lake/stats.py;
    Iceberg/Delta data-skipping analog — extends the reference, whose scans
    prune on partitions only): orders are committed in four ORDER-DATE range
    chunks (the natural time-ordered ingest layout) with
    ``write.sort.cols = o_orderdate``, so each file's footer min/max covers
    one slice of the timeline.  ``scan(pred)`` then reads only the files
    whose [min, max] overlaps the date range — the manifest interval test
    happens before Spark ever lists the parquet — and applies the predicate
    as the residual filter.  The oracle computes the same month rollup
    straight from the source table, so a pruning bug that loses rows fails
    the value hash."""
    import tempfile

    from data_migration_validator_spark.lake.table import LakeTable

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(
            spark,
            f"{tmp}/orders",
            [
                ("o_orderkey", "bigint"),
                ("o_orderdate", "timestamp"),
                ("o_totalprice", "double"),
            ],
            key_cols=["o_orderkey"],
            num_buckets=8,
            properties={"write.sort.cols": "o_orderdate"},
        )
        bounds = [None, "1995-01-01", "1997-01-01", "1999-01-01"]
        for lo, hi in zip(bounds, bounds[1:] + [None]):
            chunk = o
            if lo is not None:
                chunk = chunk.where(F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            if hi is not None:
                chunk = chunk.where(F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            t.append(chunk)
        pruned = t.scan("o_orderdate >= TIMESTAMP '1997-09-01 00:00:00'")
        # the skipping must be observable, not just plausible: at least the
        # all-earlier chunks' files never reach the Spark scan (timestamp
        # pruning is active only under a UTC session — the engine ignores
        # timestamp conjuncts otherwise, which keeps results right anyway)
        from data_migration_validator_spark.lake.stats import _session_tz_is_utc

        if _session_tz_is_utc(spark):
            assert len(pruned.inputFiles()) < len(t.manifest["files"]), (
                "stats pruning had no effect on the file list"
            )
        out = (
            pruned.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                _dsum("o_totalprice", "total_price"),
            )
            .orderBy("month")
        )
        # rebuild from collected rows: the tmp-dir table vanishes with the
        # with-block, and a cache()d plan is not durable.
        return spark.createDataFrame(out.collect(), out.schema)


def q_ngram_repetition(spark, sf_dir):
    """Gopher/MassiveText "repetitious text" filter metrics: per document,
    how much of it sits inside repeated word bigrams (boilerplate/template
    spam scores high and is culled before training).  Relational explode →
    two hash aggregates with map-side partial collapse — no per-doc
    quadratic HOF, skew-proof (operators/text.py repetition_metrics)."""
    from data_migration_validator_spark.operators.text import repetition_metrics

    d = _t(spark, sf_dir, "documents")
    return (
        repetition_metrics(d, "text", ("doc_id",), n=2)
        .select("doc_id", "n_ngrams", "dup_ngrams", "top_ngram_cnt")
        .orderBy("doc_id")
    )


def q_scd2_history(spark, sf_dir):
    """SCD Type-2 dimension history maintained INCREMENTALLY by the engine
    (cdc/scd.py): the events table becomes a 4-micro-batch change stream
    keyed by user_id, each batch applied through the exactly-once lake
    MERGE (closes the prior version, opens the next), then the whole
    version table is read back.  The oracle is the from-scratch definition
    — one LEAD window over all events at once — so a green row proves
    incremental maintenance ≡ batch recomputation."""
    import tempfile

    from data_migration_validator_spark.cdc.scd import (
        make_scd2_table,
        scd2_replay,
    )

    ev = _t(spark, sf_dir, "events")
    n = ev.count()
    stream = ev.select(
        F.col("event_id").alias("event_seq"),
        F.lit("update").alias("op"),
        "user_id",
        "event_type",
        "value",
        F.least(F.lit(3), (F.col("event_id") * 4 / F.lit(n)).cast("int")).alias(
            "batch_hint"
        ),
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = make_scd2_table(
            spark,
            f"{tmp}/hist",
            ["user_id"],
            [("event_type", "string"), ("value", "double")],
            key_types=["bigint"],
            num_buckets=8,
        )
        scd2_replay(
            t,
            stream,
            key_cols=["user_id"],
            order_col="event_seq",
            payload_cols=["event_type", "value"],
        )
        out = t.read().orderBy("user_id", "valid_from_seq")
        # Rebuild from collected rows: the table lives in the tmp dir.
        return spark.createDataFrame(out.collect(), out.schema)


def q_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): each purchase event enriched with
    the user's most recent signup at-or-before it — union + carry-forward
    window, ONE shuffle, no join node (plan-asserted in tests).  The right
    side is pre-deduped per (user_id, ts) so the match is well-defined in
    every engine; oracle is DuckDB's native ASOF LEFT JOIN."""
    from data_migration_validator_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    out = asof_join(
        purchases, signups, on=["user_id"], left_ts="ts",
        right_cols=["signup_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "signup_value",
        F.col("ts_right").alias("signup_ts"),
    ).orderBy("event_id")


def q_sessionization(spark, sf_dir):
    """Gap-based sessionization (operators/sessions.py): 30-minute-gap
    sessions per user over the events stream; per-session event count,
    bounds, and exact µs duration.  lag + running-sum compiled to one
    exchange (plan-asserted in tests)."""
    from data_migration_validator_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    return (
        session_stats(ev, ["user_id"], "ts", gap_s=1800, tie_col="event_id")
        .select(
            "user_id", "session_id", "n_events", "start_ts", "end_ts",
            "duration_us",
        )
        .orderBy("user_id", "session_id")
    )


def q_dq_checks(spark, sf_dir):
    """Declarative data-quality suite (validation/quality.py): NOT NULL,
    uniqueness, range/set/regex domains, an arbitrary predicate, and a
    referential-integrity rule over lineitem→orders.  All row-local +
    unique rules run as ONE aggregation pass (plan-asserted in tests); the
    FK rule is one anti-join count.  Oracle states each count as plain
    SQL."""
    from data_migration_validator_spark.validation.quality import (
        foreign_key,
        in_range,
        in_set,
        matches,
        not_null,
        run_checks,
        satisfies,
        unique,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return run_checks(
        li,
        [
            not_null("l_orderkey"),
            unique("l_orderkey", "l_linenumber"),
            in_range("l_quantity", 1, 50),
            in_set("l_returnflag", ["A", "N", "R"]),
            matches("l_linestatus", "^[OF]$"),
            satisfies("l_discount BETWEEN 0 AND 0.1", "discount_bounds"),
            foreign_key(["l_orderkey"], orders, ["o_orderkey"]),
        ],
    )


def q_column_profile(spark, sf_dir):
    """One-pass column profiler (validation/profile.py): rows / nulls /
    exact distinct / typed min-max per lineitem column.  Exact-distinct
    mode for the oracle; production uses the HLL single-pass mode
    (no Expand, plan-asserted in tests).  The profile is the zero-join
    validation tier — one scan per side instead of a row-level shuffle."""
    from data_migration_validator_spark.validation.profile import (
        profile_columns,
    )

    li = _t(spark, sf_dir, "lineitem")
    return profile_columns(li, exact_distinct=True).orderBy("column")


def q_quantile_profile(spark, sf_dir):
    """One-pass quantile profiler (validation/profile.py): exact linear-
    interpolation percentiles (the quantile_cont definition) for three
    lineitem measures, all columns and probabilities in ONE aggregation.
    Values rounded to 6dp on both sides — the interpolation arithmetic is
    IEEE-identical but the last ulp is not contractual.  Production mode
    swaps in percentile_approx (mergeable sketch, single pass) via
    ``exact=False``."""
    from data_migration_validator_spark.validation.profile import (
        profile_quantiles,
    )

    li = _t(spark, sf_dir, "lineitem")
    qp = profile_quantiles(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )
    return qp.select(
        "column", "p", F.round("value", 6).alias("value")
    ).orderBy("column", "p")


def q_value_histogram(spark, sf_dir):
    """Equi-width value histograms (validation/drift.py): two lineitem
    columns bucketed in ONE scan + ONE tiny shuffle (inline (column,
    bucket) expansion, plan-asserted in tests).  width_bucket semantics
    via an explicit floor() formula evaluated in the same IEEE order by
    the DuckDB oracle, so boundary values bucket identically.  Feeds the
    PSI/KS drift report (pytest-checked — PSI is driver-side float math)."""
    from data_migration_validator_spark.validation.drift import histogram

    li = _t(spark, sf_dir, "lineitem")
    h = histogram(
        li, {"l_quantity": (0.0, 50.0), "l_discount": (0.0, 0.12)},
        n_buckets=10,
    )
    return (
        h.select(
            "column",
            F.coalesce(F.col("bucket"), F.lit(-1)).alias("bucket"),
            "n",
        )
        .orderBy("column", "bucket")
    )


def q_chunk_documents(spark, sf_dir):
    """Overlapping-window document chunking (operators/chunking.py):
    size 200 / overlap 40 character windows with deterministic
    (doc_id, chunk_index) ids — a single codegen projection, ZERO shuffles
    (plan-asserted in tests).  Oracle re-derives the same windows with
    generate_series + substring."""
    from data_migration_validator_spark.operators.chunking import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, size=200, overlap=40)
    return out.select(
        "doc_id",
        F.col("chunk_index").cast("bigint").alias("chunk_index"),
        F.col("chunk_start").cast("bigint").alias("chunk_start"),
        F.col("chunk_len").cast("bigint").alias("chunk_len"),
        "chunk_text",
    ).orderBy("doc_id", "chunk_index")


def q_range_join(spark, sf_dir):
    """Bucketed range join (operators/interval.py): each purchase matched
    to every signup window [signup_ts, signup_ts + 3 days) of the same
    user — grid-cell explode + hash EQUI-join + residual filter, no
    BroadcastNestedLoop anywhere (plan-asserted in tests).  Oracle is the
    naive theta-join DuckDB can afford at this scale."""
    from data_migration_validator_spark.operators.interval import range_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 3 DAYS")).alias("end_ts"),
    )
    out = range_join(
        purchases, signups, "ts", "start_ts", "end_ts",
        on=["user_id"], bucket_width_s=86400.0,
    )
    return out.select(
        "event_id", "user_id", "ts", "signup_id", "start_ts", "end_ts"
    ).orderBy("event_id", "signup_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reconciliation pipeline (digest classify + per-column
    metrics driver) on sf0.001 — the validate half of the engine."""
    return q_recon_counts(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "top_orders": q_top_orders,
        "region_revenue": q_region_revenue,
        "window_latest_event": q_window_latest_event,
        "window_dedup_first": q_window_dedup_first,
        "anti_join_extras": q_anti_join_extras,
        "semi_join_filter": q_semi_join_filter,
        "groupby_date_bucket": q_groupby_date_bucket,
        "minmax_timeline": q_minmax_timeline,
        "pk_validation": q_pk_validation,
        "conditional_counts": q_conditional_counts,
        "collect_set_agg": q_collect_set_agg,
        "union_distinct": q_union_distinct,
        "recon_counts": q_recon_counts,
        "recon_status_rows": q_recon_status_rows,
        "bucket_reconcile": q_bucket_reconcile,
        "bucket_reconcile_clean": q_bucket_reconcile_clean,
        "column_mismatch_metrics": q_column_mismatch_metrics,
        "row_level_mismatches": q_row_level_mismatches,
        "full_outer_report": q_full_outer_report,
        "windowed_validation": q_windowed_validation,
        "extras_rows": q_extras_rows,
        "event_quarantine": q_event_quarantine,
        "text_stats": q_text_stats,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "vocab_topk": q_vocab_topk,
        "exact_dedup": q_exact_dedup,
        "fingerprint_dedup": q_fingerprint_dedup,
        "embedding_norms": q_embedding_norms,
        "knn_bruteforce": q_knn_bruteforce,
        "knn_ivf": q_knn_ivf,
        "embedding_near_dup": q_embedding_near_dup,
        "near_dup_clusters": q_near_dup_clusters,
        "minhash_near_dup": q_minhash_near_dup,
        "simhash_near_dup": q_simhash_near_dup,
        "ngram_jaccard": q_ngram_jaccard,
        "projection_sentinel": q_projection_sentinel,
        "ordinal_check": q_ordinal_check,
        "schema_compatibility": q_schema_compatibility,
        "multimodal_features": q_multimodal_features,
        "cdc_replay": q_cdc_replay,
        "cdc_replay_mor": q_cdc_replay_mor,
        "validation_summary": q_validation_summary,
        "comment_compare": q_comment_compare,
        "mapped_validation": q_mapped_validation,
        "addtnl_filter_metrics": q_addtnl_filter_metrics,
        "windowed_stream_metrics": q_windowed_stream_metrics,
        "anomaly_rows": q_anomaly_rows,
        "table_changes": q_table_changes,
        "pii_scrub": q_pii_scrub,
        "mixture_sample": q_mixture_sample,
        "deterministic_sample": q_deterministic_sample,
        "stratified_sample": q_stratified_sample,
        "sample_topk": q_sample_topk,
        "ivm_refresh": q_ivm_refresh,
        "global_row_number": q_global_row_number,
        "stats_pruned_scan": q_stats_pruned_scan,
        "ngram_repetition": q_ngram_repetition,
        "decontaminate": q_decontaminate,
        "shard_packing": q_pack_shards,
        "scd2_history": q_scd2_history,
        "asof_join": q_asof_join,
        "sessionization": q_sessionization,
        "dq_checks": q_dq_checks,
        "column_profile": q_column_profile,
        "quantile_profile": q_quantile_profile,
        "value_histogram": q_value_histogram,
        "chunk_documents": q_chunk_documents,
        "range_join": q_range_join,
    }


def _mixture_sample_oracle() -> str:
    """Generated DuckDB oracle for q_mixture_sample: the rate solve
    (T = min n_d/p_d; rate_d = p_d·T/n_d) runs in SQL over the live
    per-source counts with the SAME normalized target literals and the
    SAME ieee op order as operators/sampling.mixture_plan; thresholds
    replicate _threshold_hex (truncate to 8 lowercase hex chars, 'g'
    sentinel at rate 1.0); membership is the identical md5-prefix
    predicate."""
    s = sum(_MIX_TARGETS.values())
    norm = {d: p / s for d, p in _MIX_TARGETS.items() if p > 0}
    p_values = ", ".join(f"('{d}', {p!r})" for d, p in norm.items())
    src_list = ", ".join(f"'{d}'" for d in norm)
    return f"""
        WITH c AS (
            SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
            FROM documents WHERE source IN ({src_list}) GROUP BY source
        ),
        p(source, p) AS (VALUES {p_values}),
        t AS (SELECT MIN(n / p) AS big_t FROM c JOIN p USING (source)),
        r AS (
            SELECT source, LEAST(1.0, p * big_t / n) AS rate
            FROM c JOIN p USING (source), t
        ),
        thr AS (
            SELECT source,
                   CASE WHEN rate >= 1.0 THEN 'g0000000'
                        ELSE lower(lpad(to_hex(LEAST(
                            CAST(FLOOR(rate * 4294967296.0) AS BIGINT),
                            4294967295)), 8, '0'))
                   END AS th
            FROM r
        )
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(d.doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
        FROM documents d JOIN thr USING (source)
        WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < th
        GROUP BY d.source ORDER BY d.source
    """


def _addtnl_filters_oracle() -> str:
    """Generated DuckDB oracle for q_addtnl_filter_metrics: per (filter ×
    column) conditional sums over the same full-outer join, mirroring the
    engine's single-pass counters (slices count OVERLAP rows only)."""
    cols = _ORDER_CMP
    eqs = ", ".join(
        f"s.{c} AS {c}_src, t.{c} AS {c}_tgt, "
        f"(s.{c} IS NOT DISTINCT FROM t.{c}) AS eq_{c}"
        for c in cols
    )
    head = f"""
        WITH s AS ({_SRC_SQL}), t AS ({_TGT_SQL}),
        j AS (
            SELECT s.o_orderkey IS NOT NULL AS sp,
                   t.o_orderkey IS NOT NULL AS tp,
                   {eqs}
            FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey)
    """
    filters = [
        ("N/A", None),
        ("open_status", "o_orderstatus_tgt = 'O'"),
        (
            "below_max",
            "o_totalprice_src <= (select max(o_totalprice_tgt) from j)",
        ),
    ]
    parts = []
    for name, cond in filters:
        base = "sp AND tp" + (f" AND ({cond})" if cond else "")
        for c in cols:
            parts.append(
                f"""SELECT '{name}' AS addtnl_filter, '{c}' AS column_name,
                CAST(SUM(CASE WHEN {base} THEN 1 ELSE 0 END) AS BIGINT)
                    AS total_overlaps,
                CAST(SUM(CASE WHEN {base} AND eq_{c} THEN 1 ELSE 0 END)
                    AS BIGINT) AS matches,
                CAST(SUM(CASE WHEN {base} AND NOT eq_{c} THEN 1 ELSE 0 END)
                    AS BIGINT) AS mismatches
                FROM j"""
            )
    return (
        head
        + " ".join(
            ("UNION ALL " if i else "") + p for i, p in enumerate(parts)
        )
        + " ORDER BY addtnl_filter, column_name"
    )


def _store_values(rows):
    return ", ".join(f"('{n}', '{t}', {o})" for n, t, o in rows)


def _widen_pairs_values():
    from data_migration_validator_spark.lake.schema import _WIDEN

    pairs = sorted(
        {(f, t) for f, tos in _WIDEN.items() for t in tos} | {(f, f) for f in _WIDEN}
    )
    return ", ".join(f"('{f}', '{t}')" for f, t in pairs)


def oracle_sql() -> dict[str, str]:
    src = _SRC_SQL
    tgt = _TGT_SQL
    sqls = {
        "projection_sentinel": """
            SELECT o_orderkey, o_orderstatus AS status,
                   'THIS COLUMN DOES NOT EXIST IN TGT' AS ghost
            FROM orders ORDER BY o_orderkey
        """,
        "ordinal_check": f"""
            WITH s(col_name, data_type, col_order) AS (VALUES {_store_values(_SRC_STORE)}),
                 t(col_name, data_type, col_order) AS (VALUES {_store_values(_TGT_STORE)})
            SELECT COALESCE(s.col_order, t.col_order) AS col_order,
                   s.col_name AS src_col_name,
                   t.col_name AS tgt_col_name,
                   CASE WHEN LOWER(s.col_name) IS NOT DISTINCT FROM LOWER(t.col_name)
                        THEN 'MATCH' ELSE 'MISMATCH' END AS ordinal_compare
            FROM s FULL OUTER JOIN t ON s.col_order = t.col_order
            ORDER BY col_order
        """,
        "schema_compatibility": f"""
            WITH s(col_name, data_type, col_order) AS (VALUES {_store_values(_SRC_STORE)}),
                 t(col_name, data_type, col_order) AS (VALUES {_store_values(_TGT_STORE)}),
                 widen(frm, wide) AS (VALUES {_widen_pairs_values()}),
            j AS (
                SELECT COALESCE(LOWER(s.col_name), LOWER(t.col_name)) AS col_key,
                       s.data_type AS src_data_type, t.data_type AS tgt_data_type,
                       CASE WHEN s.col_name IS NOT NULL AND t.col_name IS NOT NULL
                            THEN 'MATCH' ELSE 'MISMATCH' END AS col_name_compare,
                       CASE WHEN LOWER(s.data_type) IS NOT DISTINCT FROM LOWER(t.data_type)
                            THEN 'MATCH' ELSE 'MISMATCH' END AS datatype_compare
                FROM s FULL OUTER JOIN t ON LOWER(s.col_name) = LOWER(t.col_name)
            ),
            p AS (
                SELECT *,
                       STRING_SPLIT(LOWER(src_data_type), '(')[1] AS sb,
                       STRING_SPLIT(LOWER(tgt_data_type), '(')[1] AS tb,
                       TRY_CAST(NULLIF(REGEXP_EXTRACT(LOWER(src_data_type), '\\((\\d+)', 1), '') AS INT) AS sp,
                       COALESCE(TRY_CAST(NULLIF(REGEXP_EXTRACT(LOWER(src_data_type), '\\(\\d+\\s*,\\s*(\\d+)', 1), '') AS INT), 0) AS ss,
                       TRY_CAST(NULLIF(REGEXP_EXTRACT(LOWER(tgt_data_type), '\\((\\d+)', 1), '') AS INT) AS tp,
                       COALESCE(TRY_CAST(NULLIF(REGEXP_EXTRACT(LOWER(tgt_data_type), '\\(\\d+\\s*,\\s*(\\d+)', 1), '') AS INT), 0) AS ts
                FROM j
            )
            SELECT col_key, src_data_type, tgt_data_type, col_name_compare,
                   datatype_compare,
                   CASE WHEN datatype_compare = 'MATCH' THEN TRUE
                        WHEN src_data_type IS NULL OR tgt_data_type IS NULL THEN FALSE
                        ELSE EXISTS (SELECT 1 FROM widen w
                                     WHERE w.frm = p.sb AND w.wide = p.tb)
                             AND (CASE
                                  WHEN sp IS NULL OR tp IS NULL THEN TRUE
                                  WHEN sb = 'decimal' AND tb = 'decimal'
                                      THEN (tp - ts) >= (sp - ss) AND ts >= ss
                                  WHEN sb IN ('char', 'varchar')
                                       AND tb IN ('char', 'varchar')
                                      THEN tp >= sp
                                  ELSE TRUE END)
                   END AS compatible
            FROM p ORDER BY col_key
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS count_order,
                   CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_discount_lines
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_orders": """
            WITH rev AS (
                SELECT l_orderkey,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
                FROM lineitem GROUP BY l_orderkey
            )
            SELECT o.o_orderkey AS orderkey, c.c_custkey AS custkey, rev.revenue
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN rev ON o.o_orderkey = rev.l_orderkey
            ORDER BY revenue DESC, orderkey
            LIMIT 10
        """,
        "region_revenue": """
            SELECT r.r_name AS region_name,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                            (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                   COUNT(*) AS line_count
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
            ORDER BY region_name
        """,
        "window_latest_event": """
            SELECT user_id, event_id, event_type, value FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "window_dedup_first": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
                FROM lineitem
            ) WHERE rn = 1 ORDER BY l_orderkey
        """,
        "anti_join_extras": """
            SELECT c_custkey, c_name, c_nationkey FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey
        """,
        "semi_join_filter": """
            SELECT o_orderkey, o_custkey, o_orderstatus FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
            ORDER BY o_orderkey
        """,
        "groupby_date_bucket": """
            SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS bucket_date,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1 ORDER BY bucket_date
        """,
        "minmax_timeline": """
            SELECT event_type,
                   STRFTIME(MIN(CAST(ts AS DATE)), '%Y-%m-%d') AS min_date,
                   STRFTIME(MAX(CAST(ts AS DATE)), '%Y-%m-%d') AS max_date,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "pk_validation": """
            SELECT COUNT(*) AS total_count,
                   COUNT(DISTINCT (l_orderkey, l_linenumber)) AS distinct_count,
                   COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS pk_violations
            FROM lineitem
        """,
        "conditional_counts": """
            SELECT COUNT(*) AS total_orders,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
                   CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
                   CAST(SUM(CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_large
            FROM orders
        """,
        "collect_set_agg": """
            SELECT c.c_nationkey AS nationkey,
                   STRING_AGG(DISTINCT o.o_orderstatus, ',' ORDER BY o.o_orderstatus) AS statuses,
                   COUNT(*) AS n_orders
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey ORDER BY nationkey
        """,
        "union_distinct": f"""
            SELECT o_orderkey FROM ({src})
            UNION
            SELECT o_orderkey FROM ({tgt})
            ORDER BY o_orderkey
        """,
        "recon_counts": f"""
            WITH s AS ({src}), t AS ({tgt}),
            j AS (
                SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
                       (s.o_custkey IS NOT DISTINCT FROM t.o_custkey
                        AND s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus
                        AND s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice
                        AND s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority) AS eq
                FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey
            )
            SELECT CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL AND eq THEN 1 ELSE 0 END) AS BIGINT) AS matches,
                   CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL AND NOT eq THEN 1 ELSE 0 END) AS BIGINT) AS mismatches,
                   CAST(SUM(CASE WHEN tk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS src_extras,
                   CAST(SUM(CASE WHEN sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tgt_extras
            FROM j
        """,
        "recon_status_rows": f"""
            WITH s AS ({src}), t AS ({tgt}),
            cls AS (
                SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
                       CASE WHEN s.o_orderkey IS NULL THEN 'TGT_EXTRA'
                            WHEN t.o_orderkey IS NULL THEN 'SRC_EXTRA'
                            WHEN s.o_custkey IS NOT DISTINCT FROM t.o_custkey
                             AND s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus
                             AND s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice
                             AND s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority
                            THEN 'MATCH' ELSE 'MISMATCH' END AS status
                FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey
            )
            SELECT o_orderkey, status FROM cls
            WHERE status <> 'MATCH' ORDER BY o_orderkey
        """,
        "column_mismatch_metrics": f"""
            WITH s AS ({src}), t AS ({tgt}),
            j AS (SELECT s.o_orderkey AS sk, t.o_orderkey AS tk, s.o_custkey AS c_s,
                         t.o_custkey AS c_t, s.o_orderstatus AS st_s, t.o_orderstatus AS st_t,
                         s.o_totalprice AS tp_s, t.o_totalprice AS tp_t,
                         s.o_orderpriority AS pr_s, t.o_orderpriority AS pr_t
                  FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey),
            base AS (
                SELECT COUNT(*) FILTER (sk IS NOT NULL AND tk IS NOT NULL) AS total_overlaps,
                       COUNT(*) FILTER (sk IS NOT NULL AND tk IS NULL) AS src_extras,
                       COUNT(*) FILTER (sk IS NULL AND tk IS NOT NULL) AS tgt_extras,
                       COUNT(*) FILTER (sk IS NOT NULL AND tk IS NOT NULL AND c_s IS NOT DISTINCT FROM c_t) AS m_cust,
                       COUNT(*) FILTER (sk IS NOT NULL AND tk IS NOT NULL AND NOT (c_s IS NOT DISTINCT FROM c_t)) AS x_cust,
                       COUNT(*) FILTER (sk IS NOT NULL AND tk IS NOT NULL AND st_s IS NOT DISTINCT FROM st_t) AS m_stat,
                       COUNT(*) FILTER (sk IS NOT NULL AND tk IS NOT NULL AND NOT (st_s IS NOT DISTINCT FROM st_t)) AS x_stat,
                       COUNT(*) FILTER (sk IS NOT NULL AND tk IS NOT NULL AND tp_s IS NOT DISTINCT FROM tp_t) AS m_tp,
                       COUNT(*) FILTER (sk IS NOT NULL AND tk IS NOT NULL AND NOT (tp_s IS NOT DISTINCT FROM tp_t)) AS x_tp,
                       COUNT(*) FILTER (sk IS NOT NULL AND tk IS NOT NULL AND pr_s IS NOT DISTINCT FROM pr_t) AS m_pr,
                       COUNT(*) FILTER (sk IS NOT NULL AND tk IS NOT NULL AND NOT (pr_s IS NOT DISTINCT FROM pr_t)) AS x_pr
                FROM j)
            SELECT 'o_custkey' AS column_name, total_overlaps, m_cust AS matches,
                   x_cust AS mismatches, src_extras, tgt_extras FROM base
            UNION ALL
            SELECT 'o_orderstatus', total_overlaps, m_stat, x_stat, src_extras, tgt_extras FROM base
            UNION ALL
            SELECT 'o_totalprice', total_overlaps, m_tp, x_tp, src_extras, tgt_extras FROM base
            UNION ALL
            SELECT 'o_orderpriority', total_overlaps, m_pr, x_pr, src_extras, tgt_extras FROM base
            ORDER BY column_name
        """,
        "row_level_mismatches": f"""
            WITH s AS ({src}), t AS ({tgt}),
            so AS (SELECT s.* FROM s WHERE EXISTS
                   (SELECT 1 FROM t WHERE t.o_orderkey = s.o_orderkey)),
            to_ AS (SELECT t.* FROM t WHERE EXISTS
                   (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)),
            sd AS (SELECT * FROM so EXCEPT ALL SELECT * FROM to_),
            td AS (SELECT * FROM to_ EXCEPT ALL SELECT * FROM so)
            SELECT o_orderkey, o_totalprice, o_orderpriority, 'src' AS side FROM sd
            UNION ALL
            SELECT o_orderkey, o_totalprice, o_orderpriority, 'tgt' AS side FROM td
        """,
        "full_outer_report": f"""
            WITH s AS ({src}), t AS ({tgt})
            SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
                   s.o_totalprice AS o_totalprice_src,
                   t.o_totalprice AS o_totalprice_tgt,
                   s.o_orderpriority AS o_orderpriority_src,
                   t.o_orderpriority AS o_orderpriority_tgt
            FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey
            WHERE NOT (s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice
                       AND s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority)
            ORDER BY o_orderkey
        """,
        "windowed_validation": """
            WITH ev AS (SELECT event_id, ts, event_type, value FROM events),
            s AS (SELECT * FROM ev WHERE event_id % 53 <> 0),
            t AS (SELECT event_id, ts, event_type,
                         CASE WHEN event_id % 71 = 0 THEN value + 1.0 ELSE value END AS value
                  FROM ev WHERE event_id % 59 <> 0),
            j AS (
                SELECT COALESCE(s.event_id, t.event_id) AS k,
                       STRFTIME(CAST(COALESCE(s.ts, t.ts) AS DATE), '%Y-%m-%d') AS bucket_date,
                       s.event_id AS sk, t.event_id AS tk,
                       (s.event_type IS NOT DISTINCT FROM t.event_type
                        AND s.value IS NOT DISTINCT FROM t.value) AS eq
                FROM s FULL OUTER JOIN t ON s.event_id = t.event_id
            )
            SELECT bucket_date,
                   CAST(SUM(CASE WHEN sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS src_count,
                   CAST(SUM(CASE WHEN tk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tgt_count,
                   CAST(SUM(CASE WHEN tk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS src_extras,
                   CAST(SUM(CASE WHEN sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tgt_extras,
                   CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL AND NOT eq
                            THEN 1 ELSE 0 END) AS BIGINT) AS mismatched_rows
            FROM j GROUP BY bucket_date ORDER BY bucket_date
        """,
        "extras_rows": f"""
            WITH s AS ({src}), t AS ({tgt})
            SELECT o_orderkey, 'src' AS side FROM s
            WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.o_orderkey = s.o_orderkey)
            UNION ALL
            SELECT o_orderkey, 'tgt' AS side FROM t
            WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)
            ORDER BY o_orderkey, side
        """,
        "event_quarantine": """
            WITH c AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 97 = 0 THEN NULL ELSE user_id END AS user_id,
                       CASE WHEN event_id % 101 = 3 THEN NULL ELSE value END AS value,
                       CASE WHEN event_id % 101 = 3 THEN NULL ELSE props END AS props
                FROM events
            ),
            tagged AS (
                SELECT event_id, event_type,
                       CASE
                           WHEN event_type NOT IN ('click', 'view', 'purchase')
                               THEN 'unknown_op'
                           WHEN user_id IS NULL THEN 'null_key'
                           WHEN value IS NULL AND props IS NULL
                                AND event_type <> 'delete' THEN 'no_payload'
                       END AS reason
                FROM c
            )
            SELECT event_id, event_type, reason FROM tagged
            WHERE reason IS NOT NULL ORDER BY event_id
        """,
        "text_stats": r"""
            SELECT doc_id,
                   LENGTH(text) AS chars,
                   CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                        ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) END AS ws_tokens,
                   LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        "text_quality": r"""
            WITH per_doc AS (
                SELECT doc_id,
                       LENGTH(COALESCE(text, '')) AS n_chars,
                       LEN(REGEXP_EXTRACT_ALL(text, '[^\w\s]')) AS punct,
                       LEN(REGEXP_EXTRACT_ALL(text, '[0-9]')) AS digits
                FROM documents
            )
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   CAST(SUM(CASE WHEN CAST(punct AS DOUBLE) /
                            (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END) > 0.10
                       THEN 1 ELSE 0 END) AS BIGINT) AS punct_heavy,
                   CAST(SUM(CASE WHEN CAST(digits AS DOUBLE) /
                            (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END) > 0.10
                       THEN 1 ELSE 0 END) AS BIGINT) AS digit_heavy
            FROM per_doc
        """,
        "vocab_topk": r"""
            WITH toks AS (
                SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
                FROM documents
            )
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks WHERE tok <> ''
            GROUP BY tok ORDER BY n DESC, tok LIMIT 50
        """,
        "lang_id": r"""
            WITH toks AS (
                SELECT doc_id,
                       LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS tk
                FROM documents
            ),
            hits AS (
                SELECT doc_id,
                       LEN(LIST_INTERSECT(tk, ['the','and','of','to','in','is','that','it','for','was'])) AS h_en,
                       LEN(LIST_INTERSECT(tk, ['der','die','das','und','ist','nicht','ein','mit','auf','zu'])) AS h_de,
                       LEN(LIST_INTERSECT(tk, ['le','la','les','et','est','des','une','dans','que','pour'])) AS h_fr,
                       LEN(LIST_INTERSECT(tk, ['el','la','los','de','que','y','en','un','una','por'])) AS h_es
                FROM toks
            ),
            pred AS (
                SELECT doc_id,
                       CASE WHEN GREATEST(h_en,h_de,h_fr,h_es) = 0 THEN 'und'
                            WHEN h_en = GREATEST(h_en,h_de,h_fr,h_es) THEN 'en'
                            WHEN h_de = GREATEST(h_en,h_de,h_fr,h_es) THEN 'de'
                            WHEN h_fr = GREATEST(h_en,h_de,h_fr,h_es) THEN 'fr'
                            ELSE 'es' END AS pred_lang
                FROM hits
            )
            SELECT pred_lang, COUNT(*) AS n_docs FROM pred
            GROUP BY pred_lang ORDER BY pred_lang
        """,
        "exact_dedup": """
            WITH g AS (
                SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
                FROM documents GROUP BY COALESCE(text, '')
            )
            SELECT doc_id, dup_count FROM g WHERE dup_count > 1 ORDER BY doc_id
        """,
        "fingerprint_dedup": r"""
            WITH fp AS (
                SELECT SHA256(TRIM(REGEXP_REPLACE(
                           REGEXP_REPLACE(LOWER(COALESCE(text, '')), '[^\w\s]', '', 'g'),
                           '\s+', ' ', 'g'))) AS fingerprint
                FROM documents
            )
            SELECT fingerprint, COUNT(*) AS cluster_size FROM fp
            GROUP BY fingerprint HAVING COUNT(*) >= 2 ORDER BY fingerprint
        """,
        "embedding_norms": """
            SELECT vec_id,
                   LEN(embedding) AS dims,
                   ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
                   label
            FROM embeddings ORDER BY vec_id
        """,
        "embedding_near_dup": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            p AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.embedding) + 1),
                           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                       / (SQRT(LIST_SUM(LIST_TRANSFORM(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * SQRT(LIST_SUM(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                       AS cosine
                FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b FROM p WHERE cosine >= 0.40 ORDER BY id_a, id_b
        """,
        "near_dup_clusters": """
            WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings),
            p AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM e a JOIN e b ON a.vec_id < b.vec_id
                WHERE LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.embedding) + 1),
                          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                      / (SQRT(LIST_SUM(LIST_TRANSFORM(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                         * SQRT(LIST_SUM(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                      >= 0.40
            ),
            edges AS (
                SELECT id_a AS s, id_b AS d FROM p
                UNION SELECT id_b, id_a FROM p
            ),
            walk(v, l) AS (
                SELECT s, s FROM edges
                UNION
                SELECT e2.s, w.l FROM edges e2 JOIN walk w ON e2.d = w.v
            )
            SELECT v AS vec_id, MIN(l) AS cluster_id
            FROM walk GROUP BY v ORDER BY vec_id
        """,
        "knn_bruteforce": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 8),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
            scored AS (
                SELECT q.query_id, c.neighbor_id,
                       LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(qv) + 1),
                           i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
                       / (SQRT(LIST_SUM(LIST_TRANSFORM(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * SQRT(LIST_SUM(LIST_TRANSFORM(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                       AS cosine
                FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, neighbor_id) AS rank
                FROM scored
            ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        # MinHash+LSH near-dups: the exact-Jaccard ≥ 0.8 pair set, computed
        # hash-free (no doc-freq cap — the engine's LSH surfaces every such
        # pair on this corpus, recall 1.0 measured at sf0.01/sf0.1; a
        # recall regression fails this gate by design).
        "minhash_near_dup": r"""
            WITH toks AS (
                SELECT doc_id,
                       REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(COALESCE(text, ''))), '\s+') AS tk
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN LEN(tk) >= 3 THEN
                           LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk) - 1),
                               i -> CONCAT_WS(' ', tk[i], tk[i+1], tk[i+2])))
                       ELSE [ARRAY_TO_STRING(tk, ' ')] END AS shingles
                FROM toks
            ),
            ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
            common AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
            ORDER BY id_a, id_b
        """,
        # exact inverted-index n-gram Jaccard — mirrors ngram_jaccard_pairs
        # (ngram=3, threshold=0.8, max_doc_freq=200): doc sizes BEFORE the
        # doc-freq cap, pair commons AFTER it, jaccard = c/(na+nb-c).
        "ngram_jaccard": r"""
            WITH toks AS (
                SELECT doc_id,
                       REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(COALESCE(text, ''))), '\s+') AS tk
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN LEN(tk) >= 3 THEN
                           LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk) - 1),
                               i -> CONCAT_WS(' ', tk[i], tk[i+1], tk[i+2])))
                       ELSE [ARRAY_TO_STRING(tk, ' ')] END AS shingles
                FROM toks
            ),
            ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
            keep AS (
                SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 200
            ),
            fx AS (SELECT * FROM ex WHERE shingle IN (SELECT shingle FROM keep)),
            common AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM fx a JOIN fx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
            ORDER BY id_a, id_b
        """,
        # summary conjunction read-back (validation_sqls.py:24-63): statuses
        # derived from the same counts the pipeline aggregates; the schema
        # checks are SUCCESS by construction (identical src/tgt schemas) and
        # carry their own dedicated oracle rows (ordinal_check,
        # schema_compatibility).
        "validation_summary": f"""
            WITH s AS ({src}), t AS ({tgt}),
            j AS (
                SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
                       (s.o_custkey IS NOT DISTINCT FROM t.o_custkey
                        AND s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus
                        AND s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice
                        AND s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority) AS eq
                FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey
            ),
            c AS (
                SELECT CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL AND eq THEN 1 ELSE 0 END) AS BIGINT) AS matches,
                       CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL AND NOT eq THEN 1 ELSE 0 END) AS BIGINT) AS mismatches,
                       CAST(SUM(CASE WHEN tk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS src_extras,
                       CAST(SUM(CASE WHEN sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tgt_extras
                FROM j
            ),
            pk AS (
                SELECT (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM s) +
                       (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM t) AS violations
            )
            SELECT 'r1' AS run_id, 'orders' AS table_family,
                   CASE WHEN mismatches = 0 AND src_extras = 0 AND tgt_extras = 0
                             AND violations = 0
                        THEN 'SUCCESS' ELSE 'FAILED' END AS final_validation_status,
                   CASE WHEN src_extras = 0 AND tgt_extras = 0
                        THEN 'SUCCESS' ELSE 'FAILED' END AS row_count_status,
                   CASE WHEN mismatches = 0 THEN 'SUCCESS' ELSE 'FAILED' END AS mismatches_after_exclusion_status,
                   'SUCCESS' AS comment_compare_status,
                   CASE WHEN src_extras = 0 AND tgt_extras = 0
                        THEN 'SUCCESS' ELSE 'FAILED' END AS extras_status,
                   CASE WHEN violations = 0 THEN 'SUCCESS' ELSE 'FAILED' END AS primary_key_compliance_status,
                   'SUCCESS' AS column_names_status,
                   'SUCCESS' AS ordinal_status,
                   'SUCCESS' AS datatype_compatibility_status,
                   matches, mismatches, src_extras, tgt_extras
            FROM c, pk
        """,
        "anomaly_rows": f"""
            WITH s AS ({src}), t AS ({tgt}),
            j AS (
                SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
                       COALESCE(s.o_orderkey, t.o_orderkey) AS k,
                       s.o_orderstatus AS s_ost, t.o_orderstatus AS t_ost,
                       (s.o_custkey IS NOT DISTINCT FROM t.o_custkey
                        AND s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus
                        AND s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice
                        AND s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority) AS eq
                FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey
            ),
            anom AS (
                SELECT 'MISMATCH_SRC' AS status, k, s_ost AS ost FROM j
                 WHERE sk IS NOT NULL AND tk IS NOT NULL AND NOT eq
                UNION ALL
                SELECT 'MISMATCH_TGT', k, t_ost FROM j
                 WHERE sk IS NOT NULL AND tk IS NOT NULL AND NOT eq
                UNION ALL
                SELECT 'SRC_EXTRA', k, s_ost FROM j WHERE tk IS NULL
                UNION ALL
                SELECT 'TGT_EXTRA', k, t_ost FROM j WHERE sk IS NULL
            )
            SELECT status,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
                   CAST(MIN(k) AS BIGINT) AS min_key,
                   CAST(MAX(k) AS BIGINT) AS max_key,
                   CAST(COUNT(ost) AS BIGINT) AS n_status_vals
            FROM anom GROUP BY status ORDER BY status
        """,
        "table_changes": """
            WITH old AS (
                SELECT c_custkey, c_name, c_acctbal
                FROM customer WHERE c_custkey % 4 < 3
            ),
            new AS (
                SELECT c_custkey, c_name,
                       c_acctbal + CASE WHEN c_custkey % 5 = 0
                                        THEN 100.0 ELSE 0.0 END AS c_acctbal
                FROM customer WHERE c_custkey % 4 > 0
            )
            SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
                   COALESCE(n.c_name, o.c_name) AS c_name,
                   CASE WHEN n.c_custkey IS NULL THEN o.c_acctbal
                        ELSE n.c_acctbal END AS c_acctbal,
                   CASE WHEN o.c_custkey IS NULL THEN 'insert'
                        WHEN n.c_custkey IS NULL THEN 'delete'
                        ELSE 'update_postimage' END AS _change_type
            FROM new n FULL OUTER JOIN old o ON n.c_custkey = o.c_custkey
            WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
               OR n.c_acctbal IS DISTINCT FROM o.c_acctbal
               OR n.c_name IS DISTINCT FROM o.c_name
            ORDER BY COALESCE(n.c_custkey, o.c_custkey),
                     CASE WHEN o.c_custkey IS NULL THEN 'insert'
                          WHEN n.c_custkey IS NULL THEN 'delete'
                          ELSE 'update_postimage' END
        """,
    }
    # Probe-all IVF is exactly brute force (see q_knn_ivf docstring), so it
    # shares the exact-cosine oracle.
    sqls["knn_ivf"] = sqls["knn_bruteforce"]
    # The bucket short-circuit's anomalies are exactly the full reconcile's
    # non-MATCH rows (see q_bucket_reconcile), so it shares that oracle.
    sqls["bucket_reconcile"] = sqls["recon_status_rows"]
    # Identical pair → empty classification (steady-state short-circuit).
    sqls["bucket_reconcile_clean"] = f"""
        WITH t AS ({tgt})
        SELECT o_orderkey, CAST(NULL AS VARCHAR) AS status
        FROM t WHERE FALSE
    """
    # --- scrub: the literal same RE2-safe patterns, counts on the original
    # text, replacements nested in DEFAULT_PATTERNS order (see scrub.py).
    # Built by string-substitution (the regexes contain {m,n} braces).
    from data_migration_validator_spark.operators.scrub import DEFAULT_PATTERNS

    _inj = """
        SELECT doc_id,
               COALESCE(text, '')
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' key=' || md5(CAST(doc_id AS VARCHAR))
                       ELSE '' END AS text
        FROM documents
    """
    _counts = ", ".join(
        "CAST(LEN(REGEXP_EXTRACT_ALL(text, '" + pat + "')) AS BIGINT) AS n_" + kind
        for kind, pat in DEFAULT_PATTERNS
    )
    _scrubbed = "text"
    for kind, pat in DEFAULT_PATTERNS:
        _scrubbed = (
            "REGEXP_REPLACE(" + _scrubbed + ", '" + pat + "', '<"
            + kind.upper() + "_REDACTED>', 'g')"
        )
    sqls["pii_scrub"] = (
        "WITH injected AS (" + _inj + ")\n"
        "SELECT doc_id, " + _counts + ",\n"
        "       SHA256(" + _scrubbed + ") AS scrub_sha,\n"
        "       CAST(LEN(" + _scrubbed + ") AS BIGINT) AS scrub_len\n"
        "FROM injected ORDER BY doc_id"
    )
    # --- deterministic sampling: identical md5-prefix thresholds on both
    # sides (the Spark operator and this SQL share _threshold_hex).
    from data_migration_validator_spark.operators.sampling import _threshold_hex

    sqls["deterministic_sample"] = f"""
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE SUBSTRING(md5(CONCAT_WS('|', CAST(o_orderkey AS VARCHAR))), 1, 8)
              < '{_threshold_hex(0.15)}'
        ORDER BY o_orderkey
    """
    sqls["stratified_sample"] = f"""
        SELECT doc_id, lang FROM documents
        WHERE SUBSTRING(md5(CONCAT_WS('|', CAST(doc_id AS VARCHAR))), 1, 8)
              < CASE WHEN lang = 'en' THEN '{_threshold_hex(0.25)}'
                     WHEN lang = 'zh' THEN '{_threshold_hex(0.50)}'
                     ELSE '{_threshold_hex(0.10)}' END
        ORDER BY doc_id
    """
    sqls["sample_topk"] = """
        SELECT o_orderkey FROM (
            SELECT o_orderkey FROM orders
            ORDER BY md5(CAST(o_orderkey AS VARCHAR)) LIMIT 100
        ) ORDER BY o_orderkey
    """
    # --- IVM: final view state == the aggregate of the equivalent final
    # table (initial load minus %16==2 deletes, %8==1 status flips to 'U',
    # %4==0 late inserts — net: all orders except %16==2, status mapped).
    # --- global enumeration: the two-phase scale form must agree with the
    # naive single-window definition exactly (key is unique → total order).
    sqls["global_row_number"] = """
        SELECT o_orderkey,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_num
        FROM orders ORDER BY o_orderkey
    """
    # --- decontamination: distinct 5-gram overlap with the doc_id%97
    # benchmark subset; mirrors dedup.decontaminate (hashing is join-key
    # compression only — counts are identical absent 64-bit collisions).
    sqls["decontaminate"] = r"""
        WITH toks AS (
            SELECT doc_id,
                   REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(COALESCE(text, ''))), '\s+') AS tk
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   CASE WHEN LEN(tk) >= 5 THEN
                       LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tk) - 3),
                           i -> CONCAT_WS(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])))
                   ELSE [ARRAY_TO_STRING(tk, ' ')] END AS shingles
            FROM toks
        ),
        ex AS (
            SELECT doc_id, UNNEST(shingles) AS s FROM sh
        ),
        exf AS (SELECT doc_id, s FROM ex WHERE s <> ''),
        bench AS (SELECT DISTINCT s FROM exf WHERE doc_id % 97 = 0)
        SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS contaminated_ngrams
        FROM exf e JOIN bench b ON e.s = b.s
        GROUP BY e.doc_id
        ORDER BY e.doc_id
    """
    # --- shard packing: the boundary-slice cumulative sum must agree with
    # the naive single-window exclusive prefix sum exactly (doc_id unique
    # → total order).
    sqls["shard_packing"] = r"""
        WITH w AS (
            SELECT doc_id,
                   CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                        ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'))
                   END AS BIGINT) AS tokens
            FROM documents
        )
        SELECT doc_id, tokens,
               CAST(FLOOR(CAST(SUM(tokens) OVER (
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - tokens AS DOUBLE) / 2000) AS BIGINT) AS shard_id
        FROM w ORDER BY doc_id
    """
    sqls["ivm_refresh"] = """
        SELECT CASE WHEN o_orderkey % 8 = 1 THEN 'U' ELSE o_orderstatus END
                   AS o_orderstatus,
               COUNT(*) AS n_rows,
               CAST(SUM(o_custkey) AS BIGINT) AS sum_o_custkey
        FROM orders
        WHERE o_orderkey % 16 <> 2
        GROUP BY 1 ORDER BY 1
    """
    # --- n-gram repetition: exact BIGINT counts only (the derived fracs
    # round doubles, where DuckDB/Spark tie-breaking could differ).
    sqls["ngram_repetition"] = r"""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(COALESCE(text, ''))), '\s+') AS t
            FROM documents
        ), idx AS (
            SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 2
        ), grams AS (
            SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram FROM idx
        ), per_gram AS (
            SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
               CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS dup_ngrams,
               CAST(MAX(cnt) AS BIGINT) AS top_ngram_cnt
        FROM per_gram GROUP BY doc_id ORDER BY doc_id
    """
    # --- stats-pruned scan: skipping files must change nothing about the
    # answer, so the oracle is the plain filtered rollup over the source.
    sqls["stats_pruned_scan"] = """
        SELECT date_trunc('month', o_orderdate) AS month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-09-01 00:00:00'
        GROUP BY 1 ORDER BY 1
    """
    # --- SCD2: incremental engine maintenance must equal the from-scratch
    # window definition (every event opens a version, the key's next event
    # closes it, NULL valid_to = current).
    sqls["scd2_history"] = """
        SELECT user_id,
               event_id AS valid_from_seq,
               event_type,
               value,
               LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS valid_to_seq
        FROM events
        ORDER BY user_id, valid_from_seq
    """
    # --- as-of join: DuckDB's native ASOF LEFT JOIN is the oracle for the
    # union+carry-forward implementation (right side pre-deduped per
    # (user_id, ts) so the match is unambiguous in both engines).
    sqls["asof_join"] = """
        WITH purchases AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase'
        ), signups AS (
            SELECT user_id, ts, MAX(value) AS signup_value
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id, ts
        )
        SELECT p.event_id, p.user_id, p.ts, p.value,
               s.signup_value, s.ts AS signup_ts
        FROM purchases p
        ASOF LEFT JOIN signups s
          ON p.user_id = s.user_id AND p.ts >= s.ts
        ORDER BY p.event_id
    """
    # --- sessionization: lag marks starts, running sum numbers sessions;
    # exact integer-µs gap arithmetic on both sides.
    sqls["sessionization"] = """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts)
                             - LAG(epoch_us(ts)) OVER w > 1800000000
                          OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts,
               epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
        FROM numbered
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """
    # --- DQ suite: each rule's violation count restated as plain SQL.
    # Null semantics: domain rules fail on NULL (NOT COALESCE(pred, FALSE));
    # unique counts surplus rows with NULL keys grouping (ROW() distinct);
    # the FK rule exempts NULL keys (SQL FK semantics).
    sqls["dq_checks"] = """
        WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lineitem),
        v AS (
          SELECT 1 AS ord, 'not_null(l_orderkey)' AS rule,
                 'not_null' AS kind, 'l_orderkey' AS target,
                 (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
                     AS violations
          UNION ALL
          SELECT 2, 'unique(l_orderkey,l_linenumber)', 'unique',
                 'l_orderkey,l_linenumber',
                 (SELECT COUNT(*)
                         - COUNT(DISTINCT ROW(l_orderkey, l_linenumber))
                  FROM lineitem)
          UNION ALL
          SELECT 3, 'in_range(l_quantity)', 'in_range', 'l_quantity',
                 (SELECT COUNT(*) FROM lineitem
                  WHERE NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE))
          UNION ALL
          SELECT 4, 'in_set(l_returnflag)', 'in_set', 'l_returnflag',
                 (SELECT COUNT(*) FROM lineitem
                  WHERE NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE))
          UNION ALL
          SELECT 5, 'matches(l_linestatus)', 'matches', 'l_linestatus',
                 (SELECT COUNT(*) FROM lineitem
                  WHERE NOT COALESCE(
                      regexp_matches(l_linestatus, '^[OF]$'), FALSE))
          UNION ALL
          SELECT 6, 'discount_bounds', 'satisfies',
                 'l_discount BETWEEN 0 AND 0.1',
                 (SELECT COUNT(*) FROM lineitem
                  WHERE NOT COALESCE(l_discount BETWEEN 0 AND 0.1, FALSE))
          UNION ALL
          SELECT 7, 'foreign_key(l_orderkey)', 'foreign_key', 'l_orderkey',
                 (SELECT COUNT(*) FROM lineitem l
                  WHERE l_orderkey IS NOT NULL AND NOT EXISTS (
                      SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey))
        )
        SELECT rule, kind, target,
               CAST(violations AS BIGINT) AS violations,
               (SELECT total FROM t) AS total,
               CASE WHEN violations = 0 THEN 'PASS' ELSE 'FAIL' END AS status
        FROM v ORDER BY ord
    """
    # --- column profile: exact per-column stats; typed min/max slots so no
    # engine-dependent double/timestamp string rendering is compared.
    num = ("CAST(MIN({c}) AS DOUBLE) AS min_num, "
           "CAST(MAX({c}) AS DOUBLE) AS max_num, "
           "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str, "
           "CAST(NULL AS TIMESTAMP) AS min_ts, CAST(NULL AS TIMESTAMP) AS max_ts")
    txt = ("CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
           "MIN({c}) AS min_str, MAX({c}) AS max_str, "
           "CAST(NULL AS TIMESTAMP) AS min_ts, CAST(NULL AS TIMESTAMP) AS max_ts")
    tim = ("CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
           "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str, "
           "MIN({c}) AS min_ts, MAX({c}) AS max_ts")
    cols = [
        ("l_orderkey", "bigint", num), ("l_partkey", "bigint", num),
        ("l_suppkey", "bigint", num), ("l_linenumber", "int", num),
        ("l_quantity", "double", num), ("l_extendedprice", "double", num),
        ("l_discount", "double", num), ("l_tax", "double", num),
        ("l_returnflag", "string", txt), ("l_linestatus", "string", txt),
        # Spark reads the parquet column as timestamp_ntz (no UTC adjust)
        ("l_shipdate", "timestamp_ntz", tim),
    ]
    legs = [
        (
            f"SELECT '{c}' AS \"column\", '{dt}' AS dtype, "
            f"CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(COALESCE(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END), 0) "
            f"AS BIGINT) AS n_nulls, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            + slots.format(c=c)
            + " FROM lineitem"
        )
        for c, dt, slots in cols
    ]
    sqls["column_profile"] = (
        "SELECT * FROM (" + " UNION ALL ".join(legs) + ') ORDER BY "column"'
    )
    # --- quantile profile: quantile_cont IS the exact linear-interpolation
    # definition Spark's percentile() implements; 6dp rounding both sides.
    _QPROBS = "[0.25, 0.5, 0.75, 0.9, 0.99]"

    def _quant_leg(c):
        return (
            f"SELECT '{c}' AS \"column\", "
            f"unnest(CAST({_QPROBS} AS DOUBLE[])) AS p, "
            f"ROUND(unnest(qs), 6) AS value FROM "
            f"(SELECT quantile_cont(CAST({c} AS DOUBLE), "
            f"CAST({_QPROBS} AS DOUBLE[])) AS qs FROM lineitem)"
        )

    sqls["quantile_profile"] = (
        "SELECT * FROM ("
        + " UNION ALL ".join(
            _quant_leg(c)
            for c in ("l_quantity", "l_extendedprice", "l_discount")
        )
        + ') ORDER BY "column", p'
    )
    # --- value histogram: the same explicit width_bucket formula, same
    # IEEE-double operation order ((x - lo) / (hi - lo) * n), NULLs → -1.
    def _hist_leg(c, lo, hi, n):
        span = float(hi) - float(lo)
        b = (
            f"CASE WHEN {c} IS NULL THEN -1 "
            f"WHEN CAST({c} AS DOUBLE) < {lo!r} THEN 0 "
            f"WHEN CAST({c} AS DOUBLE) >= {hi!r} THEN {n + 1} "
            f"ELSE CAST(FLOOR((CAST({c} AS DOUBLE) - {lo!r}) / {span!r} "
            f"* {float(n)!r}) AS BIGINT) + 1 END"
        )
        return (
            f"SELECT '{c}' AS \"column\", CAST({b} AS BIGINT) AS bucket, "
            f"CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 2"
        )

    sqls["value_histogram"] = (
        "SELECT * FROM ("
        + _hist_leg("l_quantity", 0.0, 50.0, 10)
        + " UNION ALL "
        + _hist_leg("l_discount", 0.0, 0.12, 10)
        + ') ORDER BY "column", bucket'
    )
    # --- chunking: same geometry (stride = size - overlap; last start =
    # max(ceil((len - size)/stride), 0) * stride; final chunk may be short;
    # empty/NULL docs emit nothing).  chunk_index = start / stride exactly.
    sqls["chunk_documents"] = """
        WITH d AS (
            SELECT doc_id, COALESCE(text, '') AS t,
                   LENGTH(COALESCE(text, '')) AS n
            FROM documents
        ), s AS (
            SELECT doc_id, t,
                   UNNEST(generate_series(
                       0,
                       GREATEST(CAST(CEIL((n - 200) / 160.0) AS INT), 0) * 160,
                       160)) AS chunk_start
            FROM d WHERE n > 0
        )
        SELECT doc_id,
               CAST(chunk_start / 160 AS BIGINT) AS chunk_index,
               CAST(chunk_start AS BIGINT) AS chunk_start,
               CAST(LENGTH(SUBSTRING(t, chunk_start + 1, 200)) AS BIGINT)
                   AS chunk_len,
               SUBSTRING(t, chunk_start + 1, 200) AS chunk_text
        FROM s ORDER BY doc_id, chunk_index
    """
    # --- range join: half-open [start, start + 3 days) point-in-interval.
    sqls["comment_compare"] = """
        WITH s(col_name, data_type, cmt) AS (VALUES
            ('id', 'bigint', 'primary key'),
            ('name', 'string', 'customer name'),
            ('bal', 'double', NULL),
            ('upd_ts', 'timestamp', 'audit ts')),
        t(col_name, data_type, cmt) AS (VALUES
            ('id', 'bigint', 'Primary Key'),
            ('name', 'string', 'buyer name'),
            ('bal', 'double', NULL),
            ('upd_ts', 'timestamp', NULL)),
        j AS (
            SELECT COALESCE(lower(s.col_name), lower(t.col_name)) AS col_key,
                   s.col_name AS sn, t.col_name AS tn,
                   s.data_type AS sd, t.data_type AS td,
                   s.cmt AS sc, t.cmt AS tc
            FROM s FULL OUTER JOIN t
              ON lower(s.col_name) = lower(t.col_name))
        SELECT col_key, sc AS src_comment, tc AS tgt_comment,
               CASE WHEN sn IS NOT NULL AND tn IS NOT NULL
                    THEN 'MATCH' ELSE 'MISMATCH' END AS col_name_compare,
               CASE WHEN lower(sd) IS NOT DISTINCT FROM lower(td)
                    THEN 'MATCH' ELSE 'MISMATCH' END AS datatype_compare,
               CASE WHEN lower(sc) IS NOT DISTINCT FROM lower(tc)
                    THEN 'MATCH' ELSE 'MISMATCH' END AS comment_compare
        FROM j ORDER BY col_key
    """
    sqls["mapped_validation"] = f"""
        WITH s AS ({src}), t AS ({tgt}),
        j AS (
            SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
                   (s.o_custkey IS NOT DISTINCT FROM t.o_custkey) AS eq_ck,
                   (s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus) AS eq_st,
                   (s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice) AS eq_tp,
                   (s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority) AS eq_op
            FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey),
        c AS (
            SELECT
              SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL
                        AND eq_ck AND eq_st AND eq_tp AND eq_op
                       THEN 1 ELSE 0 END) AS matches,
              SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL
                        AND NOT (eq_ck AND eq_st AND eq_tp AND eq_op)
                       THEN 1 ELSE 0 END) AS mismatches,
              SUM(CASE WHEN tk IS NULL THEN 1 ELSE 0 END) AS src_extras,
              SUM(CASE WHEN sk IS NULL THEN 1 ELSE 0 END) AS tgt_extras,
              MAX(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL AND NOT eq_ck
                       THEN 1 ELSE 0 END) AS bad_ck,
              MAX(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL AND NOT eq_st
                       THEN 1 ELSE 0 END) AS bad_st,
              MAX(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL AND NOT eq_tp
                       THEN 1 ELSE 0 END) AS bad_tp,
              MAX(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL AND NOT eq_op
                       THEN 1 ELSE 0 END) AS bad_op
            FROM j)
        SELECT
          CASE WHEN bad_ck + bad_st + bad_tp + bad_op = 0
               THEN 'SUCCESS' ELSE 'FAILED' END AS data_mismatch_status,
          CASE WHEN bad_ck + bad_st = 0
               THEN 'SUCCESS' ELSE 'FAILED' END AS mismatches_after_exclusion_status,
          'SUCCESS' AS comment_compare_status,
          CAST(matches AS BIGINT) AS matches,
          CAST(mismatches AS BIGINT) AS mismatches,
          CAST(src_extras AS BIGINT) AS src_extras,
          CAST(tgt_extras AS BIGINT) AS tgt_extras
        FROM c
    """
    sqls["addtnl_filter_metrics"] = _addtnl_filters_oracle()
    sqls["mixture_sample"] = _mixture_sample_oracle()
    # multimodal stub pipeline, hash-reproduced: payload = UTF-8 bytes of
    # sha256-hex(id); digest = sha256(payload); f0 = round(float32(first
    # byte of sha256(payload||kind) / 255), 6); resize plan in plain double
    # arithmetic.  Same IEEE ops both engines → bit-identical outputs.
    sqls["multimodal_features"] = """
        WITH ids AS (SELECT range AS media_id FROM range(0, 256)),
        m AS (
            SELECT media_id,
                   ['image','audio','video'][CAST(media_id % 3 AS INT) + 1]
                       AS kind,
                   sha256(CAST(media_id AS VARCHAR)) AS payload_hex,
                   CAST((media_id % 64) * 16 + 16 AS INT) AS w,
                   CAST((media_id % 48) * 16 + 16 AS INT) AS h
            FROM ids
        ),
        f AS (
            SELECT media_id, kind, w, h,
                   CAST(64 AS INT) AS n_bytes,
                   sha256(payload_hex) AS digest,
                   (strpos('0123456789abcdef',
                           substr(sha256(payload_hex || kind), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef',
                            substr(sha256(payload_hex || kind), 2, 1)) - 1
                       AS b0
            FROM m
        )
        SELECT media_id, kind, n_bytes, digest,
               CAST(ROUND(CAST(CAST(b0 / 255.0 AS REAL) AS DOUBLE), 6)
                    AS REAL) AS f0,
               CAST(CEIL(w * LEAST(256 / CAST(w AS DOUBLE),
                                   256 / CAST(h AS DOUBLE), 1.0)) AS INT)
                   AS target_width,
               CAST(CEIL(h * LEAST(256 / CAST(w AS DOUBLE),
                                   256 / CAST(h AS DOUBLE), 1.0)) AS INT)
                   AS target_height
        FROM f ORDER BY media_id
    """
    # streaming windowed metrics: finalized windows only — window_end must
    # precede the final watermark (max ts − 1h); day buckets are
    # midnight-aligned in both engines
    sqls["windowed_stream_metrics"] = """
        WITH mx AS (SELECT MAX(ts) AS m FROM events),
        w AS (
            SELECT time_bucket(INTERVAL '1 day', ts) AS ws,
                   event_type AS op,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(event_id) AS first_event_seq,
                   MAX(event_id) AS last_event_seq
            FROM events GROUP BY 1, 2
        )
        SELECT ws AS window_start, ws + INTERVAL '1 day' AS window_end,
               op, n_events, first_event_seq, last_event_seq
        FROM w, mx
        WHERE ws + INTERVAL '1 day' <= m - INTERVAL '1 hour'
        ORDER BY window_start, op
    """
    sqls["range_join"] = """
        WITH p AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'
        ), s AS (
            SELECT user_id, event_id AS signup_id, ts AS start_ts,
                   ts + INTERVAL 3 DAY AS end_ts
            FROM events WHERE event_type = 'signup'
        )
        SELECT p.event_id, p.user_id, p.ts, s.signup_id, s.start_ts, s.end_ts
        FROM p JOIN s
          ON p.user_id = s.user_id
         AND p.ts >= s.start_ts AND p.ts < s.end_ts
        ORDER BY p.event_id, s.signup_id
    """
    # --- simhash near-dup: full value oracle via a PRECOMPUTED signature
    # fixture.  SQL alone cannot reproduce xxhash64 bit-votes, so the
    # signatures (and their 16-bit band keys) are computed by the
    # from-scratch pure-Python XXH64 reimplementation
    # (functions/xxh64.py — independent of the JVM) into a parquet the
    # DuckDB SQL consumes; banding, the hot-bucket cap, the pair self-join
    # and the hamming distance are then first-class SQL.  The fixture is
    # (re)generated lazily per documents.parquet content stamp.
    try:
        _sh_path = _simhash_oracle_fixture(
            os.environ.get(
                "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
            )
        )
        sqls["simhash_near_dup"] = f"""
            WITH b AS (SELECT * FROM read_parquet('{_sh_path}')),
            ok AS (
                SELECT band, bkey FROM b
                GROUP BY band, bkey HAVING COUNT(*) <= 200
            ),
            pairs AS (
                SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                       CAST(bit_count(xor(l.sig, r.sig)) AS INT) AS hamming
                FROM b l
                JOIN ok o ON o.band = l.band AND o.bkey = l.bkey
                JOIN b r ON l.band = r.band AND l.bkey = r.bkey
                        AND l.doc_id < r.doc_id
            )
            SELECT id_a, id_b, hamming FROM pairs
            WHERE hamming <= 8 ORDER BY id_a, id_b
        """
    except Exception:
        # fixture generation is best-effort: without it the query simply
        # stays a rows-only check instead of failing the whole oracle set
        pass
    return sqls


def _simhash_oracle_fixture(sf_dir: str) -> str:
    """Precompute (doc_id, band, bkey, sig) for the simhash oracle with the
    pure-Python XXH64 (functions/xxh64.py) + the same whitespace
    tokenization as ``operators.dedup._tokens`` — no Spark, no JVM.
    Cached under .oracle_fixtures/ keyed by the source file's content stamp
    (path, mtime, size); regenerates only when documents.parquet changes."""
    import hashlib

    import duckdb

    from data_migration_validator_spark.functions.xxh64 import spark_xxhash64

    src = os.path.join(sf_dir, "documents.parquet")
    stamp = f"{src}:{os.path.getmtime(src)}:{os.path.getsize(src)}"
    tag = hashlib.sha256(stamp.encode()).hexdigest()[:12]
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".oracle_fixtures"
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"simhash_bands_{tag}.parquet")
    if os.path.exists(path):
        return path

    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{src}')"
    ).fetchall()
    recs = []
    for doc_id, text in rows:
        votes = [0] * 64
        for tok in re.split(r"\s+", (text or "").strip().lower()):
            h = spark_xxhash64(tok)
            for b in range(64):
                votes[b] += ((h >> b) & 1) * 2 - 1
        u = 0
        for b in range(64):
            if votes[b] > 0:
                u |= 1 << b
        sig = u - (1 << 64) if u >= (1 << 63) else u
        for band in range(4):
            recs.append((doc_id, band, (u >> (band * 16)) & 0xFFFF, sig))

    import pandas as pd

    tmp = f"{path}.tmp-{os.getpid()}.parquet"
    pd.DataFrame(
        recs, columns=["doc_id", "band", "bkey", "sig"]
    ).astype({"doc_id": "int64", "band": "int32", "bkey": "int64",
              "sig": "int64"}).to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return path
