"""Training-data operators: dedup (exact / MinHash / SimHash / n-gram
Jaccard), similarity search, text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from data_migration_validator_spark.operators import (
    brute_force_topk,
    cosine_near_dup_pairs,
    exact_dedup,
    language_id,
    lsh_bucketed_topk,
    minhash_near_dup,
    ngram_jaccard_pairs,
    quality_metrics,
    simhash,
    simhash_near_dup,
    token_count,
)
from data_migration_validator_spark.operators.multimodal import (
    decode_unavailable,
    extract_features,
    frame_sample_plan,
    make_media_table,
    resize_plan,
)
from data_migration_validator_spark.operators.text import document_fingerprint


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "der hund und die katze sind nicht ein und das selbe tier heute"),
        (5, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = exact_dedup(docs, "text", "doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 1 not in ids  # keeps min id of the dup group
    assert out.filter("doc_id = 0").first()["dup_count"] == 2
    assert out.count() == 5


def test_minhash_near_dup_finds_near_and_exact(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert all(a != 3 and b != 3 for a, b in pairs)


def test_simhash_similar_docs_have_close_signatures(docs):
    sigs = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash("text").alias("s")).collect()}
    assert sigs[0] == sigs[1]
    ham_near = bin(sigs[0] ^ sigs[2]).count("1")
    ham_far = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham_near < ham_far
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_dup(docs, "text", "doc_id").collect()}
    assert (0, 1) in pairs


def test_ngram_prefix_pairs_equal_plain_operator(spark):
    # lossless prefix filtering: identical output to the uncapped plain
    # inverted-index operator on a corpus with true near-dups + noise
    import random

    from data_migration_validator_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for g in range(15):
        base = [rng.choice(vocab) for _ in range(40)]
        var = list(base)
        var[rng.randrange(40)] = rng.choice(vocab)
        rows += [(g * 2, " ".join(base)), (g * 2 + 1, " ".join(var))]
    for i in range(100):
        rows.append((500 + i, " ".join(rng.choice(vocab) for _ in range(40))))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    plain = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", threshold=0.6, max_doc_freq=10_000
        ).collect()
    }
    prefix = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_prefix_pairs(
            df, "text", "doc_id", threshold=0.6
        ).collect()
    }
    assert plain and prefix == plain


def test_minhash_recall_vs_exact_jaccard(spark):
    # quantified recall on a seeded corpus: ground truth = exact inverted-
    # index Jaccard; MinHash LSH (32 hashes, 8 bands) must recover >= 90%
    # of true pairs at threshold 0.8, and every emitted pair's jaccard is
    # exact-verified so precision is 1.0 by construction.
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for g in range(40):  # 40 groups of near-identical docs
        base = [rng.choice(vocab) for _ in range(60)]
        for v in range(3):
            doc = list(base)
            for _ in range(v):  # variant v mutates v tokens (~95%+ jaccard)
                doc[rng.randrange(len(doc))] = rng.choice(vocab)
            rows.append((g * 10 + v, " ".join(doc)))
    for i in range(200):  # unrelated noise docs
        rows.append((1000 + i, " ".join(rng.choice(vocab) for _ in range(60))))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", ngram=3, threshold=0.8, max_doc_freq=10_000
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup(df, "text", "doc_id", threshold=0.8).collect()
    }
    assert truth, "seeded corpus must contain true near-dup pairs"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(truth)} true pairs"
    assert got <= truth  # exact-Jaccard verification keeps precision at 1.0


def test_simhash_bucket_cap_kills_hot_buckets(spark):
    # 1,000 near-identical short docs would otherwise land in the same band
    # buckets and produce ~500k pairs in one reducer; the cap drops the hot
    # buckets so the join completes with zero (or few) candidate pairs.
    rows = [(i, f"hello world common boilerplate {i % 3}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = simhash_near_dup(df, "text", "doc_id", max_bucket=50)
    assert capped.count() < 50 * 50 * 4  # bounded by per-bucket quadratic cap
    # and the cap does not lose genuinely sparse near-dup pairs
    sparse = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "the quick brown fox jumps over the lazy dog today"),
         (2, "unrelated content about catalyst optimizer internals")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_dup(sparse, "text", "doc_id").collect()}
    assert (0, 1) in pairs


def test_signatures_cover_null_and_empty_docs(spark):
    # Null/empty docs must still receive signatures (and thus cluster
    # together) instead of vanishing from the explode.
    from data_migration_validator_spark.operators.dedup import (
        minhash_signatures,
        simhash_signatures,
    )
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "real text here")],
        "doc_id long, text string",
    )
    assert minhash_signatures(df, "text", "doc_id").count() == 4
    assert simhash_signatures(df, "text", "doc_id").count() == 4
    sigs = {
        r["doc_id"]: r["__sh"]
        for r in simhash_signatures(df, "text", "doc_id").collect()
    }
    assert sigs[0] == sigs[1] == sigs[2]  # empty-text dups cluster


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(40):
        angle = (i % 8) * math.pi / 16 + (i // 8) * 0.01
        rows.append((i, [math.cos(angle), math.sin(angle), 0.1 * (i % 3), 0.05]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(vectors):
    out = brute_force_topk(vectors, vectors.filter("vec_id = 0"), k=5)
    rows = out.orderBy("rank").collect()
    assert len(rows) == 5
    assert all(r["query_id"] == 0 for r in rows)
    assert rows[0]["cosine"] >= rows[-1]["cosine"]
    assert all(r["neighbor_id"] != 0 for r in rows)


def test_lsh_topk_recall_against_brute_force(vectors):
    queries = vectors.filter("vec_id < 4")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(vectors, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_topk(vectors, queries, k=3, n_planes=4, n_tables=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_topk_recall_against_brute_force(vectors):
    """IVF with a trained coarse quantizer recovers most exact neighbors;
    probing every list degrades to exact (recall 1.0)."""
    from data_migration_validator_spark.operators import ivf_topk, train_coarse_quantizer

    queries = vectors.filter("vec_id < 4")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(vectors, queries, k=3).collect()
    }
    cents = train_coarse_quantizer(vectors, n_centroids=4, train_sample=64, seed=1)
    assert len(cents) == 4 and all(len(c) == 4 for c in cents)

    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(vectors, queries, k=3, n_probe=2, centroids=cents).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5

    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(vectors, queries, k=3, n_probe=4, centroids=cents).collect()
    }
    assert full == exact  # probe-all == brute force


def test_cosine_near_dup_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             cosine_near_dup_pairs(df, threshold=0.99, n_planes=4, n_tables=8).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_cosine_near_dup_exact_matches_naive(spark):
    """Triangle block decomposition must equal the naive O(n²) self-join:
    every unordered pair produced exactly once (same-block ordered by id,
    cross-block by block), no duplicates, no misses."""
    import random

    from data_migration_validator_spark.operators.similarity import (
        cosine,
        cosine_near_dup_exact,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_exact(df, threshold=0.5, n_blocks=4).collect()
    }
    a = df.selectExpr("vec_id id_a", "embedding va")
    b = df.selectExpr("vec_id id_b", "embedding vb")
    naive = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter("id_a < id_b")
        .withColumn("c", cosine(F.col("va"), F.col("vb")))
        .filter("c >= 0.5")
        .collect()
    }
    assert got == naive and len(naive) > 0

    # zero vectors have no direction: never paired (NaN-cosine guard)
    with_zero = df.union(
        spark.createDataFrame([(999, [0.0] * 8)], df.schema)
    )
    got_z = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_exact(with_zero, threshold=0.5, n_blocks=4).collect()
    }
    assert got_z == naive


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), (" one ",)], "t string")
    out = [r[0] for r in df.select(token_count("t")).collect()]
    assert out == [3, 0, 1]
    bpe = df.select(token_count("t", mode="bpe")).collect()
    assert bpe[0][0] == 3


def test_quality_metrics_and_langid(spark):
    df = spark.createDataFrame(
        [
            (0, "The cat sat on the mat and it was happy for the day."),
            (1, "@@@ ### $$$ 123 456 789 @@@"),
            (2, "der hund und die katze sind nicht das selbe"),
        ],
        "doc_id long, text string",
    )
    m = quality_metrics("text")
    out = df.select("doc_id", m["quality_score"].alias("q"), language_id("text").alias("lang")).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["q"] > by_id[1]["q"]
    assert by_id[0]["lang"] == "en"
    assert by_id[2]["lang"] == "de"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello,   World!",), ("hello world",)], "t string"
    )
    fps = [r[0] for r in df.select(document_fingerprint("t")).collect()]
    assert fps[0] == fps[1]


def test_multimodal_plumbing(spark):
    media = make_media_table(spark, n=30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["feat"]) == 8 for r in rows)
    assert all(len(r["digest"]) == 64 for r in rows)
    # deterministic: same input -> same features
    again = extract_features(media).collect()
    assert sorted(r["digest"] for r in rows) == sorted(r["digest"] for r in again)

    rp = resize_plan(media, max_side=64).filter("target_width > 64 or target_height > 64")
    assert rp.count() == 0
    fs = frame_sample_plan(media.filter("kind = 'video'"), every_ms=500)
    assert fs.count() >= media.filter("kind = 'video'").count()

    with pytest.raises(NotImplementedError):
        decode_unavailable(b"x")


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation must find the transitive closure: a 4-vertex
    chain (worst-case depth), a triangle, and an isolated pair."""
    from data_migration_validator_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                   # pair
        "id_a long, id_b long",
    )
    got = {
        (r["vertex"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_long_path_plan_stays_bounded(spark):
    """A 16-vertex path needs 15 label rounds: it must converge to one
    cluster, and the returned frame's plan must be no bigger than a
    3-vertex path's (each round starts from a checkpoint, so no round's
    plan carries the rounds before it)."""
    from data_migration_validator_spark.operators.dedup import (
        connected_components,
    )

    def path(n):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
        )

    def plan_nodes(df):
        return len(
            df._jdf.queryExecution().analyzed().treeString().splitlines()
        )

    short = connected_components(path(3))
    long_ = connected_components(path(16), max_iter=50)
    got = long_.collect()
    assert len(got) == 16
    assert {r["cluster_id"] for r in got} == {1}
    assert plan_nodes(long_) <= plan_nodes(short)


def test_repetition_metrics(spark):
    """Gopher-style n-gram repetition: hand-computed bigram/token counts,
    null/empty/short docs absent, normalization (case + whitespace runs)."""
    from data_migration_validator_spark.operators.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),  # bigrams: [a b, b a, a b, b a, a b]
            (2, "x y z"),
            (3, ""),
            (4, None),
            (5, "solo"),
            (6, "T  t\tT"),      # lower+\s+ -> [t, t, t]
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in repetition_metrics(df, "text", ("doc_id",), 2).collect()}
    assert (out[1]["n_ngrams"], out[1]["dup_ngrams"], out[1]["top_ngram_cnt"]) == (5, 5, 3)
    assert abs(out[1]["dup_ngram_frac"] - 1.0) < 1e-9
    assert abs(out[1]["top_ngram_frac"] - 0.6) < 1e-9
    assert (out[2]["n_ngrams"], out[2]["dup_ngrams"], out[2]["top_ngram_cnt"]) == (2, 0, 1)
    assert (out[6]["n_ngrams"], out[6]["dup_ngrams"]) == (2, 2)
    assert 3 not in out and 4 not in out and 5 not in out

    # n=1 degenerates to token repetition; empty docs stay absent
    out1 = {r["doc_id"]: r for r in repetition_metrics(df, "text", ("doc_id",), 1).collect()}
    assert (out1[1]["n_ngrams"], out1[1]["dup_ngrams"], out1[1]["top_ngram_cnt"]) == (6, 6, 3)
    assert (out1[5]["n_ngrams"], out1[5]["dup_ngrams"]) == (1, 0)
    assert 3 not in out1 and 4 not in out1

    import pytest as _pt

    with _pt.raises(ValueError):
        repetition_metrics(df, "text", ("doc_id",), 0)


def test_decontaminate_flags_overlap_only(spark):
    from data_migration_validator_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words here nothing shared at all"),
            (3, "something quick brown fox jumps over the fence today"),
            (4, ""),          # empty doc must never be flagged
            (5, None),        # null doc must never be flagged
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [("quick brown fox jumps over the lazy dog indeed",), ("",)],
        "text string",
    )
    got = {
        r["doc_id"]: r["contaminated_ngrams"]
        for r in decontaminate(docs, bench, "text", "doc_id", ngram=5).collect()
    }
    # doc 1 shares 5-grams starting at 'quick'(x4 sliding positions that
    # fall inside the bench text); doc 3 shares 'quick brown fox jumps over'
    assert set(got) == {1, 3}
    assert got[1] >= 3 and got[3] >= 1

    # hashed and raw-string joins agree; shuffle path agrees with broadcast
    raw = {
        r["doc_id"]: r["contaminated_ngrams"]
        for r in decontaminate(
            docs, bench, "text", "doc_id", ngram=5, hash_shingles=False
        ).collect()
    }
    shuf = {
        r["doc_id"]: r["contaminated_ngrams"]
        for r in decontaminate(
            docs, bench, "text", "doc_id", ngram=5, broadcast_benchmark=False
        ).collect()
    }
    assert raw == got == shuf


def test_decontaminate_min_overlap_threshold(spark):
    from data_migration_validator_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e zz yy xx ww vv")],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([("a b c d e f g h",)], "text string")
    # doc1 has 2 5-grams both in bench; doc2 has 1
    strict = decontaminate(docs, bench, "text", "doc_id", ngram=5, min_overlap=2)
    assert [r["doc_id"] for r in strict.collect()] == [1]


# --------------------------------------------------------------------------- #
# xxhash64 parity + hash-level MinHash/SimHash oracles (independent Python
# reimplementation, functions/xxh64.py) — the value-check the DuckDB gate
# can't run (no xxh64 in SQL); minhash's DRIVER oracle is the exact-Jaccard
# set instead (recall 1.0), simhash's full signature parity lives here.
# --------------------------------------------------------------------------- #
import re as _re

from data_migration_validator_spark.functions.xxh64 import spark_xxhash64


def _py_tokens(text):
    return _re.split(r"\s+", (text or "").strip().lower())


def _py_shingles(text, n=3):
    toks = _py_tokens(text)
    if len(toks) >= n:
        seen, out = set(), []
        for i in range(len(toks) - n + 1):
            s = " ".join(toks[i:i + n])
            if s not in seen:
                seen.add(s)
                out.append(s)
        return out
    return [" ".join(toks)]


def test_xxh64_parity_with_spark(spark):
    vals = ["", "a", "hello world", "tok1 tok2 tok3", "x" * 137, "émoji ✓"]
    exprs = [F.xxhash64(F.lit(v)).alias(f"s{i}") for i, v in enumerate(vals)]
    exprs += [
        F.xxhash64(F.lit("seeded"), F.lit(h)).alias(f"h{h}") for h in range(4)
    ]
    exprs.append(F.xxhash64(F.lit(9_876_543_210)).alias("lng"))
    row = spark.range(1).select(*exprs).collect()[0]
    for i, v in enumerate(vals):
        assert row[f"s{i}"] == spark_xxhash64(v), v
    for h in range(4):
        assert row[f"h{h}"] == spark_xxhash64("seeded", h)
    assert row["lng"] == spark_xxhash64(9_876_543_210)


def test_minhash_signatures_match_python_oracle(spark):
    from data_migration_validator_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sample = docs.orderBy("doc_id").limit(40)
    got = {
        r["doc_id"]: list(r["__sig"])
        for r in minhash_signatures(sample, "text", "doc_id", 8, 3).collect()
    }
    for r in sample.collect():
        sh = _py_shingles(r["text"], 3)
        want = [min(spark_xxhash64(s, h) for s in sh) for h in range(8)]
        assert got[r["doc_id"]] == want, r["doc_id"]


def test_simhash_signatures_and_pairs_match_python_oracle(spark):
    from data_migration_validator_spark.operators.dedup import (
        simhash_near_dup,
        simhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: r["__sh"]
        for r in simhash_signatures(docs, "text", "doc_id").collect()
    }

    def py_simhash(text):
        votes = [0] * 64
        for t in _py_tokens(text):
            h = spark_xxhash64(t)
            for b in range(64):
                votes[b] += ((h >> b) & 1) * 2 - 1
        u = 0
        for b in range(64):
            if votes[b] > 0:
                u |= 1 << b
        return u - (1 << 64) if u >= (1 << 63) else u

    rows = docs.select("doc_id", "text").collect()
    want = {r["doc_id"]: py_simhash(r["text"]) for r in rows}
    assert got == want

    # banded candidate pairs from the python signatures (bucket cap not
    # binding at this size — asserted)
    from collections import defaultdict

    buckets = defaultdict(list)
    for did, sig in want.items():
        u = sig & ((1 << 64) - 1)
        for b in range(4):
            buckets[(b, (u >> (b * 16)) & 0xFFFF)].append(did)
    assert all(len(v) <= 200 for v in buckets.values())
    exp_pairs = {}
    for (_b, _k), ids in buckets.items():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, c = ids[i], ids[j]
                ua = want[a] & ((1 << 64) - 1)
                uc = want[c] & ((1 << 64) - 1)
                exp_pairs[(a, c)] = bin(ua ^ uc).count("1")
    got_pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup(docs, "text", "doc_id", bands=4).collect()
    }
    assert got_pairs == exp_pairs


def test_cosine_near_dup_arrow_equals_hof(spark):
    """The Arrow matmul cell kernel and the pure-JVM HOF form must produce
    identical pair membership (cosine may differ at fp-addition order)."""
    from data_migration_validator_spark.operators.similarity import (
        cosine_near_dup_exact,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_exact(
            df, "vec_id", "embedding", threshold=0.4, impl="arrow"
        ).collect()
    }
    h = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_exact(
            df, "vec_id", "embedding", threshold=0.4, impl="hof"
        ).collect()
    }
    assert a == h and a
