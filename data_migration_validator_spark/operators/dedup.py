"""Deduplication operators for large-scale training-data pipelines.

All of these are shaped for 100 TB corpora:

- **exact**: one hash-groupBy — the digest is computed JVM-side, the shuffle
  key is the 256-bit digest, so hot identical docs collapse map-side.
- **MinHash + LSH**: shingle → minhash signature → band → bucket join.  The
  only join is an equi-join on (band_id, band_hash) — never an all-pairs
  cross join.  Candidate pairs are then verified with exact Jaccard.
- **SimHash**: 64-bit signature from token-hash bit voting; near-dups are
  pairs whose signatures collide on rotated band keys (Hamming-adjacent).
- **n-gram Jaccard**: inverted-index self-join (ngram → doc) with document
  frequency capping so stop-shingles don't create quadratic buckets.

Everything is pyspark.sql built-ins (xxhash64 / transform / aggregate /
zip_with); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.digest import row_digest

# --------------------------------------------------------------------------- #
# exact
# --------------------------------------------------------------------------- #
def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup on content digest: keep one representative per distinct
    text (min/max id).  Adds ``dup_count``."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    reps = (
        df.withColumn("__h", F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256))
        .groupBy("__h")
        .agg(agg.alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )
    return (
        df.join(reps.select(id_col, "dup_count"), on=id_col, how="inner")
        .select(*df.columns, "dup_count")
    )


# --------------------------------------------------------------------------- #
# shingling + MinHash
# --------------------------------------------------------------------------- #
def _tokens(text_col: str):
    # NULL text coalesces to "" so every document yields at least one
    # (empty) token — null/empty docs must still receive a signature and
    # cluster together instead of silently vanishing from the explode.
    return F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")


def _shingles(text_col: str, n: int):
    """Distinct word n-grams as an array<string> (JVM higher-order funcs)."""
    toks = _tokens(text_col)
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def minhash_signature(text_col: str, num_hashes: int = 32, ngram: int = 3):
    """array<bigint> of ``num_hashes`` min-hashes over word n-gram shingles,
    as a single Column expression.  Hash family = xxhash64(shingle, seed=h).

    NOTE: per-row expression form — each array_min re-walks the shingle
    array, so cost is O(num_hashes × shingles).  The hot path uses
    :func:`minhash_signatures` (explode + one grouped aggregation) instead.
    """
    sh = _shingles(text_col, ngram)

    def _hasher(h):
        return lambda s: F.xxhash64(s, F.lit(h))

    return F.array(
        *[F.array_min(F.transform(sh, _hasher(h))) for h in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    ngram: int = 3,
) -> DataFrame:
    """(id, __sig array<bigint>) via explode → grouped min-aggregation.

    Shingles are materialized ONCE per document (explode), then all
    ``num_hashes`` minima are computed in one hash-aggregate pass — flat
    codegen aggregates over bigint hashes, no nested higher-order re-walks.
    One shuffle on ``id_col`` (map-side partial mins make it tiny).  This is
    the formulation that survives a 100 TB corpus.
    """
    sh = df.select(
        F.col(id_col), F.explode(_shingles(text_col, ngram)).alias("__shingle")
    )
    aggs = [
        F.min(F.xxhash64("__shingle", F.lit(h))).alias(f"__h{h}")
        for h in range(num_hashes)
    ]
    return (
        sh.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            F.array(*[F.col(f"__h{h}") for h in range(num_hashes)]).alias("__sig"),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded MinHash LSH.

    rows/band = num_hashes/bands; a pair is a candidate if ANY band agrees.
    ``max_bucket`` caps degenerate buckets (boilerplate shingles) so no
    reducer sees a quadratic bucket — the dropped buckets are logged in the
    ``oversized`` count by :func:`minhash_near_dup`.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, ngram)
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.array_join(
                                F.transform(
                                    F.slice("__sig", b * rows + 1, rows),
                                    lambda x: x.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bhash")
    # cap bucket size: count per bucket, drop oversized
    wcount = Window.partitionBy("band", "bhash")
    banded = banded.withColumn("__bs", F.count(F.lit(1)).over(wcount)).filter(
        F.col("__bs") <= max_bucket
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bhash")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bhash")
    pairs = (
        a.join(b, on=["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return pairs


def jaccard(text_a, text_b, ngram: int = 3):
    """Exact n-gram Jaccard between two text columns (verification step)."""
    sa, sb = _shingles(text_a, ngram), _shingles(text_b, ngram)
    return jaccard_arrays(sa, sb)


def jaccard_arrays(sa, sb):
    """Exact Jaccard between two PRECOMPUTED distinct-shingle arrays —
    the per-pair verification kernel when shingles are materialized once
    per document instead of re-tokenized per candidate pair."""
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_dup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates filtered by exact
    Jaccard ≥ threshold.  Output (id_a, id_b, jaccard).

    The verification joins PRECOMPUTED distinct-shingle arrays (one
    tokenize+shingle pass per document, shared across both join sides via
    a lazy localCheckpoint) instead of re-shingling the raw text per
    candidate pair — per pair only the array intersect/union remains."""
    cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, ngram)
    sh = (
        df.select(F.col(id_col), _shingles(text_col, ngram).alias("__sh"))
        .localCheckpoint(eager=False)
    )
    j = (
        cands.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb")),
            "id_b",
        )
        .withColumn("jaccard", jaccard_arrays(F.col("__sa"), F.col("__sb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return j


# --------------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------------- #
def simhash(text_col: str, bits: int = 64):
    """SimHash signature as bigint: per-bit majority vote over token hashes.

    Single pass over the token array: each token hash expands to a ±1 bit
    vector (Python loop over literal bit positions — shiftright needs a
    literal), the aggregate sums the vectors element-wise, and the finish
    lambda packs sign bits into one long.  All inside one JVM ``aggregate``.
    """
    th = F.transform(_tokens(text_col), lambda t: F.xxhash64(t))
    bit_arrays = F.transform(
        th,
        lambda h: F.array(
            *[
                (F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("long") * 2 - 1)
                for b in range(bits)
            ]
        ),
    )

    def _finish(acc):
        sig = F.lit(0).cast("long")
        for b in range(bits):
            sig = sig.bitwiseOR(
                F.when(
                    F.element_at(acc, b + 1) > 0,
                    F.shiftleft(F.lit(1).cast("long"), b),
                ).otherwise(F.lit(0).cast("long"))
            )
        return sig

    zero = F.array(*([F.lit(0).cast("long")] * bits))
    return F.aggregate(
        bit_arrays,
        zero,
        lambda acc, x: F.zip_with(acc, x, lambda a, v: a + v),
        _finish,
    )


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64
) -> DataFrame:
    """(id, __sh bigint) — SimHash via explode → grouped bit-vote sums.

    Tokens explode once; the per-bit ±1 votes are ``bits`` flat SUM
    aggregates over ``(hash >> b) & 1`` (whole-stage codegen, map-side
    partials), then sign bits pack into one long.  Replaces the nested
    array-of-64 fold of :func:`simhash` for the hot path — same output.
    """
    toks = df.select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("__tok")
    ).withColumn("__th", F.xxhash64("__tok"))
    aggs = [
        F.sum(
            F.shiftright("__th", b).bitwiseAND(F.lit(1)).cast("long") * 2 - 1
        ).alias(f"__b{b}")
        for b in range(bits)
    ]
    votes = toks.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"__b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(id_col, sig.alias("__sh"))


def simhash_near_dup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 4,
    bits: int = 64,
    max_bucket: int = 200,
) -> DataFrame:
    """Near-dup candidates by banded SimHash: split the 64-bit signature into
    ``bands`` chunks; pairs sharing any chunk are candidates (Hamming
    distance ≤ bits - bits/bands guaranteed covered for small distances).
    Output (id_a, id_b, hamming).

    ``max_bucket`` caps band buckets exactly like the MinHash path: 16-bit
    band keys collide massively on short/boilerplate corpora (the all-zeros
    band is a magnet), and one hot bucket is a quadratic reducer at scale.
    Oversized buckets are dropped before the self-join.
    """
    chunk = bits // bands
    sig = simhash_signatures(df, text_col, id_col, bits)
    banded = sig.select(
        id_col,
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("__sh", b * chunk)
                        .bitwiseAND(F.lit((1 << chunk) - 1))
                        .alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "__sh", "bk.band", "bk.bkey")
    wcount = Window.partitionBy("band", "bkey")
    banded = banded.withColumn("__bs", F.count(F.lit(1)).over(wcount)).filter(
        F.col("__bs") <= max_bucket
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa"), "band", "bkey"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb"), "band", "bkey"
    )
    pairs = (
        a.join(b, on=["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.expr("__sa ^ __sb")).alias("hamming"))
        .distinct()
    )
    return pairs


# --------------------------------------------------------------------------- #
# n-gram Jaccard via inverted index (no LSH, exact, scalable)
# --------------------------------------------------------------------------- #
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Exact Jaccard for every pair sharing ≥1 shingle, via inverted-index
    self-join: explode (doc, shingle) → join on shingle → count common →
    jaccard = common / (|A| + |B| - common).

    ``max_doc_freq`` drops shingles present in more than N docs (stop
    shingles) — the standard guard against quadratic blowup; dropped
    shingles slightly underestimate jaccard for boilerplate-heavy pairs.
    For large corpora prefer :func:`ngram_jaccard_prefix_pairs`, which is
    exact AND prunes candidates losslessly.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(_shingles(text_col, ngram)).alias("shingle"),
    ).distinct()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    docfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    sh = sh.join(docfreq.filter(F.col("__df") <= max_doc_freq), "shingle", "left_semi")
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    out = (
        common.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("__common") / (F.col("__na") + F.col("__nb") - F.col("__common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact threshold Jaccard with LOSSLESS prefix filtering — the
    100-TB-shaped variant of :func:`ngram_jaccard_pairs`.

    Prefix-filter principle (Chaudhuri/Ganti/Kaushik SSJoin '06, Bayardo
    et al. WWW '07): order every doc's shingles by a global rarity order
    (doc-frequency asc, shingle); if J(A,B) ≥ t then A and B must share a
    shingle within their first ``|X| - ⌈t·|X|⌉ + 1`` shingles under that
    order.  So only prefix shingles enter the inverted-index join — stop
    shingles land deep in every doc's suffix and never generate candidates
    — and each candidate pair is then verified with exact whole-set
    Jaccard.  Same output as the plain operator with no doc-freq cap, but
    the join explodes |prefix| ≪ |doc| rows per doc and a hot shingle only
    pairs docs for which it is actually discriminative.

    Per-doc prefix selection is a window partitioned BY DOC (no global
    sort); the only cross-doc shuffles are the doc-frequency aggregation
    and the prefix equi-join.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(_shingles(text_col, ngram)).alias("shingle"),
    ).distinct()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    docfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    ranked = sh.join(docfreq, "shingle")
    w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    prefix = (
        ranked.withColumn("__pos", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(
            F.col("__pos")
            <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
        )
        .select(id_col, "shingle")
    )
    a = prefix.select(F.col(id_col).alias("id_a"), "shingle")
    b = prefix.select(F.col(id_col).alias("id_b"), "shingle")
    cands = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    docs = df.select(F.col(id_col), F.col(text_col))
    return (
        cands.join(
            docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta")),
            "id_a",
        )
        .join(
            docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb")),
            "id_b",
        )
        .withColumn("jaccard", jaccard("__ta", "__tb", ngram))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster a near-duplicate PAIR list into components: (vertex,
    cluster_id) where cluster_id = min vertex id in the component — the
    last step of every dedup pipeline (pairs alone don't dedup anything;
    the keep-one decision needs the transitive closure).

    Min-label propagation: each round every vertex takes the minimum of its
    own label and its neighbors' labels (one equi-join + one min-aggregate,
    both shuffle-partitioned on vertex id), until a round changes nothing.
    Rounds needed = the longest min-label path — near-dup clusters are
    shallow (pairs share content, so clusters are quasi-cliques), so this
    converges in 2-3 rounds in practice; ``max_iter`` bounds the
    pathological chain.  Each round materializes its labels once and
    counts its changes over them (two actions per round; the loop is
    driver-side but O(rounds), not O(V)), and the plan stays one round
    deep.  For graphs with genuinely deep components at 10^10 edges, swap
    in large-star/small-star (alternating conditional stars, O(log n)
    rounds) — same join shapes.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # localCheckpoint (not persist) on entry and every round: it cuts the
    # lineage, so each round plans against a fixed-size leaf instead of
    # the whole chain of earlier rounds — a persisted frame still carries
    # its full logical plan, which grows every round until printing it
    # exhausts the driver heap.
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = edges.select("src").distinct().select(
        F.col("src").alias("v"), F.col("src").alias("label")
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["dst"] == labels["v"])
            .groupBy(F.col("src").alias("v"))
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neigh, on="v", how="left")
            .select(
                "v",
                F.least(F.col("label"), F.col("nmin")).alias("label"),
                (F.col("nmin") < F.col("label")).cast("int").alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = int(stepped.agg(F.sum("__chg")).collect()[0][0] or 0)
        labels = stepped.select("v", "label")
        if changed == 0:
            break
    else:
        # exhausted max_iter while still changing: returning here would
        # silently split one component into several cluster_ids
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(a component's min-label path is longer); raise max_iter"
        )
    return labels.select(
        F.col("v").alias("vertex"), F.col("label").alias("cluster_id")
    )


# --------------------------------------------------------------------------- #
# benchmark decontamination (cross-set n-gram overlap)
# --------------------------------------------------------------------------- #
def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    bench_text_col: str | None = None,
    ngram: int = 5,
    min_overlap: int = 1,
    broadcast_benchmark: bool = True,
    hash_shingles: bool = True,
) -> DataFrame:
    """Training-set decontamination: flag documents sharing ≥
    ``min_overlap`` distinct word ``ngram``-grams with ANY benchmark text
    (the GPT-3 appendix-C / PaLM 13-gram rule, here with a configurable n).

    Returns one row per contaminated document:
    ``(id_col, contaminated_ngrams)`` — the count of the document's
    distinct shingles that appear anywhere in the benchmark set.

    Plan shape (the one you'd want at 100 TB of docs vs a few MB of
    eval sets): the benchmark side collapses to its DISTINCT shingle set
    and is broadcast (``broadcast_benchmark``), so the big side is ONE
    narrow map-side semi-join pass — scan → shingle-explode → broadcast
    probe — followed by a count aggregation on ``id_col``; the corpus is
    never shuffled on shingle.  Set ``broadcast_benchmark=False`` for a
    benchmark too big to broadcast (falls back to a shuffle join on the
    shingle key).  ``hash_shingles`` joins on ``xxhash64(shingle)``
    (8-byte keys instead of n-word strings — smaller broadcast, cheaper
    compares; 64-bit collisions can only over-flag, never miss).

    Whitespace-only and empty texts produce the empty shingle on both
    sides; it is dropped so empty docs are never "contaminated by" empty
    benchmark rows.  Everything is JVM built-ins — no Python in the path.
    """
    bench_text_col = bench_text_col or text_col
    doc_sh = docs.select(
        F.col(id_col), F.explode(_shingles(text_col, ngram)).alias("__sh")
    ).filter(F.col("__sh") != "")
    bench_sh = benchmark.select(
        F.explode(_shingles(bench_text_col, ngram)).alias("__sh")
    ).filter(F.col("__sh") != "")
    if hash_shingles:
        # hash BEFORE the distinct so its exchange (and the join key)
        # moves 8-byte keys, not n-word strings
        doc_sh = doc_sh.select(id_col, F.xxhash64("__sh").alias("__sh"))
        bench_sh = bench_sh.select(F.xxhash64("__sh").alias("__sh"))
    bench_sh = bench_sh.distinct()
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    return (
        doc_sh.join(bench_sh, "__sh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contaminated_ngrams"))
        .filter(F.col("contaminated_ngrams") >= min_overlap)
    )
