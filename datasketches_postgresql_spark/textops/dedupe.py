"""Document-table deduplication operators (training-data pipeline surface):

- exact_dup_groups     hash-groupBy exact dedup (partial-agg friendly)
- ngram_jaccard_pairs  word n-gram Jaccard via inverted-index equi-join
                       (explode gram hashes -> shared-gram counts), never
                       an all-pairs join
- minhash_lsh_pairs    the dedup pipeline's MinHash+LSH+verify stack applied
                       to a (id, text) table
- simhash_pairs        SimHash-equality / low-Hamming pairing
- embedding_neardup    cosine >= threshold pairs over an embedding column
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dedup.lsh import candidate_edges
from ..dedup.minhash import signature_stage
from ..dedup.verify import verify_edges
from ..plans.materialize import materialize


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicates by full-text equality: one row per duplicated text,
    (rep_id = min id, n_dups). groupBy(text) partial-aggregates map-side;
    at scale, group by xxhash64(text) first to avoid shuffling full texts
    (use :func:`exact_dup_groups_by_hash`)."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
        .select("rep_id", "n_dups")
    )


def exact_dup_groups_by_hash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Scale path: shuffle 8-byte hashes, not documents."""
    return (
        df.select(F.col(id_col).alias("rep_id"), F.xxhash64(text_col).alias("__th"))
        .groupBy("__th")
        .agg(F.min("rep_id").alias("rep_id"), F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
        .select("rep_id", "n_dups")
    )


def word_ngrams(text: Column, n: int = 2) -> Column:
    """Array of word n-grams (native: split + transform over an index
    sequence; no UDF)."""
    toks = F.split(F.trim(text), r"\s+")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = lambda i: F.array_join(F.slice(toks, i + 1, n), " ")  # noqa: E731
    return F.when(F.size(toks) < n, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(idx, gram)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    pair_filter=None,
    max_df: int | None = None,
) -> DataFrame:
    """Word-n-gram Jaccard pairs via an INVERTED-INDEX join. AT SCALE, SET
    ``max_df``: a stop-gram present in d docs contributes d^2 join rows, so
    the exact default (max_df=None) invites a quadratic blowup on real
    text — every pipeline-facing call must pass an explicit ``max_df``
    (boilerplate grams carry no discrimination anyway); None is only for
    small corpora and the exactness oracle.

    Returns (a, b, jaccard) for every pair sharing >= 1 gram (zero-overlap
    pairs are omitted — their Jaccard is 0).

    Scale shape (replaces the former all-pairs formulation, which planned a
    BroadcastNestedLoopJoin and is O(n^2) rows with full gram arrays on both
    sides): explode each doc's DISTINCT grams as 8-byte hashes, self-join on
    the gram hash, count shared grams per (a, b), and compute
    |A∩B| / (|A| + |B| − |A∩B|) from the per-doc set sizes carried alongside.
    Shuffle volume is O(total grams) + O(co-occurring pairs), never O(n^2);
    grams shuffle as xxhash64 longs, not strings.

    ``max_df`` prunes grams appearing in more than max_df docs (boilerplate
    bigrams both dominate join cost and carry no discrimination). Pruning
    changes Jaccard denominators, so the default (None) is exact."""
    grams = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("g"),
    )
    if pair_filter is not None:
        grams = grams.where(pair_filter(F.col("id")))
    inv = grams.select(
        "id", F.size("g").alias("sz"), F.explode("g").alias("gram")
    ).select("id", "sz", F.xxhash64("gram").alias("gh"))
    if max_df is not None:
        keep = (
            inv.groupBy("gh").agg(F.count("*").alias("df")).where(F.col("df") <= max_df)
        )
        inv = inv.join(keep.select("gh"), "gh")
    left = inv.select(F.col("id").alias("a"), F.col("sz").alias("sa"), "gh")
    right = inv.select(F.col("id").alias("b"), F.col("sz").alias("sb"), "gh")
    shared = (
        left.join(right, "gh")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b", "sa", "sb")
        .agg(F.count("*").alias("shared"))
    )
    return shared.select(
        "a",
        "b",
        F.round(
            F.col("shared") / (F.col("sa") + F.col("sb") - F.col("shared")), 6
        ).alias("jaccard"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.8,
    max_hamming: int = 16,
    max_pair_bucket: int = 1000,
) -> DataFrame:
    """MinHash+LSH near-dup pairs over any (id, text) table — the dedup
    pipeline's candidate+verify stack as a standalone operator.
    -> (a, b) with a < b.

    BLAST RADIUS: pair mode enumerates all within-bucket pairs for buckets
    up to ``max_pair_bucket`` members — O(cap^2) rows per mega-bucket
    (10^6 pairs at the default 1000). That is inherent to LISTING pairs;
    when only connectivity matters (clustering), use the pipeline's star
    mode (candidate_edges mode="hybrid"), which is O(bucket). Lower the cap
    for corpora with heavy boilerplate."""
    pseudo = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(id_col).cast("string").alias("url"),
        F.col(text_col).alias("text"),
    )
    # signatures feed banding once and verification twice: materialize once
    sigs = materialize(signature_stage(pseudo))
    cand = candidate_edges(sigs, mode="pairs", max_pair_bucket=max_pair_bucket)
    return (
        verify_edges(cand, sigs, jaccard_threshold, max_hamming)
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )


def simhash_pairs(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3) -> DataFrame:
    """Pairs whose 64-bit SimHash differs by <= max_hamming bits. Exact
    equality (max_hamming=0) joins directly on the fingerprint — a shuffle
    of 8-byte keys; >0 compares within simhash-prefix buckets."""
    pseudo = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(id_col).cast("string").alias("url"),
        F.col(text_col).alias("text"),
    )
    sigs = materialize(signature_stage(pseudo).select("doc_id", "simhash"))
    if max_hamming == 0:
        left = sigs.select(F.col("doc_id").alias("a"), F.col("simhash").alias("s"))
        right = sigs.select(F.col("doc_id").alias("b"), F.col("simhash").alias("s"))
        return left.join(right, "s").where(F.col("a") < F.col("b")).select("a", "b")
    # bucket by 16-bit prefixes (4 bands): <=3 flipped bits leave at least
    # one 16-bit band untouched (pigeonhole), so recall is exact for
    # max_hamming <= 3
    bands = F.array(*[F.shiftrightunsigned("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)) for i in range(4)])
    bh = sigs.select("doc_id", "simhash", F.posexplode(bands).alias("band", "key"))
    left = bh.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sa"), "band", "key")
    right = bh.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sb"), "band", "key")
    return (
        left.join(right, ["band", "key"])
        .where(F.col("a") < F.col("b"))
        .where(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= max_hamming)
        .select("a", "b")
        .distinct()
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns — native
    zip_with/aggregate (sequential sum, deterministic order)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    pair_filter=None,
    method: str = "lsh",
    dim: int | None = None,
    n_planes: int = 6,
    n_tables: int = 8,
) -> DataFrame:
    """(a, b, cos) near-duplicate pairs with cosine >= threshold.

    method="lsh" (default, the scale path): candidate pairs come from a
    random-hyperplane LSH bucket SELF-join (n_tables independent tables;
    cost O(corpus x tables / 2^n_planes)), then exact-cosine rescoring —
    probabilistic recall, tunable via tables/planes (pytest-measured).
    method="exact": brute-force all-pairs — O(n^2); ONLY for within-bucket
    use or sampled audits, and the path the exactness oracle runs."""
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    if pair_filter is not None:
        v = v.where(pair_filter(F.col("id")))
    if method == "exact":
        left = v.select(F.col("id").alias("a"), F.col("v").alias("va"))
        right = v.select(F.col("id").alias("b"), F.col("v").alias("vb"))
        return (
            left.join(right, F.col("a") < F.col("b"))
            .select("a", "b", F.round(cosine_sim(F.col("va"), F.col("vb")), 6).alias("cos"))
            .where(F.col("cos") >= threshold)
        )
    if method != "lsh":
        raise ValueError(f"unknown method {method!r} (expected 'lsh' | 'exact')")
    from .ann import lsh_bucket

    if dim is None:
        raise ValueError("method='lsh' requires dim (embedding width)")
    buckets = v.select(
        "id",
        "v",
        F.posexplode(
            F.array(*[lsh_bucket(F.col("v"), dim, n_planes, seed=11 + t) for t in range(n_tables)])
        ).alias("table", "bucket"),
    )
    # The bucket self-join and the multi-table dedup carry ONLY (id, table,
    # bucket) — 24 bytes/row. Vectors (dim x 8 bytes) are joined back to the
    # far smaller deduped pair set afterwards; shipping them through the
    # candidate shuffle keyed them into the distinct() and multiplied the
    # shuffle by n_tables at 100 TB scale.
    ids = buckets.select("id", "table", "bucket")
    cand_ids = (
        ids.select(F.col("id").alias("a"), "table", "bucket")
        .join(ids.select(F.col("id").alias("b"), "table", "bucket"), ["table", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    cand = cand_ids.join(
        v.select(F.col("id").alias("a"), F.col("v").alias("va")), "a"
    ).join(v.select(F.col("id").alias("b"), F.col("v").alias("vb")), "b")
    return (
        cand.select("a", "b", F.round(cosine_sim(F.col("va"), F.col("vb")), 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )
