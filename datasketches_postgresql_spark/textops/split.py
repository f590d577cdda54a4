"""Deterministic dataset splitting for training pipelines.

``randomSplit`` is the trap here: it samples per-partition with a seeded
RNG, so the assignment of a given document changes whenever the input's
partitioning changes — re-running after a repartition (or at a different
cluster size) silently moves documents between train and validation,
leaking eval data into training. A web-scale pipeline needs the split to
be a pure function of the document identity.

``hash_split`` assigns each row by ``xxhash64(id, seed)`` bucketed into
[0, 1): the split is stable across runs, parallelism, partitioning, and
incremental batches (a new crawl batch lands each doc in the same split
it would get in a full run). 100% JVM expression — no shuffle, no UDF:
the assignment is a projection, so it composes with any downstream scan
and survives predicate pushdown on the split column after a write
partitioned by it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def split_bucket(id_col: Column, seed: int = 0) -> Column:
    """Uniform [0, 1) bucket, a pure function of (id, seed). Changing the
    seed reshuffles every assignment; keeping it pins them forever."""
    return (F.pmod(F.xxhash64(id_col, F.lit(seed)), F.lit(_BUCKETS))) / F.lit(
        float(_BUCKETS)
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    col_name: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to one named fraction.

    ``weights`` maps split name -> fraction; fractions must sum to ~1.
    Assignment boundaries are cumulative in the given dict order, so
    ``{"train": .98, "val": .01, "test": .01}`` puts bucket [0, .98) in
    train, [.98, .99) in val, [.99, 1) in test.

    The boundaries are cumulative Python float sums taken in dict order
    (``.98 + .01`` is not exactly ``.99``), so replaying a split in another
    engine must accumulate the same weights in the same order to land rows
    on the same side of each boundary.
    """
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("every split weight must be > 0")
    b = split_bucket(F.col(id_col), seed)
    expr = None
    hi = 0.0
    names = list(weights)
    for name in names[:-1]:
        hi += weights[name]
        expr = F.when(b < hi, name) if expr is None else expr.when(b < hi, name)
    # the last split takes the remainder, immune to float boundary dust
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(col_name, expr)


def weighted_sample(
    df: DataFrame,
    rate,
    id_col: str = "doc_id",
    seed: int = 9,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff its [0,1) hash
    bucket falls under ``rate`` — a pure function of (id, seed), so the
    SAME rows survive under any partitioning, parallelism, or re-run
    (``df.sample`` has the same per-partition-RNG trap as randomSplit).

    ``rate`` may be a float (uniform downsampling) or a Column in [0, 1]
    (per-row rates — the dataset-mixing primitive: give each row the
    weight of its source/domain/quality tier and one projection applies
    the whole mixture). Rows whose rate is NULL are dropped (no weight =
    not in the mix). Zero-shuffle projection + filter.

    Seeds: use a seed disjoint from hash_split's so mixing and splitting
    stay independent events (the same id's split bucket and sample
    bucket are decorrelated hashes)."""
    r = F.lit(float(rate)) if isinstance(rate, (int, float)) else rate
    return df.where(split_bucket(F.col(id_col), seed) < r)


def mix_sources(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 9,
    default_rate: float = 0.0,
) -> DataFrame:
    """Dataset mixing (the DoReMi / The-Pile recipe shape): sample each
    source at its own rate in ONE deterministic pass. ``weights`` maps
    source value -> keep fraction in [0, 1]; sources not listed keep
    ``default_rate`` (0 = dropped). Built on weighted_sample, so the mix
    is reproducible row-for-row across runs and layouts, and an
    incremental batch mixes exactly as the full corpus would.

    Unlike hash_split, nothing is accumulated: each row's bucket is
    compared against its source's weight as given (a Python float), so a
    replay in another engine needs the same bucket function and the same
    float64 weights, in any order."""
    for s, w in weights.items():
        if not 0.0 <= w <= 1.0:
            raise ValueError(f"weight for {s!r} must be in [0, 1], got {w}")
    rate = None
    for s, w in weights.items():
        cond = F.col(source_col) == s
        rate = F.when(cond, w) if rate is None else rate.when(cond, w)
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(
        float(default_rate)
    )
    return weighted_sample(df, rate, id_col=id_col, seed=seed)
