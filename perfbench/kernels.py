"""Kernel micro-bench: the public numpy kernels of ``dedup.*`` and
``sketches.*`` called from one thread on fixed, seeded input, with no Spark.

Each kernel is timed ``REPEATS`` times; the median and the quartiles go to
the per-layer table, because single repeats of these kernels vary by tens of
percent on a shared host. Sketch families are timed on one large batch (the
shape the ungrouped queries of the ``sketch`` workload feed them) and on one
group-sized batch (the shape ``operators.agg.sketch_groupby_agg`` feeds them
per Arrow batch and group in a rollup).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

REPEATS = 7
KERNEL_DOCS = 200  # one Arrow batch's worth of typical crawl pages
LARGE_VALUES = 100_000
SMALL_VALUES = 100  # rows per (Arrow batch, group) in the rollup: 10,000 / 100


def _quartiles(samples: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(samples, n=4)
    return q1, med, q3


def _time(fn, repeats: int = REPEATS) -> list[float]:
    fn()  # first call pays imports and allocator warm-up
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return out


def _record(metrics: dict, name: str, samples: list[float], scale: float) -> None:
    q1, med, q3 = _quartiles([s * scale for s in samples])
    metrics[name] = med
    metrics[name + "_q1"] = q1
    metrics[name + "_q3"] = q3


def dedup_kernels(seed: int, metrics: dict) -> None:
    from datasketches_postgresql_spark.dedup.chunking import chunk_hashes_batch
    from datasketches_postgresql_spark.dedup.extract import extract_text_series
    from datasketches_postgresql_spark.dedup.minhash import minhash_signatures, simhash
    from datasketches_postgresql_spark.dedup.shingle import shingle_hash_batch
    from datasketches_postgresql_spark.dedup.suffix import (
        DEFAULT_MIN_MATCH_CHARS,
        winnow_pair_fingerprints_batch,
    )
    from datasketches_postgresql_spark.sources.corpus import generate_corpus_pandas

    pages, _ = generate_corpus_pandas(KERNEL_DOCS, seed=seed)
    pages = pages.iloc[:KERNEL_DOCS]
    html = pd.Series([bytes(b) for b in pages["html"]])
    texts = extract_text_series(html)
    shingles = shingle_hash_batch(texts)
    per_doc_us = 1e6 / len(pages)
    _record(metrics, "dedup.extract.us_per_doc", _time(lambda: extract_text_series(html)), per_doc_us)
    _record(metrics, "dedup.shingle.cdc_us_per_doc", _time(lambda: chunk_hashes_batch(texts)), per_doc_us)
    _record(metrics, "dedup.minhash.oph_us_per_doc", _time(lambda: minhash_signatures(shingles)), per_doc_us)
    _record(metrics, "dedup.minhash.simhash_us_per_doc", _time(lambda: simhash(shingles)), per_doc_us)
    _record(
        metrics,
        "dedup.suffix.winnow_us_per_doc",
        _time(lambda: winnow_pair_fingerprints_batch(texts, DEFAULT_MIN_MATCH_CHARS)),
        per_doc_us,
    )


def sketch_kernels(seed: int, metrics: dict) -> None:
    from datasketches_postgresql_spark.sketches import cpc, fi, kll, theta

    rng = np.random.default_rng([seed, 2])
    hashes = rng.integers(0, 2**63, size=LARGE_VALUES, dtype=np.int64).astype(np.uint64)
    doubles = rng.standard_normal(LARGE_VALUES)
    ranks = np.minimum(rng.zipf(1.1, size=LARGE_VALUES), 8192)
    strings = np.char.add("v", ranks.astype("U6")).astype(object)
    families = {
        "theta": (lambda v: theta.build(v), hashes),
        "cpc": (lambda v: cpc.build(v), hashes),
        "kll": (lambda v: kll.build(v), doubles),
        "fi": (lambda v: fi.build(9, v), strings),
    }
    per_value = {"theta": "build", "cpc": "build", "kll": "update", "fi": "update"}
    for fam, (build, values) in families.items():
        _record(
            metrics,
            f"sketches.{fam}.{per_value[fam]}_ns_per_value",
            _time(lambda: build(values)),
            1e9 / len(values),
        )
        small = values[:SMALL_VALUES]
        # one call is microseconds: time batches of calls, report per call
        calls = 200
        _record(
            metrics,
            f"sketches.{fam}.small_build_us_per_call",
            _time(lambda: [build(small) for _ in range(calls)]),
            1e6 / calls,
        )


def run(seed: int) -> dict:
    metrics: dict = {}
    dedup_kernels(seed, metrics)
    sketch_kernels(seed, metrics)
    return metrics
