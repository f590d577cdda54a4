"""The one output-check step every workload goes through.

Each check returns ``(measured value, failure messages)``; a failure marks
the pass or query it belongs to as failed, and failed ones are counted in the
result's ``failed`` field, never dropped.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

MIN_RECALL = 0.99  # planted dup pairs that must land in one cluster
# Over-merging floor: the shared-boilerplate trap would put same-host pages
# in one cluster and drive this far below 0.9.
MIN_PAIR_PRECISION = 0.9

# Stated error bounds: 5 standard errors of each estimator at the default
# sketch size, so a correct sketch fails a check about once in 10^6.
THETA_RSE = 1 / math.sqrt(2**12)  # lg_k 12
CPC_RSE = 1 / math.sqrt(2**11)  # lg_k 11; CPC's true RSE is ~0.6-0.7 of this
HLL_RSE = 1.04 / math.sqrt(2**12)  # lg_k 12
DISTINCT_SIGMAS = 5
# KLL k=200: normalized rank error 1.65% at 99% confidence (~2.6 sigma)
KLL_RANK_BOUND = 2 * 0.0165


def _components(truth: pd.DataFrame) -> dict[str, str]:
    """url -> representative url of its planted-truth component."""
    parent: dict[str, str] = {}

    def find(u: str) -> str:
        while parent.setdefault(u, u) != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in zip(truth["url_a"], truth["url_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def dedup_quality(resolved: pd.DataFrame, truth: pd.DataFrame, expect_rows: int):
    """recall: planted pairs whose two urls share a cluster (the same
    definition as ``dedup.pipeline.dup_pair_recall``); pair_precision: among
    doc pairs put in one cluster, the share in one planted-truth component."""
    failures = []
    if len(resolved) != expect_rows or resolved["url"].nunique() != expect_rows:
        failures.append(f"resolved has {len(resolved)} rows, expected {expect_rows} distinct urls")
    cluster = dict(zip(resolved["url"], resolved["cluster_id"]))
    hits = [cluster.get(a) is not None and cluster.get(a) == cluster.get(b)
            for a, b in zip(truth["url_a"], truth["url_b"])]
    recall = float(np.mean(hits)) if hits else 1.0
    comp = _components(truth)
    r = resolved.assign(comp=resolved["url"].map(comp).fillna(resolved["url"]))
    sizes = r.groupby("cluster_id").size()
    sub = r.groupby(["cluster_id", "comp"]).size()
    clustered_pairs = float((sizes * (sizes - 1) / 2).sum())
    true_pairs = float((sub * (sub - 1) / 2).sum())
    precision = true_pairs / clustered_pairs if clustered_pairs else 1.0
    if recall < MIN_RECALL:
        failures.append(f"recall {recall:.4f} < {MIN_RECALL}")
    if precision < MIN_PAIR_PRECISION:
        failures.append(f"pair_precision {precision:.4f} < {MIN_PAIR_PRECISION}")
    return {"recall": recall, "pair_precision": precision}, failures


def distinct_error(name: str, estimate: float, exact: int, rse: float):
    err = abs(estimate / exact - 1)
    bound = DISTINCT_SIGMAS * rse
    return err, [] if err <= bound else [f"{name}: relative error {err:.4f} > {bound:.4f}"]


def rank_error(name: str, quantiles, ranks, sorted_values: np.ndarray):
    """Largest |exact rank of the returned quantile - requested rank|."""
    n = len(sorted_values)
    errs = [
        abs(np.searchsorted(sorted_values, q, side="right") / n - r)
        for q, r in zip(quantiles, ranks)
    ]
    err = max(errs)
    return err, [] if err <= KLL_RANK_BOUND else [f"{name}: rank error {err:.4f} > {KLL_RANK_BOUND}"]


def heavy_hitters(reported: set[str], exact_counts: dict[str, int], threshold: int):
    """No-false-negatives: every item whose exact count exceeds the
    threshold is reported. Returns the share of true heavy hitters found."""
    truth = {s for s, c in exact_counts.items() if c > threshold}
    missed = truth - reported
    found = (len(truth) - len(missed)) / len(truth) if truth else 1.0
    return found, [f"heavy hitters missed: {sorted(missed)[:5]}"] if missed else []
