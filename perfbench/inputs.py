"""Seeded inputs for the benchmark workloads, with the exact answers the
output checks compare against.

Everything here derives from the ``--seed`` argument; the same seed gives
identical inputs. Generation and exact answers are set-up work and are
never inside a timed pass.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---- dedup workload ------------------------------------------------------

BASE_DOCS = 6000  # planted 12% duplicates bring the base crawl to ~6,700 rows
BASE_SHARDS = 8  # generator shards (fixed, so inputs do not depend on cores)
BATCH_FRESH_DOCS = 480  # new pages in the increment (~540 rows with planted dups)
BATCH_COPY_SHARE = 0.2  # share of the increment that near-copies base pages
BATCH_EDIT_RATE = 0.02  # words replaced in each near-copy (Jaccard ~0.9)
BATCH_ID_OFFSET = 1_000_000_000  # url/id namespace disjoint from every base shard


def _page_html(host: str, title: str, text: str) -> bytes:
    """Same page shape as the base crawl: per-host nav and footer
    boilerplate around one paragraph of text."""
    return (
        f"<html><head><title>{title}</title></head><body>\n"
        f'<div class="nav">site {host} navigation home about contact archive</div>\n'
        f"<p>{text}</p>\n"
        f'<div class="footer">copyright {host} all rights reserved terms privacy</div>\n'
        f"</body></html>"
    ).encode("utf-8")


def _edit_words(rng: np.random.Generator, text: str, vocab: np.ndarray) -> str:
    words = text.split(" ")
    n_edit = max(1, int(len(words) * BATCH_EDIT_RATE))
    idx = rng.choice(len(words), size=min(n_edit, len(words)), replace=False)
    for i, w in zip(idx, rng.choice(vocab, size=len(idx))):
        words[i] = str(w)
    return " ".join(words)


def increment_batch(
    base_rows: pd.DataFrame, seed: int
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """A new crawl batch for ``run_incremental`` plus its truth labels.

    ``base_rows`` holds (url, text, lang) of every base page. The batch is
    ``BATCH_FRESH_DOCS`` fresh pages (with the generator's own planted
    within-batch duplicates, from a vocabulary of their own) plus near-copies
    of base pages making up ``BATCH_COPY_SHARE`` of the batch, each under a
    new url on another host. Truth covers the within-batch pairs and every
    cross-batch (base page, near-copy) pair.
    """
    from datasketches_postgresql_spark.sources.corpus import generate_corpus_pandas

    fresh, fresh_truth = generate_corpus_pandas(
        BATCH_FRESH_DOCS, seed=seed, id_offset=BATCH_ID_OFFSET
    )
    rng = np.random.default_rng([seed, 1])
    n_copies = int(round(len(fresh) * BATCH_COPY_SHARE / (1 - BATCH_COPY_SHARE)))
    # copy only pages long enough to survive a 2% edit as a near-duplicate
    eligible = base_rows[base_rows["text"].str.count(" ") >= 60].sort_values("url")
    picks = eligible.iloc[np.sort(rng.choice(len(eligible), size=n_copies, replace=False))]
    vocab = np.array(sorted({w for t in picks["text"] for w in t.split(" ")}), dtype=object)
    t0 = datetime.datetime(2025, 6, 1, tzinfo=datetime.timezone.utc)
    rows, truth = [], []
    for i, (url, text, lang) in enumerate(zip(picks["url"], picks["text"], picks["lang"])):
        gid = BATCH_ID_OFFSET + 10 * BATCH_FRESH_DOCS + i
        host = f"mirror{int(rng.integers(0, 64)):02d}.example"
        new_url = f"https://{host}/c{gid:010d}"
        new_text = _edit_words(rng, text, vocab)
        rows.append(
            {
                "url": new_url,
                "warc_ts": t0 + datetime.timedelta(seconds=i),
                "html": _page_html(host, f"page {gid}", new_text),
                "text": new_text,
                "lang": lang,
            }
        )
        truth.append({"url_a": url, "url_b": new_url, "kind": "cross_near"})
    batch = pd.concat([fresh, pd.DataFrame(rows)], ignore_index=True)
    return batch, pd.concat([fresh_truth, pd.DataFrame(truth)], ignore_index=True)


def write_dedup_inputs(spark, root: str, seed: int) -> dict:
    """Base crawl from ``generate_corpus_distributed`` written under
    ``root``, with its planted-duplicate truth labels."""
    from datasketches_postgresql_spark.sources.corpus import (
        generate_corpus_distributed,
        generate_truth_distributed,
    )

    path = os.path.join(root, "base")
    generate_corpus_distributed(
        spark, BASE_DOCS, seed=seed, partitions=BASE_SHARDS
    ).write.mode("overwrite").parquet(path)
    base_truth = generate_truth_distributed(
        spark, BASE_DOCS, seed=seed, partitions=BASE_SHARDS
    ).toPandas()
    rows = pq.ParquetDataset(path).read(columns=["url"]).num_rows
    return {"paths": {"base": path}, "base_truth": base_truth, "base_rows": rows}


# ---- sketch workload -----------------------------------------------------

SCAN_ROWS = 1_000_000  # ungrouped aggregates: large Arrow batches
ROLLUP_ROWS = 240_000  # grouped aggregates: many small per-group calls
ROLLUP_GROUPS = 100
ROLLUP_COARSE = 10  # rollup target: group g merges into coarse key g % 10
ZIPF_ALPHA = 1.1
ZIPF_RANGE = 8192  # distinct strings in the heavy-hitter column
KLL_BATCHES = 3  # the quantile query builds one sketch per batch, then merges
FILES = 8  # parquet files per table, so a scan has one split per file
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch of session.get_spark
QUANTILE_RANKS = (0.1, 0.5, 0.9)


def _write_table(table: pa.Table, path: str, rows_per_file: int | None = None) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        part = table.slice(i * step, rows_per_file or step)
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def rollup_kernel_calls() -> int:
    """Kernel calls of one grouped build over ``rollup``: one per (Arrow
    batch, group), and each file is one split of whole Arrow batches."""
    rows_per_file = -(-ROLLUP_ROWS // FILES)
    return FILES * -(-rows_per_file // ARROW_BATCH) * ROLLUP_GROUPS


def write_sketch_inputs(root: str, seed: int) -> dict:
    """Two tables written straight from numpy (no Spark job) plus the exact
    answers every sketch query is checked against.

    ``scan``: ``id`` uniform ints in [1, SCAN_ROWS] (distinct counting),
    ``s`` Zipf(1.1) strings over 8,192 values (heavy hitters), ``x`` N(0,1)
    and ``b`` a batch tag in [0, 3) (KLL build per batch, then merge).
    ``rollup``: ``g`` one of 100 groups, ``v`` ints with ~700 distinct
    values per group (~7,000 per coarse key), ``x`` N(g, 1).
    """
    rng = np.random.default_rng([seed, 3])
    ids = rng.integers(1, SCAN_ROWS + 1, size=SCAN_ROWS, dtype=np.int64)
    zipf_idx = np.minimum(rng.zipf(ZIPF_ALPHA, size=SCAN_ROWS), ZIPF_RANGE)
    x = rng.standard_normal(SCAN_ROWS)
    b = rng.integers(0, KLL_BATCHES, size=SCAN_ROWS, dtype=np.int32)
    names = pa.array([f"v{i}" for i in range(ZIPF_RANGE + 1)])
    strings = pa.DictionaryArray.from_arrays(pa.array(zipf_idx.astype(np.int32)), names)
    scan = pa.table({"id": ids, "s": strings, "x": x, "b": b})
    _write_table(scan, os.path.join(root, "scan"))
    # one row per file: the same plan and task count with no per-row work
    _write_table(scan, os.path.join(root, "tiny_scan"), rows_per_file=1)
    counts = np.bincount(zipf_idx)
    exact = {
        "scan_distinct": int(np.unique(ids).size),
        "scan_sorted_x": np.sort(x),
        "zipf_counts": {f"v{i}": int(c) for i, c in enumerate(counts) if c},
    }

    g = rng.integers(0, ROLLUP_GROUPS, size=ROLLUP_ROWS, dtype=np.int64)
    v = g * 10_000 + rng.integers(0, 3_000, size=ROLLUP_ROWS, dtype=np.int64)
    rx = g + rng.standard_normal(ROLLUP_ROWS)
    rollup = pa.table({"g": g, "v": v, "x": rx})
    _write_table(rollup, os.path.join(root, "rollup"))
    _write_table(rollup, os.path.join(root, "tiny_rollup"), rows_per_file=1)
    distinct_g = np.unique(v) // 10_000  # v encodes its group
    exact["group_distinct"] = dict(zip(*np.unique(distinct_g, return_counts=True)))
    exact["coarse_distinct"] = dict(
        zip(*np.unique(distinct_g % ROLLUP_COARSE, return_counts=True))
    )
    cg = g % ROLLUP_COARSE
    exact["coarse_sorted_x"] = {int(c): np.sort(rx[cg == c]) for c in range(ROLLUP_COARSE)}
    return {
        "paths": {n: os.path.join(root, n) for n in ("scan", "rollup", "tiny_scan", "tiny_rollup")},
        "exact": exact,
        "scan_rows": SCAN_ROWS,
        "rollup_rows": ROLLUP_ROWS,
    }
