"""Deterministic synthetic Common-Crawl-style webtext corpus
(FIXTURES.md §2.1) — the pipeline's test/bench input. No external data:
everything derives from a fixed seed.

Schema matches BASELINE.json input_hint exactly:
    (url string, warc_ts timestamp, html binary, text string, lang string)
plus a side table dup_truth(url_a, url_b, kind) labeling planted duplicate
pairs:
    exact     — verbatim text under a different url (~5%)
    near      — ~2% of words replaced (char-shingle Jaccard >= ~0.9) (~5%)
    substring — one page's text is a contiguous slice of another's, same
                host (~2%; the exact-substring layer's target)
Negatives: same-host pages share only per-host boilerplate (the precision
trap — must NOT pair).

Hosts are Zipf-distributed to drive realistic LSH bucket / shuffle skew.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

SEED = 42

_STOPWORDS = {
    "en": "the of and to in a is that it was for on are as with his they at".split(),
    "de": "der die das und zu in ein ist dass es war für auf sind als mit".split(),
    "fr": "le la les de et à un est que il était pour sur sont comme avec".split(),
    "es": "el la los de y a un es que se era para en son como con".split(),
}
_LANGS = ["en", "de", "fr", "es"]
_LANG_P = [0.9, 0.04, 0.03, 0.03]


def _vocab(rng: np.random.Generator, size: int = 4000) -> np.ndarray:
    lengths = rng.integers(3, 11, size=size)
    letters = "abcdefghijklmnopqrstuvwxyz"
    return np.array(
        ["".join(rng.choice(list(letters), ln)) for ln in lengths], dtype=object
    )


def _doc_text(rng: np.random.Generator, vocab: np.ndarray, lang: str, n_words: int) -> str:
    stop = _STOPWORDS[lang]
    words = []
    content = rng.choice(vocab, size=n_words)
    stops = rng.choice(stop, size=n_words)
    use_stop = rng.random(n_words) < 0.35
    for i in range(n_words):
        words.append(stops[i] if use_stop[i] else content[i])
    return " ".join(words)


def _near_dup(rng: np.random.Generator, vocab: np.ndarray, text: str, edit_rate: float = 0.02) -> str:
    words = text.split(" ")
    n_edit = max(1, int(len(words) * edit_rate))
    idx = rng.choice(len(words), size=min(n_edit, len(words)), replace=False)
    repl = rng.choice(vocab, size=len(idx))
    for i, w in zip(idx, repl):
        words[i] = str(w)
    return " ".join(words)


def _html(host: str, title: str, text: str) -> bytes:
    # per-host boilerplate header/footer — the shared-boilerplate negative trap
    return (
        f"<html><head><title>{title}</title>"
        f"<style>body{{margin:0}}</style></head><body>\n"
        f"<div class=\"nav\">site {host} navigation home about contact archive</div>\n"
        f"<script>var x=1;</script>\n"
        f"<p>{text}</p>\n"
        f"<div class=\"footer\">copyright {host} all rights reserved terms privacy</div>\n"
        f"</body></html>"
    ).encode("utf-8")


def generate_corpus_pandas(
    n_docs: int = 1000,
    seed: int = SEED,
    exact_frac: float = 0.05,
    near_frac: float = 0.05,
    substr_frac: float = 0.02,
    id_offset: int = 0,
    words_mu: float = 5.3,
    n_hosts: int | None = None,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Build (webpages, dup_truth) as pandas frames (deterministic).
    ``id_offset`` namespaces urls/timestamps so shards can be generated
    independently (distributed generation); ``words_mu`` scales document
    length (lognormal location)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    n_hosts = n_hosts or max(4, n_docs // 50)
    # Zipf-ish host popularity
    host_ranks = np.arange(1, n_hosts + 1, dtype=np.float64)
    host_p = (1.0 / host_ranks**1.2) / np.sum(1.0 / host_ranks**1.2)

    langs = rng.choice(_LANGS, size=n_docs, p=_LANG_P)
    hosts = rng.choice(n_hosts, size=n_docs, p=host_p)
    n_words = np.clip(rng.lognormal(words_mu, 0.5, size=n_docs).astype(int), 60, 40000)

    rows = []
    base_texts = []
    t0 = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)
    for i in range(n_docs):
        gid = id_offset + i
        text = _doc_text(rng, vocab, langs[i], int(n_words[i]))
        base_texts.append(text)
        host = f"host{hosts[i]:04d}.example"
        rows.append(
            {
                "url": f"https://{host}/p{gid:09d}",
                "warc_ts": t0 + datetime.timedelta(seconds=gid),
                "html": _html(host, f"page {gid}", text),
                "text": text,
                "lang": str(langs[i]),
            }
        )

    truth = []
    next_id = n_docs

    def _add(base_idx: int, text: str, kind: str, same_host: bool) -> None:
        nonlocal next_id
        gid = id_offset + next_id
        h = hosts[base_idx] if same_host else int(rng.choice(n_hosts, p=host_p))
        host = f"host{h:04d}.example"
        url = f"https://{host}/p{gid:09d}"
        rows.append(
            {
                "url": url,
                "warc_ts": t0 + datetime.timedelta(seconds=gid),
                "html": _html(host, f"page {gid}", text),
                "text": text,
                "lang": rows[base_idx]["lang"],
            }
        )
        truth.append({"url_a": rows[base_idx]["url"], "url_b": url, "kind": kind})
        next_id += 1

    for kind, frac in (("exact", exact_frac), ("near", near_frac), ("substring", substr_frac)):
        n_k = int(n_docs * frac)
        bases = rng.choice(n_docs, size=n_k, replace=False)
        for b in bases:
            b = int(b)
            if kind == "exact":
                _add(b, base_texts[b], "exact", same_host=False)
            elif kind == "near":
                _add(b, _near_dup(rng, vocab, base_texts[b]), "near", same_host=False)
            else:
                words = base_texts[b].split(" ")
                if len(words) < 40:
                    continue
                span = max(30, int(len(words) * float(rng.uniform(0.5, 0.7))))
                start = int(rng.integers(0, len(words) - span + 1))
                sub = " ".join(words[start : start + span])
                # substring dups planted same-host (documented SA-layer scope)
                _add(b, sub, "substring", same_host=True)

    pages = pd.DataFrame(rows)
    dup_truth = pd.DataFrame(truth, columns=["url_a", "url_b", "kind"])
    return pages, dup_truth


def generate_corpus(
    spark: SparkSession,
    n_docs: int = 1000,
    seed: int = SEED,
    partitions: int | None = None,
    **kw,
) -> tuple[DataFrame, DataFrame]:
    """Spark DataFrames (webpages, dup_truth). Generation is driver-side for
    the CI scales used here; a 10^12-doc corpus would instead be generated
    distributed via ``spark.range(n).mapInPandas`` with per-partition seeds
    derived from (seed, partition_id) — same determinism contract."""
    pages_pd, truth_pd = generate_corpus_pandas(n_docs, seed, **kw)
    pages = spark.createDataFrame(pages_pd)
    if partitions:
        pages = pages.repartition(partitions, "url")
    truth = (
        spark.createDataFrame(truth_pd)
        if len(truth_pd)
        else spark.createDataFrame([], "url_a string, url_b string, kind string")
    )
    return pages, truth


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _shard_params(n_docs: int, seed: int, partitions: int, pid: int) -> dict:
    """Per-shard generator parameters — the SINGLE source of truth shared by
    the pages and dup_truth distributed generators, so the truth labels line
    up with the pages byte-for-byte (same shard seed => same rng stream)."""
    per = max(1, n_docs // partitions)
    return {
        "n_docs": per,
        "seed": seed + pid * 1009,
        "id_offset": pid * per * 2,
        "n_hosts": max(4, n_docs // 50),
    }


def generate_corpus_distributed(
    spark: SparkSession,
    n_docs: int,
    seed: int = SEED,
    partitions: int = 32,
    words_mu: float = 5.3,
    **kw,
) -> DataFrame:
    """Pages-only corpus generated IN the executors: each shard runs the
    same deterministic generator with a shard-derived seed and a disjoint
    id namespace — the pattern a 10^12-doc corpus generation would use.
    Duplicates are planted within shards; the matching labels come from
    ``generate_truth_distributed`` (same shard params => same rng stream)."""

    def gen(batches):
        for pdf in batches:
            for pid in pdf["id"]:
                p = _shard_params(n_docs, seed, partitions, int(pid))
                pages, _ = generate_corpus_pandas(
                    p["n_docs"],
                    seed=p["seed"],
                    id_offset=p["id_offset"],
                    words_mu=words_mu,
                    n_hosts=p["n_hosts"],
                    **kw,
                )
                yield pages

    return (
        spark.range(partitions)
        .repartition(partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


TRUTH_SCHEMA = "url_a string, url_b string, kind string"


def generate_truth_distributed(
    spark: SparkSession,
    n_docs: int,
    seed: int = SEED,
    partitions: int = 32,
    words_mu: float = 5.3,
    **kw,
) -> DataFrame:
    """dup_truth labels for ``generate_corpus_distributed`` with identical
    arguments: reruns each shard's deterministic generator and keeps only
    the truth frame. Regenerating text to recover labels costs one extra
    pass at corpus-creation time (cached to parquet by callers) and keeps
    the pages generator allocation-free of label bookkeeping."""

    def gen(batches):
        for pdf in batches:
            for pid in pdf["id"]:
                p = _shard_params(n_docs, seed, partitions, int(pid))
                _, truth = generate_corpus_pandas(
                    p["n_docs"],
                    seed=p["seed"],
                    id_offset=p["id_offset"],
                    words_mu=words_mu,
                    n_hosts=p["n_hosts"],
                    **kw,
                )
                if len(truth):
                    yield truth

    return (
        spark.range(partitions)
        .repartition(partitions)
        .mapInPandas(gen, schema=TRUTH_SCHEMA)
    )
