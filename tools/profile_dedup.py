"""Per-stage wall-clock profile of the dedup pipeline at one parallelism
level. Usage:

    python tools/profile_dedup.py [cpus] [n_docs] [--corpus PARQUET] [--runs R]

Without ``--corpus`` a seeded ``n_docs`` corpus is generated once under
``.data/bench_corpus``. Prints one JSON line per run (later runs are the
warm-executor ones, as in bench.py): {cpus, n_docs, total_sec, docs_per_sec,
stages, unattributed}, where ``unattributed`` is wall time outside every
checkpointed stage (lineage pass, metrics flush, driver-side glue).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cpus", type=int, nargs="?", default=os.cpu_count())
    ap.add_argument("n_docs", type=int, nargs="?", default=30000)
    ap.add_argument("--corpus", help="parquet dir of (url, warc_ts, html, text, lang)")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from bench import DATA_DIR, fresh_spark, warm_workers
    from datasketches_postgresql_spark.dedup.pipeline import DedupConfig, DedupPipeline
    from datasketches_postgresql_spark.sources.corpus import generate_corpus_pandas

    cpus = args.cpus
    spark = fresh_spark(cpus, max(cpus, 32))
    warm_workers(spark, cpus)

    corpus_path = args.corpus or os.path.join(DATA_DIR, "bench_corpus")
    if not os.path.exists(corpus_path):
        pages_pd, _ = generate_corpus_pandas(args.n_docs, seed=42)
        spark.createDataFrame(pages_pd).repartition(cpus * 2, "url").write.mode(
            "overwrite"
        ).parquet(corpus_path)
    pages = spark.read.parquet(corpus_path)
    n = pages.count()

    ckpt = os.path.join(DATA_DIR, f"profile_ckpt_{cpus}")
    for _ in range(args.runs):
        shutil.rmtree(ckpt, ignore_errors=True)
        pipe = DedupPipeline(spark, ckpt, DedupConfig())
        t0 = time.time()
        out = pipe.run(pages, resume=False)
        out["resolved"].count()
        total = time.time() - t0
        print(
            json.dumps(
                {
                    "cpus": cpus,
                    "n_docs": n,
                    "total_sec": round(total, 2),
                    "docs_per_sec": round(n / total, 1),
                    "stages": pipe.stage_seconds,
                    "unattributed": round(total - sum(pipe.stage_seconds.values()), 2),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
