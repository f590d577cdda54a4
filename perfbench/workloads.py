"""The benchmark's workloads: what one timed pass does, how its outputs are
checked, and which per-layer numbers its traced passes yield."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import checks
import inputs
import tracing


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


class Timer:
    """Wall seconds and CPU seconds of the whole process tree (driver, JVM,
    Python workers) spent inside the ``with`` block; the time is kept even
    when the block raises."""

    def __enter__(self):
        self.cpu0 = tracing.cpu_s(tracing.descendants())
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.wall = time.time() - self.t0
        self.cpu = tracing.cpu_s(tracing.descendants()) - self.cpu0
        return False

    def result(self, **fields) -> dict:
        return {"wall": self.wall, "cpu": self.cpu, **fields}


class DedupFull:
    """``DedupPipeline(DedupConfig()).run(pages, resume=False)`` into a fresh
    checkpoint over the synthetic crawl; traced runs also time one
    ``run_incremental`` of a new batch against the last pass's checkpoint."""

    name = "dedup_full"
    # stage checkpoint -> layer of the per-layer table
    LAYERS = {
        "extracted": "dedup.extract",
        "signatures": "dedup.minhash",
        "candidates": "dedup.lsh",
        "verified": "dedup.verify",
        "clusters": "dedup.cc",
        "resolved": "dedup.pipeline.resolve",
    }
    STAGES = tuple(LAYERS)
    # every span of a traced pass: the stages, the lineage pass and the
    # metrics flush (the lineage_metrics checkpoint)
    SPANS = STAGES + ("lineage", "metrics_flush")

    def __init__(self, spark, work: str, seed: int, tracer: tracing.Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.last_ckpt: str | None = None
        self.n_passes = 0

    # -- set-up --------------------------------------------------------------
    def prepare(self, rep: int) -> None:
        root = os.path.join(self.work, f"inputs{rep}")
        self.info = inputs.write_dedup_inputs(self.spark, root, self.seed)
        self.pages = self.spark.read.parquet(self.info["paths"]["base"])
        self.items = self.info["base_rows"]
        if rep:
            shutil.rmtree(os.path.join(self.work, f"inputs{rep - 1}"))

    def facts(self) -> dict:
        return {
            "base_docs": inputs.BASE_DOCS,
            "base_rows": self.info["base_rows"],
            "planted_pairs": len(self.info["base_truth"]),
            "generator_shards": inputs.BASE_SHARDS,
        }

    # -- one pass ------------------------------------------------------------
    def run_pass(self, warmup: bool = False) -> dict:
        """One pass; the warm-up pass is a full pass too."""
        from datasketches_postgresql_spark.dedup.pipeline import DedupConfig, DedupPipeline

        if self.last_ckpt:
            shutil.rmtree(self.last_ckpt, ignore_errors=True)
        self.n_passes += 1
        ckpt = self.last_ckpt = os.path.join(self.work, f"ckpt-{self.n_passes}")
        pipe = DedupPipeline(self.spark, ckpt, DedupConfig())
        with Timer() as timer:
            out = pipe.run(self.pages, resume=False)
        resolved = out["resolved"].select("url", "cluster_id").toPandas()
        quality, failures = checks.dedup_quality(
            resolved, self.info["base_truth"], self.info["base_rows"]
        )
        return timer.result(attempted=1, failed=int(bool(failures)), messages=failures,
                            quality=quality)

    # -- traced extras -------------------------------------------------------
    def traced_extras(self) -> tuple[dict, int, list[str]]:
        """-> (per-layer metrics, units attempted, failure messages)."""
        try:
            wall, failures, quality = self.run_increment()
        except Exception as exc:
            extra, failures = {}, [f"increment raised {exc!r}"]
        else:
            extra = {
                "dedup.increment.job_s": wall,
                "dedup.increment.recall": quality["recall"],
                "dedup.increment.pair_precision": quality["pair_precision"],
                "dedup.increment.cross_pairs": quality["cross_pairs"],
            }
        extra.update(self.arrow_boundary())
        return extra, 1, failures

    def run_increment(self) -> tuple[float, list[str], dict]:
        """Dedup a new batch (fresh pages plus near-copies of base pages)
        against the last pass's checkpoint; recall and pair_precision then
        cover base, within-batch and cross-batch pairs."""
        import pandas as pd

        from datasketches_postgresql_spark.dedup.pipeline import DedupConfig, DedupPipeline

        batch_pd, batch_truth = inputs.increment_batch(
            self.pages.select("url", "text", "lang").toPandas(), self.seed + 7919
        )
        path = os.path.join(self.work, "batch")
        self.spark.createDataFrame(batch_pd).repartition(inputs.BASE_SHARDS // 2).write.parquet(path)
        batch = self.spark.read.parquet(path)
        pipe = DedupPipeline(self.spark, self.last_ckpt, DedupConfig())
        t0 = time.time()
        out = pipe.run_incremental(batch, batch_id="inc", resume=False)
        wall = time.time() - t0
        resolved = out["resolved"].select("url", "cluster_id").toPandas()
        truth = pd.concat([self.info["base_truth"], batch_truth], ignore_index=True)
        quality, failures = checks.dedup_quality(
            resolved, truth, self.info["base_rows"] + len(batch_pd)
        )
        quality["cross_pairs"] = int((batch_truth["kind"] == "cross_near").sum())
        return wall, failures, quality

    def arrow_boundary(self) -> dict:
        """Identity ``mapInPandas`` over each stage's input and output
        columns: the Arrow transfer and worker cost of a stage without its
        kernel."""
        ex = self.spark.read.parquet(os.path.join(self.last_ckpt, "extracted"))
        sig = self.spark.read.parquet(os.path.join(self.last_ckpt, "signatures"))
        frames = {
            "arrow_boundary.extract_s": [self.pages.select("url", "html", "lang"), ex],
            "arrow_boundary.signatures_s": [ex.select("doc_id", "text"), sig],
        }
        out = {}
        for name, dfs in frames.items():
            t0 = time.time()
            for df in dfs:
                df.mapInPandas(lambda it: it, schema=df.schema).write.format(
                    "noop"
                ).mode("overwrite").save()
            out[name] = time.time() - t0
        return out

    def layer_metrics(self, spans: list[dict], groups: dict, passes: list[dict],
                      kernels: dict) -> dict:
        """Per-layer medians over the traced passes."""
        per_pass: dict[str, list[float]] = {}

        def add(key, value):
            per_pass.setdefault(key, []).append(value)

        for tp in passes:
            p = tp["id"]
            ss = {s["name"]: s for s in spans if s["pass"] == p}
            rows = {n: ss[n].get("rows", 0) for n in self.LAYERS if n in ss}
            for stage, layer in self.LAYERS.items():
                s = ss.get(stage)
                if s is None:
                    continue
                g = groups.get(f"{p}:{stage}") or tracing.empty_group()
                dur = s["end"] - s["start"]
                if layer == "dedup.pipeline.resolve":
                    add("dedup.pipeline.resolve_s", dur)
                    continue
                add(f"{layer}.s", dur)
                add(f"{layer}.self_s", dur - tracing.jobs_covered_s(g, s["start"], s["end"]))
                add(f"{layer}.rows_out", s.get("rows", 0))
                add(f"{layer}.py_cpu_s", s["py_cpu_s"])
                add(f"{layer}.jvm_cpu_s", g["jvm_cpu_s"])
                add(f"{layer}.ckpt_bytes", s.get("bytes", 0))
                add(f"{layer}.shuffle_write_bytes", g["shuffle_write_bytes"])
                add(f"{layer}.spill_bytes", g["spill_bytes"])
                add(f"{layer}.task_skew", tracing.task_skew(g))
                if layer == "dedup.cc":
                    add("dedup.cc.jobs", len(g["jobs"]))
            if rows.get("extracted"):
                add("dedup.lsh.candidates_per_doc", rows.get("candidates", 0) / rows["extracted"])
            if rows.get("candidates"):
                add("dedup.verify.yield", rows.get("verified", 0) / rows["candidates"])
            written = [s for s in ss.values() if "bytes" in s]
            add("sources.io.ckpt_bytes", sum(s["bytes"] for s in written))
            add("sources.io.stages_written", len(written))
            # wall time in no stage span: the lineage pass, the cluster
            # statistics, the metrics flush and driver-side glue
            add("dedup.pipeline.other_s",
                tp["wall"] - sum(ss[n]["end"] - ss[n]["start"] for n in self.STAGES if n in ss))
            for name, key in (("lineage", "lineage_s"), ("metrics_flush", "flush_s")):
                if name in ss:
                    add(f"dedup.pipeline.{key}", ss[name]["end"] - ss[name]["start"])
            add("dedup.pipeline.pair_precision", tp["quality"]["pair_precision"])
        return {k: _median(v) for k, v in per_pass.items()}


class Sketch:
    """Ungrouped sketch aggregates over a large table (``scan``) and grouped
    builds rolled up to coarser keys (``rollup``); one pass runs every
    query once, then checks each result against the exact answer from
    set-up."""

    name = "sketch"
    FI_LG_K = 9
    SCAN_QUERIES = (
        "functions.theta.distinct",
        "functions.cpc.distinct",
        "functions.hll.native_distinct",
        "functions.kll.quantile",
        "functions.fi.heavy_hitters",
    )
    ROLLUP_QUERIES = (
        "functions.theta.rollup",
        "functions.kll.rollup",
        "functions.cpc.grouped_distinct",
    )
    STAGES = SCAN_QUERIES + ROLLUP_QUERIES
    SPANS = STAGES
    DISTINCT_QUERIES = (
        "functions.theta.distinct",
        "functions.cpc.distinct",
        "functions.hll.native_distinct",
        "functions.theta.rollup",
        "functions.cpc.grouped_distinct",
    )
    RANK_QUERIES = ("functions.kll.quantile", "functions.kll.rollup")
    # queries built on operators.agg.sketch_groupby_agg (all but Spark's HLL)
    AGG_QUERIES = tuple(q for q in STAGES if q != "functions.hll.native_distinct")
    # query -> the micro-bench kernel its per-row work runs: scan queries
    # feed a kernel large batches (ns per value x rows), rollups call it once
    # per (Arrow batch, group) on ~100 values (us per call x calls)
    KERNELS = {
        "functions.theta.distinct": "sketches.theta.build_ns_per_value",
        "functions.cpc.distinct": "sketches.cpc.build_ns_per_value",
        "functions.kll.quantile": "sketches.kll.update_ns_per_value",
        "functions.fi.heavy_hitters": "sketches.fi.update_ns_per_value",
        "functions.theta.rollup": "sketches.theta.small_build_us_per_call",
        "functions.kll.rollup": "sketches.kll.small_build_us_per_call",
        "functions.cpc.grouped_distinct": "sketches.cpc.small_build_us_per_call",
    }

    def __init__(self, spark, work: str, seed: int, tracer: tracing.Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.fixed_s: dict[str, float] = {}

    def prepare(self, rep: int) -> None:
        root = os.path.join(self.work, f"inputs{rep}")
        self.info = inputs.write_sketch_inputs(root, self.seed)
        read = self.spark.read.parquet
        paths = self.info["paths"]
        self.queries = self._queries(read(paths["scan"]), read(paths["rollup"]))
        self.tiny_queries = self._queries(read(paths["tiny_scan"]), read(paths["tiny_rollup"]))
        self.items = inputs.SCAN_ROWS * len(self.SCAN_QUERIES) + inputs.ROLLUP_ROWS * len(
            self.ROLLUP_QUERIES
        )
        if rep:
            shutil.rmtree(os.path.join(self.work, f"inputs{rep - 1}"))

    def facts(self) -> dict:
        return {
            "scan_rows": inputs.SCAN_ROWS,
            "rollup_rows": inputs.ROLLUP_ROWS,
            "rollup_groups": inputs.ROLLUP_GROUPS,
            "rollup_coarse_keys": inputs.ROLLUP_COARSE,
            "rows_per_pass": self.items,
        }

    def _queries(self, scan, rollup) -> dict:
        """name -> (run, check): run() executes the query and collects its
        result; check(result) returns (measured error or recall, failures)
        against the exact answers from set-up."""
        from pyspark.sql import functions as F

        from datasketches_postgresql_spark.functions import cpc as CPC
        from datasketches_postgresql_spark.functions import fi as FI
        from datasketches_postgresql_spark.functions import kll as KLL
        from datasketches_postgresql_spark.functions import theta as TH

        ex = self.info["exact"]
        ranks = list(inputs.QUANTILE_RANKS)
        threshold = inputs.SCAN_ROWS // 200
        coarse = F.col("g") % inputs.ROLLUP_COARSE

        def first(df, col):
            return df.collect()[0][col]

        def theta_rollup():
            per = TH.theta_sketch_build(rollup, ["g"], "v").withColumn("c", coarse)
            merged = TH.theta_sketch_union_agg(per, ["c"], "sketch")
            return merged.select("c", TH.theta_sketch_get_estimate(F.col("sketch")).alias("e")).collect()

        def kll_quantile():
            per = KLL.kll_double_sketch_build(scan, ["b"], "x")
            merged = KLL.kll_sketch_merge(per, [], "sketch")
            return first(merged.select(KLL.kll_sketch_get_quantiles(F.col("sketch"), ranks).alias("q")), "q")

        def kll_rollup():
            per = KLL.kll_double_sketch_build(rollup, ["g"], "x").withColumn("c", coarse)
            merged = KLL.kll_sketch_merge(per, ["c"], "sketch")
            return merged.select("c", KLL.kll_sketch_get_quantiles(F.col("sketch"), ranks).alias("q")).collect()

        def fi_heavy_hitters():
            sk = FI.frequent_strings_sketch_build(scan, [], self.FI_LG_K, "s")
            res = FI.frequent_strings_sketch_result_no_false_negatives(F.col("sketch"), threshold)
            return {r["str"] for r in FI.explode_result(sk, res).collect()}

        def check_kll_rollup(rows):
            errs, failures = [], []
            if len(rows) != inputs.ROLLUP_COARSE:
                failures.append(f"kll rollup returned {len(rows)} groups")
            for r in rows:
                err, f = checks.rank_error(f"kll rollup c={r['c']}", r["q"], ranks,
                                           ex["coarse_sorted_x"][r["c"]])
                errs.append(err)
                failures += f
            return max(errs, default=0.0), failures

        return {
            "functions.theta.distinct": (
                lambda: first(TH.theta_sketch_distinct(scan, [], "id"), "distinct_est"),
                lambda est: checks.distinct_error("theta", est, ex["scan_distinct"], checks.THETA_RSE),
            ),
            "functions.cpc.distinct": (
                lambda: first(CPC.cpc_sketch_distinct(scan, [], "id"), "distinct_est"),
                lambda est: checks.distinct_error("cpc", est, ex["scan_distinct"], checks.CPC_RSE),
            ),
            "functions.hll.native_distinct": (
                lambda: first(scan.agg(F.hll_sketch_estimate(F.hll_sketch_agg("id", F.lit(12))).alias("d")), "d"),
                lambda est: checks.distinct_error("hll", est, ex["scan_distinct"], checks.HLL_RSE),
            ),
            "functions.kll.quantile": (
                kll_quantile,
                lambda q: checks.rank_error("kll", q, ranks, ex["scan_sorted_x"]),
            ),
            "functions.fi.heavy_hitters": (
                fi_heavy_hitters,
                lambda reported: checks.heavy_hitters(reported, ex["zipf_counts"], threshold),
            ),
            "functions.theta.rollup": (
                theta_rollup,
                lambda rows: self._grouped_distinct("theta rollup", rows, "c", ex["coarse_distinct"],
                                                    checks.THETA_RSE),
            ),
            "functions.kll.rollup": (kll_rollup, check_kll_rollup),
            "functions.cpc.grouped_distinct": (
                lambda: CPC.cpc_sketch_distinct(rollup, ["g"], "v").withColumnRenamed("distinct_est", "e").collect(),
                lambda rows: self._grouped_distinct("cpc grouped", rows, "g", ex["group_distinct"],
                                                    checks.CPC_RSE),
            ),
        }

    @staticmethod
    def _grouped_distinct(name, rows, key, exact: dict, rse: float):
        failures = []
        if len(rows) != len(exact):
            failures.append(f"{name}: {len(rows)} groups, expected {len(exact)}")
        errs = []
        for r in rows:
            err, f = checks.distinct_error(f"{name} {key}={r[key]}", r["e"], exact[r[key]], rse)
            errs.append(err)
            failures += f
        return max(errs, default=0.0), failures

    def run_pass(self, warmup: bool = False) -> dict:
        """One pass: every query, then every check. The warm-up pass runs
        the queries over the one-row-per-file tables instead (plans, code
        generation and Python-worker imports warm up; no check applies)."""
        queries = self.tiny_queries if warmup else self.queries
        results, failures = {}, {}
        with Timer() as timer:
            for name in self.STAGES:
                try:
                    with self.tracer.span(name):
                        results[name] = queries[name][0]()
                except Exception as exc:  # a failed query counts; the pass goes on
                    failures[name] = [f"raised {exc!r}"]
        quality = {}
        for name, result in results.items():
            if not warmup:
                quality[name], failures[name] = queries[name][1](result)
        # recall: share of the true heavy hitters the FI query reported
        quality["recall"] = quality.get("functions.fi.heavy_hitters", 0.0)
        messages = [f"{n}: {m}" for n, f in failures.items() for m in f]
        return timer.result(attempted=len(self.STAGES), failed=sum(bool(f) for f in failures.values()),
                            messages=messages, quality=quality)

    def traced_extras(self) -> tuple[dict, int, list[str]]:
        """Times every query over one-row-per-file copies of the tables
        (same files, same plan, same number of tasks): the per-query cost
        that does not scale with rows."""
        for name in self.STAGES:
            t0 = time.time()
            self.tiny_queries[name][0]()
            self.fixed_s[name] = time.time() - t0
        return {}, 0, []

    def layer_metrics(self, spans: list[dict], groups: dict, passes: list[dict],
                      kernels: dict) -> dict:
        per_pass: dict[str, list[float]] = {}

        def add(key, value):
            per_pass.setdefault(key, []).append(value)

        for tp in passes:
            p, q = tp["id"], tp["quality"]
            for key, names in (("check.distinct_rel_err_max", self.DISTINCT_QUERIES),
                               ("check.rank_err_max", self.RANK_QUERIES)):
                add(key, max(q[n] for n in names))
            ss = {s["name"]: s for s in spans if s["pass"] == p}
            dur = {n: s["end"] - s["start"] for n, s in ss.items()}
            for name, d in dur.items():
                add(name + "_s", d)
            for table, names in (("scan", self.SCAN_QUERIES), ("rollup", self.ROLLUP_QUERIES)):
                add(f"functions.{table}.fixed_share",
                    sum(self.fixed_s[n] for n in names) / sum(dur[n] for n in names))
            for name, kernel in self.KERNELS.items():
                if kernel.endswith("_ns_per_value"):
                    kernel_s = kernels[kernel] * 1e-9 * inputs.SCAN_ROWS
                else:
                    kernel_s = kernels[kernel] * 1e-6 * inputs.rollup_kernel_calls()
                add(name + ".kernel_share", kernel_s / dur[name])
            partial = final = shuffle = py_cpu = 0.0
            for name in self.AGG_QUERIES:
                py_cpu += ss[name]["py_cpu_s"]
                g = groups.get(f"{p}:{name}") or tracing.empty_group()
                shuffle += g["shuffle_write_bytes"]
                for st in g["stages"].values():
                    # map side (mapInPandas partial) writes shuffle and reads
                    # none; a stage reading the state shuffle runs the merge
                    if st["shuffle_read"]:
                        final += st.get("wall_s", 0.0)
                    elif st["shuffle_write"]:
                        partial += st.get("wall_s", 0.0)
            for k, v in (("partial_s", partial), ("final_s", final),
                         ("state_shuffle_bytes", shuffle), ("py_cpu_s", py_cpu)):
                add("operators.agg." + k, v)
        return {k: _median(v) for k, v in per_pass.items()}


WORKLOADS = {w.name: w for w in (DedupFull, Sketch)}
