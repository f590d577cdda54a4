"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dedup_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts a ``local[<nproc>]`` Spark
session through ``session.get_spark``, builds the workload's inputs from the
seed (three times; set-up reports the median), runs one untimed warm-up pass,
then runs timed passes until ``--seconds`` have passed (and at least two) and
reports the median pass. Every pass is checked against exact answers; a
failed check makes the run exit 1 with ``"correct": false``.

``--trace 1`` prints the per-layer table instead of the end-to-end metrics.
The table covers every layer, so a traced run measures every workload:
the named one with untraced and traced twin passes for ``--seconds`` (the
tracing overhead), each other one with a single traced pass, then the
kernel micro-bench. Metric names and units come from ``BENCHMARK.json``;
see ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datasketches_postgresql_spark"

SETUP_REPS = 3
# A host under CPU steal can slow a pass past the whole window; two passes
# keep the median from resting on the one pass that still pays JIT warm-up.
MIN_PASSES = 2
# get_spark pre-touches the whole driver heap (8 GB by default). 4 GB holds
# every workload here with a short session start; at 2 GB, GC made the
# sketch passes vary by +-15% within one process.
DRIVER_MEM = "4g"
# Largest share of a traced pass that may lie in no span before the trace is
# counted as failed: the spans must account for the pass they time.
UNATTRIBUTED_MAX = 0.15


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, args, cores: int, work: str):
        self.args, self.cores, self.work = args, cores, work
        self.attempted = self.failed = 0
        self.messages: list[str] = []
        self.facts: dict = {}

    # -- session ---------------------------------------------------------------
    def start_spark(self):
        from datasketches_postgresql_spark.session import get_spark

        import tracing

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            conf.update(tracing.event_log_conf(os.path.join(self.work, "events")))
        spark = get_spark(
            f"perfbench-{self.args.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=max(2 * self.cores, 8),
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    @staticmethod
    def stop_spark(spark) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- passes ----------------------------------------------------------------
    def one_pass(self, wl, tracer, pass_id: str, warmup: bool = False) -> dict | None:
        tracer.pass_id = pass_id
        try:
            res = wl.run_pass(warmup)
        except Exception:
            self.attempted += 1
            self.fail(pass_id, traceback.format_exc())
            return None
        self.attempted += res["attempted"]
        self.failed += res["failed"]
        self.messages += [f"{pass_id}: {m}" for m in res["messages"]]
        res["id"] = pass_id
        return res

    def traced_pass(self, wl, tracer, pass_id: str) -> dict | None:
        tracer.install()
        try:
            return self.one_pass(wl, tracer, pass_id)
        finally:
            tracer.uninstall()

    def measure(self, wl, tracer, window: float, min_passes: int, twins: bool):
        """Passes until ``window`` seconds have passed and at least
        ``min_passes`` ran. With ``twins`` each untraced pass is followed by
        a traced twin, so both see the same warm-up state."""
        plain, traced, t0, i = [], [], time.time(), 0
        while i < min_passes or time.time() - t0 < window:
            res = self.one_pass(wl, tracer, f"{wl.name}.p{i}")
            if res is not None:
                plain.append(res)
            if twins:
                res = self.traced_pass(wl, tracer, f"{wl.name}.t{i}")
                if res is not None:
                    traced.append(res)
            i += 1
        return plain, traced

    def warm_up(self, wl, tracer) -> float:
        t = time.time()
        self.one_pass(wl, tracer, f"{wl.name}.warmup", warmup=True)
        return time.time() - t

    # -- the run ---------------------------------------------------------------
    def execute(self) -> dict:
        import tracing

        t0, steal0 = time.time(), tracing.host_steal_s()
        spark = self.start_spark()
        session_s = time.time() - t0
        tracer = tracing.Tracer(spark)
        try:
            if self.args.trace:
                traced = self.traced_run(spark, tracer)
            else:
                out = self.timed_run(spark, tracer, session_s)
            self.facts.update(session_facts(spark))
        finally:
            self.stop_spark(spark)
            steal = tracing.host_steal_s() - steal0
            log(f"host CPU steal {steal:.1f} s over {time.time() - t0:.1f} s of run "
                f"({steal / (self.cores * (time.time() - t0)):.1%} of {self.cores} CPUs)")
        return self.layer_table(tracer, *traced) if self.args.trace else out

    def timed_run(self, spark, tracer, session_s: float) -> dict:
        """The end-to-end metrics: set-up (median of SETUP_REPS input builds),
        then timed passes for ``--seconds``."""
        import tracing
        from workloads import WORKLOADS

        wl = WORKLOADS[self.args.workload](spark, self.work, self.args.seed, tracer)
        prep = []
        for rep in range(SETUP_REPS):
            t = time.time()
            wl.prepare(rep)
            prep.append(time.time() - t)
        warmup_s = self.warm_up(wl, tracer)
        out = {"setup_s": session_s + statistics.median(prep) + warmup_s}
        log(f"set-up: session {session_s:.2f} s, inputs "
            + ", ".join(f"{t:.2f}" for t in prep)
            + f" s (median taken), warm-up pass {warmup_s:.2f} s")
        tracing.reset_peak_rss(tracing.python_workers())
        passes, _ = self.measure(wl, tracer, self.args.seconds, MIN_PASSES, twins=False)
        if not passes:
            raise RuntimeError("no timed pass completed")
        log("timed passes (wall/cpu s): "
            + ", ".join(f"{p['wall']:.3f}/{p['cpu']:.2f}" for p in passes))
        out["py_worker_rss_mb"] = tracing.worker_peak_rss_mb(tracing.python_workers())
        out["job_s"] = statistics.median(p["wall"] for p in passes)
        out["job_cpu_s"] = statistics.median(p["cpu"] for p in passes)
        out["items_per_s"] = wl.items / out["job_s"]
        out["recall"] = statistics.median(p["quality"]["recall"] for p in passes)
        self.facts.update(wl.facts())
        return out

    def traced_run(self, spark, tracer):
        """The per-layer table covers every layer, so a traced run measures
        every workload: the named one with untraced/traced twins for
        ``--seconds`` (the tracing overhead), then each other workload with
        one traced pass. Each starts with one input build and an untimed
        warm-up pass; the extras (increment, Arrow boundary) run untraced."""
        from workloads import WORKLOADS

        order = [self.args.workload] + [n for n in WORKLOADS if n != self.args.workload]
        measured, extra = [], {}
        for name in order:
            t0 = time.time()
            wl = WORKLOADS[name](spark, self.work, self.args.seed, tracer)
            wl.prepare(0)
            log(f"{name}: inputs {time.time() - t0:.2f} s, warm-up pass {self.warm_up(wl, tracer):.2f} s")
            if name == self.args.workload:
                plain, traced = self.measure(wl, tracer, self.args.seconds, 1, twins=True)
                if not plain or not traced:
                    raise RuntimeError("no traced pass completed")
                log(f"{name} untraced/traced passes (wall s): "
                    + ", ".join(f"{p['wall']:.3f}" for p in plain) + " / "
                    + ", ".join(f"{p['wall']:.3f}" for p in traced))
                extra["trace.job_s"] = statistics.median(p["wall"] for p in traced)
                extra["trace.untraced_job_s"] = statistics.median(p["wall"] for p in plain)
                extra["trace.overhead_frac"] = extra["trace.job_s"] / extra["trace.untraced_job_s"] - 1
            else:
                res = self.traced_pass(wl, tracer, f"{name}.t0")
                traced = [res] if res is not None else []
            t0 = time.time()
            values, attempted, failures = wl.traced_extras()
            log(f"{name}: extras {time.time() - t0:.2f} s")
            extra.update(values)
            self.attempted += attempted
            for m in failures:
                self.fail(f"{name} extras", m)
            measured.append((wl, traced))
            self.facts.update(wl.facts())
        return measured, extra

    def layer_table(self, tracer, measured: list, extra: dict) -> dict:
        import kernels
        import tracing

        groups = tracing.parse_event_log(os.path.join(self.work, "events"))
        layers = dict(extra, **kernels.run(self.args.seed))
        for wl, traced in measured:
            unattributed = [self.check_spans(wl, p, tracer.spans) for p in traced]
            if wl.name == self.args.workload and unattributed:
                layers["trace.unattributed_frac"] = statistics.median(unattributed)
            # a pass that failed a check yields no per-layer figures; a metric
            # no pass measured makes the run fail rather than read as 0
            ok = [p for p in traced if not p["failed"]]
            if ok:
                layers.update(wl.layer_metrics(tracer.spans, groups, ok, layers))
        return layers

    def check_spans(self, wl, p: dict, spans: list[dict]) -> float:
        """The spans of a traced pass must account for it: every span the
        workload declares is there, no two overlap, and the wall time in no
        span stays under ``UNATTRIBUTED_MAX`` of the pass. Returns that
        share."""
        ss = sorted((s for s in spans if s["pass"] == p["id"]), key=lambda s: s["start"])
        missing = set(wl.SPANS) - {s["name"] for s in ss}
        if missing:
            self.fail(p["id"], f"no span for {sorted(missing)}")
        for a, b in zip(ss, ss[1:]):
            if b["start"] < a["end"]:
                self.fail(p["id"], f"spans {a['name']} and {b['name']} overlap")
        share = 1 - sum(s["end"] - s["start"] for s in ss) / p["wall"]
        if share > UNATTRIBUTED_MAX:
            self.fail(p["id"], f"{share:.1%} of the {p['wall']:.3f} s pass lies in no span "
                      f"(limit {UNATTRIBUTED_MAX:.0%})")
        return share

    def fail(self, where: str, message: str) -> None:
        self.failed += 1
        self.messages.append(f"{where}: {message}")


SESSION_KEYS = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.files.maxPartitionBytes",
)


def session_facts(spark) -> dict:
    import pyarrow

    facts = {"spark_version": spark.version, "pyarrow_version": pyarrow.__version__}
    facts.update({k: spark.conf.get(k, None) for k in SESSION_KEYS})
    return facts


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ package next to perfbench/ in {ROOT}; run from a full checkout")
        return 2
    spec = declared_metrics()
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; choose one of {sorted(names)}")
        return 2
    sys.path[:0] = [ROOT, HERE]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # keep the JVM's and Python's temporary files inside the checkout too
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    run = Run(args, cores, work)
    try:
        values = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
        for m in run.messages:
            log(m)
    table = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in table if m["name"] not in values]
    if missing:
        log(f"not measured, so no result: {', '.join(missing)}")
        return 1
    log("facts " + json.dumps(dict(run.facts, nproc=cores, seed=args.seed)))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in table},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
