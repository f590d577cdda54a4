"""Benchmark-side tracing: spans around calls into the program's layers,
Spark counters from an event log, and Python-worker CPU and memory from
``/proc``.

Nothing here changes package code. Spans come from wrapping the dedup
pipeline's stage runner, lineage pass and metrics flush, and from ``span()``
blocks around the sketch queries; each span sets a Spark job
group named after itself, so the event log can attribute every job, stage
and task to the span that caused it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---- /proc ---------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root_pid: int | None = None) -> list[int]:
    """This process and every process below it: the driver, the JVM and
    the Python workers."""
    root_pid = root_pid or os.getpid()
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children[int(fields[1])].append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def python_workers(root_pid: int | None = None) -> list[int]:
    """PIDs of the Python processes below this driver: the PySpark worker
    daemon and the workers it forks."""
    root_pid = root_pid or os.getpid()
    out = []
    for pid in descendants(root_pid):
        if pid == root_pid:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    out.append(pid)
        except OSError:
            pass
    return out


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def cpu_s(pids: list[int]) -> float:
    """User + system CPU of the given processes and their reaped children."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def worker_peak_rss_mb(pids: list[int]) -> float:
    peak = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return peak / 1024


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's VmHWM from its current RSS (clear_refs 5), so
    the peak covers only the timed passes, not set-up."""
    for pid in pids:
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")


# ---- spans ---------------------------------------------------------------


class Tracer:
    """Records spans (name, start, end, Python-worker CPU) and tags the Spark
    jobs inside each with a job group ``<pass>:<name>``. Between
    ``install()`` and ``uninstall()`` it is enabled; otherwise every call is
    a no-op, so untraced passes run the same benchmark code."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self.pass_id = "setup"
        self._restore: list[tuple[object, str, object]] = []

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.pass_id}:{name}", name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._group(name)
        cpu0 = cpu_s(python_workers())
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.spans.append(
                {
                    "pass": self.pass_id,
                    "name": name,
                    "start": t0,
                    "end": t1,
                    "py_cpu_s": cpu_s(python_workers()) - cpu0,
                }
            )
            self._group("other")

    def install(self) -> None:
        """Wrap the dedup pipeline's stage runner (one span per stage: the
        stage's own eager jobs plus its checkpoint write through
        ``sources.io.CheckpointStore.write``), its lineage pass and its
        metrics flush."""
        self.enabled = True
        from datasketches_postgresql_spark.dedup.pipeline import DedupPipeline

        tracer = self
        stage, lineage, flush = (
            DedupPipeline._stage, DedupPipeline._lineage_pass, DedupPipeline._flush_metrics
        )

        def traced_stage(pipe, name, fn, resume):
            with tracer.span(name):
                out = stage(pipe, name, fn, resume)
            info = pipe.store.stage_info(name) or {}
            tracer.spans[-1]["rows"] = int(info.get("rows", 0))
            tracer.spans[-1]["bytes"] = _dir_bytes(os.path.join(pipe.store.base_dir, name))
            return out

        def traced_lineage(*args, **kwargs):
            with tracer.span("lineage"):
                return lineage(*args, **kwargs)

        def traced_flush(*args, **kwargs):
            with tracer.span("metrics_flush"):
                return flush(*args, **kwargs)

        self._restore = [
            (DedupPipeline, "_stage", stage),
            (DedupPipeline, "_lineage_pass", lineage),
            (DedupPipeline, "_flush_metrics", flush),
        ]
        DedupPipeline._stage = traced_stage
        DedupPipeline._lineage_pass = traced_lineage
        DedupPipeline._flush_metrics = traced_flush

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, original in self._restore:
            setattr(owner, attr, original)
        self._restore = []


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.parquet")))


# ---- event log -----------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def empty_group() -> dict:
    return {
        "jobs": {},
        "jvm_cpu_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "stages": defaultdict(lambda: {"tasks": [], "shuffle_read": 0, "shuffle_write": 0}),
    }


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, their [submit, complete] intervals, summed task
    CPU, shuffle-write and spill bytes, and each stage's task durations and
    wall interval plus whether it read or wrote shuffle data."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(empty_group)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                job_group[ev["Job ID"]] = group
                groups[group]["jobs"][ev["Job ID"]] = [ev["Submission Time"] / 1000, None]
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                groups[job_group[ev["Job ID"]]]["jobs"][ev["Job ID"]][1] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "none")]
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                sw = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                g["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["shuffle_write_bytes"] += sw
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st = g["stages"][ev["Stage ID"]]
                st["tasks"].append((info["Finish Time"] - info["Launch Time"]) / 1000)
                st["shuffle_write"] += sw
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = groups[stage_group.get(info["Stage ID"], "none")]
                st = g["stages"][info["Stage ID"]]
                st["wall_s"] = (info["Completion Time"] - info["Submission Time"]) / 1000
    return groups


def task_skew(group: dict) -> float:
    """Max ÷ median task time in the group's busiest stage (1.0 when that
    stage ran a single task)."""
    stages = [s for s in group["stages"].values() if s["tasks"]]
    if not stages:
        return 1.0
    busiest = max(stages, key=lambda s: sum(s["tasks"]))
    med = statistics.median(busiest["tasks"])
    return max(busiest["tasks"]) / med if med > 0 else 1.0


def jobs_covered_s(group: dict, start: float, end: float) -> float:
    """Seconds of [start, end] covered by the union of the group's Spark job
    intervals: the span's time spent waiting on Spark, so the span minus
    this is its driver-side self time."""
    ivs = sorted(
        (max(a, start), min(b if b is not None else end, end))
        for a, b in group["jobs"].values()
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered
