"""Measurement plumbing: spans, process-tree CPU, Spark counts, event logs,
host facts.

Nothing here changes what the program computes. Spans are recorded around
calls into the program's public functions (see ``Tracer.wrap``); Spark work
is attributed to a span through the job group the span sets while it is
open; task metrics come from Spark's own event log, switched on through
configuration passed in the environment.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# /proc: CPU seconds and peak RSS of this process tree (this process, the JVM,
# the Python workers the JVM forks)
# --------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2 :].split()
        # fields after "(comm)": state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14)
        ticks = sum(int(x) for x in rest[11:15])
        out[int(d)] = (int(rest[1]), ticks / _CLK)
    return out


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    table = _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids() if p in table)


def worker_peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) among the Python processes the JVM forked."""
    peak = 0
    me = os.getpid()
    for pid in tree_pids():
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"python" not in cmd.split(b"\0", 1)[0]:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """Spans ``(name, start, end, parent, run_id)`` kept in memory.

    While a span is open its name is the Spark job group, so every Spark job
    started inside it is attributed to it. ``wrap`` replaces a module
    attribute with a version that opens a span, calls the original, and
    (optionally) materializes the returned DataFrame before closing the
    span, so each layer's work happens inside its own span.
    """

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.holds: list = []  # materialized DataFrames, freed by release()
        self.track_cpu = False  # record process-tree CPU seconds per span

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id,
               "group": f"{self.run_id}:{sid}:{name}"}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        cpu0 = tree_cpu_s() if self.track_cpu else 0.0
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["cpu"] = tree_cpu_s() - cpu0 if self.track_cpu else 0.0
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(top["group"], top["name"])
            else:
                self.sc.setJobGroup(f"{self.run_id}:idle", "idle")

    def wrap(self, owner, attr: str, name, materialize=None):
        """``name`` is a span name, or a function of (args, kwargs) giving one."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name(args, kwargs) if callable(name) else name):
                out = orig(*args, **kwargs)
                if materialize is not None:
                    out = materialize(tracer, out)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def release(self) -> None:
        for df in self.holds:
            df.unpersist()
        self.holds.clear()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name under ``root`` (root included)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        todo = [self.spans[root]]
        while todo:
            s = todo.pop()
            dur = s["end"] - s["start"]
            out[s["name"]] += dur - sum(c["end"] - c["start"] for c in kids[s["id"]])
            todo.extend(kids[s["id"]])
        return dict(out)


def materialize_df(tracer: Tracer, df):
    """Force a layer's output so its work is paid inside the layer's span."""
    m = df.localCheckpoint(eager=True)
    tracer.holds.append(m)
    return m


# --------------------------------------------------------------------------
# Spark job / stage / task counts under a job group
# --------------------------------------------------------------------------


def job_counts(sc, group: str) -> tuple[int, int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    ran = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return len(jobs), ran, tasks


# --------------------------------------------------------------------------
# Spark event log: per-job-group task metrics and SQL metrics
# --------------------------------------------------------------------------


def eventlog_conf(log_dir: str) -> list[str]:
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
    ]


def _udf_kind(simple: str) -> str:
    """Classify a MapInPandas node by the columns it receives."""
    args = simple.split("(", 1)[1].split(")", 1)[0]
    cols = {a.split("#")[0].strip() for a in args.split(",")}
    if "html" in cols:
        return "pages"  # decode, or the fused decode+pack+model UDF
    if "chunk_index" in cols:
        return "model"
    return "pack"


class EventLog:
    """Aggregates of one application's event log, keyed by job group."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.group_of_stage: dict[int, str] = {}
        self.group_of_exec: dict[int, str] = {}
        self.accs: dict[int, tuple[str, str]] = {}  # id -> (node kind, metric)
        # "data sent" acc id of each MapInPandas node -> (kind, input-rows acc ids)
        self.udf_nodes: dict[int, tuple[str, set[int]]] = {}
        self.tasks: list[dict] = []
        self.acc_updates: list[tuple[str, int, float]] = []  # (group, id, value)
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, p: dict) -> None:
        name = p["nodeName"]
        kind = _udf_kind(p.get("simpleString", "")) if name == "MapInPandas" else name
        for m in p["metrics"]:
            self.accs[m["accumulatorId"]] = (kind, m["name"])
        if name == "MapInPandas" and p["children"]:
            # a UDF node is identified by its "data sent" metric; its input
            # rows are the first child metric counting output rows
            sent = [m["accumulatorId"] for m in p["metrics"]
                    if m["name"] == "data sent to Python workers"]
            child = p["children"][0]
            while True:
                ids = [m["accumulatorId"] for m in child["metrics"]
                       if m["name"] == "number of output rows"]
                if ids or not child["children"]:
                    break
                child = child["children"][0]
            for s in sent:
                self.udf_nodes.setdefault(s, (kind, set()))[1].update(ids)
        for c in p["children"]:
            self._plan(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for s in e["Stage IDs"]:
                self.group_of_stage[s] = g
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            if kind.endswith("SQLExecutionStart"):
                self.group_of_exec[e["executionId"]] = e.get("jobGroupId")
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("DriverAccumUpdates"):
            g = self.group_of_exec.get(e["executionId"])
            for acc_id, v in e["accumUpdates"]:
                self.acc_updates.append((g, acc_id, v))
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            g = self.group_of_stage.get(e["Stage ID"])
            tm = e.get("Task Metrics") or {}
            self.tasks.append({
                "group": g,
                "stage": e["Stage ID"],
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "shuffle_w": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "shuffle_r": sum(
                    tm.get("Shuffle Read Metrics", {}).get(k, 0)
                    for k in ("Remote Bytes Read", "Local Bytes Read")
                ),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                "peak_mem": tm.get("Peak Execution Memory", 0),
                "out_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
            })
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":  # SQL metric updates are strings
                    self.acc_updates.append((g, a["ID"], float(a["Update"])))

    def summary(self, groups) -> dict:
        """Task and SQL metric totals over the job groups in ``groups``."""
        groups = set(groups)
        tasks = [t for t in self.tasks if t["group"] in groups]
        out = {
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_r"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "peak_exec_mem_mb": max((t["peak_mem"] for t in tasks), default=0) / 2**20,
            "output_bytes": sum(t["out_bytes"] for t in tasks),
        }
        by_stage = defaultdict(list)
        for t in tasks:
            by_stage[t["stage"]].append(t["dur_ms"])
        if by_stage:
            longest = max(by_stage.values(), key=sum)
            med = statistics.median(longest)
            out["task_skew"] = max(longest) / med if med > 0 else 1.0
        else:
            out["task_skew"] = 1.0
        sql = defaultdict(float)
        totals = defaultdict(float)
        for g, acc_id, v in self.acc_updates:
            if g in groups:
                totals[acc_id] += v
        for acc_id, v in totals.items():
            if acc_id in self.accs:
                node, metric = self.accs[acc_id]
                sql[f"{node}.{metric}"] += v
        passes = 0
        for sent, (kind, inputs) in self.udf_nodes.items():
            if totals.get(sent, 0) > 0:
                passes += kind == "pages"
                sql[f"udf_rows_in.{kind}"] += max(totals.get(i, 0) for i in inputs)
        out["sql"] = dict(sql)
        out["pages_udf_passes"] = passes
        return out


# --------------------------------------------------------------------------
# host facts and a short CPU / memory-bandwidth probe
# --------------------------------------------------------------------------


def cpu_probe_ns() -> float:
    """ns per iteration of a fixed pure-Python loop (single core)."""
    n = 300_000
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return (time.perf_counter() - t) / n * 1e9


def bandwidth_probe_gbs() -> float:
    """GB/s of a 64 MiB numpy copy, best of 3 (single core)."""
    import numpy as np

    a = np.ones(8 * 2**20)
    b = np.empty_like(a)
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t)
    return 2 * a.nbytes / best / 1e9


def source_id(root: str) -> str:
    """git sha when the checkout is a git repository, else a content hash
    of the program's sources."""
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(root, ".git", ref[5:])
            if os.path.exists(p):
                with open(p) as f:
                    return f.read().strip()
        else:
            return ref
    import hashlib

    h = hashlib.sha1()
    for f in sorted(glob.glob(os.path.join(root, "text_to_graph_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def host_facts(root: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem = {l.split(":")[0]: int(l.split()[1]) for l in f if l.split(":")[0] in ("MemTotal", "MemAvailable")}
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem["MemTotal"] / 2**20, 2),
        "mem_available_gb": round(mem["MemAvailable"] / 2**20, 2),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "source": source_id(root),
    }
