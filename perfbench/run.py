"""Benchmark of the text -> knowledge-graph DAG.

Run from the repository root:

    python3 perfbench/run.py --workload dup_tiles --seed 1 --seconds 20 --trace 0

Each run generates its workload's pages from ``--seed``, starts a Spark
session at ``local[<cores of this host - 1>]``, builds the oracle, and warms
up at full size. It then runs measured cycles, as many as fit about
``--seconds`` and at least three. A cycle restores a clean state, builds the
graph through the program's public API, checks it against the oracle, then
runs a viewer read round: point lookups and a 3-hop BFS on the written
tables, each answer checked. The last stdout line is one JSON
object ``{correct, attempted, failed, metrics}``; the line before it holds
the host facts, a CPU and memory-bandwidth probe, and the raw samples.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer ledger: one counted build (spans only set Spark job groups,
nothing is forced), a read round with every query kind, then builds in
which each layer's output is materialized inside its span, so layer
self-times add up to the traced wall. Task and SQL metrics come from
Spark's event log.

``--smoke`` runs tiny inputs; ``--self-test`` checks, without Spark, that the
checker accepts the oracle's own graph and rejects perturbed ones.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_PROC = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dup_tiles", "refresh_resume")
# Every run does the same fixed sequence, so the JVM is in the same state
# at each measured step. The unit of work is a cycle: restore a clean state,
# build, check, then one viewer read round (point lookups and one 3-hop
# BFS). Warm-up is WARM_CYCLES cycles with WARM_LOOKUPS lookups each (the
# refresh's base build at set-up already ran the staged code once, cold;
# dup_tiles' builds and reads were still getting faster after one warm
# cycle). Measured cycles follow: as many as fit --seconds at the nominal
# cycle time of a 4-core host, and at least MIN_CYCLES. Samples of each
# kind come from every measured cycle, so each median spans the whole
# measured window.
WARM_LOOKUPS = 4
WARM_CYCLES = {"dup_tiles": 2, "refresh_resume": 1}
NOMINAL_CYCLE_S = {"dup_tiles": 6.5, "refresh_resume": 11.0}
MIN_CYCLES = 3
LOOKUPS = 8  # point lookups per read round, then the READS queries
READS = ("bfs",)
TRACE_READS = ("degree", "bfs", "khop", "paths")
LAT_KINDS = ("lookup", "degree", "traversal")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "text_to_graph_spark", "pipeline.py")) or not (
        os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))
    ):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.self_test:
        import selftest

        return selftest.main(os.path.join(ROOT, ".perfbench_work"))
    if not args.workload:
        ap.error("--workload is required")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return Run(args, work).main()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _env(work: str, trace: bool) -> int:
    """Everything Spark and its workers need, passed in the environment:
    host-derived parallelism, scratch space inside ``work``, the event log.

    Spark gets one task slot fewer than the host has cores: the driver
    thread, the JIT and GC threads and the Python driver need a core of
    their own. With a slot on every core of a 4-core host the same build
    was slower and its time spread wider from run to run."""
    cores = max(len(os.sched_getaffinity(0)) - 1, 1)
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import ledger

    conf = ["--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp"]
    if trace:
        conf += ledger.eventlog_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    return cores


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    # a zombie child still answers signal 0; reap it if it is ours
    with contextlib.suppress(ChildProcessError):
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    return True


def _pct(xs, q):
    import numpy as np

    return float(np.percentile(xs, q)) if xs else float("nan")


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "smoke": args.smoke}

    # ------------------------------------------------------------ helpers

    def op(self, fn, *a, **kw) -> int:
        """Run one checked operation; returns its mismatch count (1 if it
        raised)."""
        self.attempted += 1
        try:
            bad = int(fn(*a, **kw))
        except Exception:
            traceback.print_exc()
            bad = 1
        self.failed += bad > 0
        return bad

    def reads(self, i: int, n_lookups: int, kinds, span, lat) -> None:
        before = len(lat["lookup"]) + len(lat["degree"]) + len(lat["traversal"])
        try:
            bad = self.wl.read_round(i, n_lookups, kinds, span, lat)
        except Exception:
            traceback.print_exc()
            bad = 1
        n = max(len(lat["lookup"]) + len(lat["degree"]) + len(lat["traversal"]) - before, 1)
        self.attempted += n
        self.failed += min(bad, n)

    # ------------------------------------------------------------ main

    def main(self) -> int:
        a = self.args
        cores = _env(self.work, bool(a.trace))
        import ledger
        import workloads

        self.record["load_before"] = os.getloadavg()
        self.record["probe_before"] = {"cpu_ns": ledger.cpu_probe_ns(),
                                       "bw_gbs": ledger.bandwidth_probe_gbs()}
        from text_to_graph_spark.session import get_spark

        t0 = time.monotonic()
        try:
            self.spark = get_spark(app_name=f"perfbench-{a.workload}")
            self.sc = self.spark.sparkContext
            session_s = time.monotonic() - t0
            self.wl = workloads.Workload(a.workload, self.spark, self.work, a.seed,
                                         a.smoke, n_files=cores)
            setup = self.wl.setup()
            t_warm = time.monotonic()
            # warm-up at full size (see the note on cycles above)
            self.warm = {"wall_s": [], "cpu_s": [], **{k: [] for k in LAT_KINDS}}
            for i in range(WARM_CYCLES[a.workload]):
                self.cycle(-1 - i, self.warm, WARM_LOOKUPS)
            self.record["warm_samples"] = self.warm
            setup.update(session_s=session_s, warmup_s=time.monotonic() - t_warm)
            self.setup_s = time.monotonic() - T_PROC
            self.record["setup"] = setup
            metrics = self.ledger() if a.trace else self.end_to_end()
        finally:
            self.stop()
        self.record["load_after"] = os.getloadavg()
        self.record["probe_after"] = {"cpu_ns": ledger.cpu_probe_ns(),
                                      "bw_gbs": ledger.bandwidth_probe_gbs()}
        self.record["host"] = ledger.host_facts(ROOT)
        if a.trace:
            metrics.update(self.ledger_from_eventlog())
        print(json.dumps({"record": self.record}, default=float))
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0

    def stop(self) -> None:
        """Stop Spark, then wait until the JVM and every process under it
        (the Python workers it forked) have exited; kill any still alive
        after 30 s."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        import ledger

        started = ledger.tree_pids()[1:]
        gw = SparkContext._gateway
        if gw is not None:
            if (s := SparkSession.getActiveSession()) is not None:
                s.stop()
            gw.shutdown()
            if (proc := getattr(gw, "proc", None)) is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        for sig in (None, signal.SIGKILL):
            alive = [p for p in started + ledger.tree_pids()[1:] if _alive(p)]
            for pid in alive if sig else ():
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 30
            while alive and time.monotonic() < deadline:
                time.sleep(0.1)
                alive = [p for p in alive if _alive(p)]
            if not alive:
                return

    def build_once(self) -> tuple[float, float]:
        """Restore a clean state, build, check; returns (wall s, tree CPU s)
        of the build alone."""
        import ledger

        self.wl.prepare()
        c0 = ledger.tree_cpu_s()
        t = time.perf_counter()
        self.wl.build()
        wall = time.perf_counter() - t
        cpu = ledger.tree_cpu_s() - c0
        self.op(self.wl.check_build)
        return wall, cpu

    def cycle(self, i: int, samples: dict, lookups: int = LOOKUPS) -> None:
        """One build and one read round; appends to ``samples``."""
        import workloads

        wall, cpu = self.build_once()
        samples["wall_s"].append(wall)
        samples["cpu_s"].append(cpu)
        self.reads(i, lookups, READS, workloads.nospan, samples)

    def n_cycles(self) -> int:
        """Measured cycles for a window of ``--seconds``."""
        return max(round(self.args.seconds / NOMINAL_CYCLE_S[self.args.workload]), MIN_CYCLES)

    # ------------------------------------------------------------ trace 0

    def end_to_end(self) -> dict:
        samples = {"wall_s": [], "cpu_s": [], **{k: [] for k in LAT_KINDS}}
        t = time.monotonic()
        for i in range(self.n_cycles()):
            self.cycle(i, samples)
        self.record["measured_s"] = time.monotonic() - t
        self.record["samples"] = samples
        wall = statistics.median(samples["wall_s"])
        return {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (wall, "s"),
            "triples_per_s": (self.wl.triples_extracted / wall, "triples/s"),
            "cpu_s": (statistics.median(samples["cpu_s"]), "s"),
            "lookup_p50_ms": (_pct(samples["lookup"], 50), "ms"),
            "traversal_p50_ms": (_pct(samples["traversal"], 50), "ms"),
        }

    # ------------------------------------------------------------ trace 1

    def _wrap_layers(self, tracer, materialize) -> None:
        import ledger
        from text_to_graph_spark import pipeline
        from text_to_graph_spark.operators import extraction
        from text_to_graph_spark.sources.checkpoint import StageCheckpoint

        m = ledger.materialize_df if materialize else None
        w = tracer.wrap
        w(extraction, "extract_triples_from_pages", "extraction.fused", m)
        w(pipeline, "extract_text", "extraction.decode", m)
        w(pipeline, "chunk_pages", "chunking.pack", m)
        w(pipeline, "extract_triples", "extraction.model", m)
        w(pipeline, "triples_to_canonical_edges", "canonicalize.edges", m)
        w(pipeline, "triples_to_canonical_nodes", "canonicalize.nodes", m)
        w(StageCheckpoint, "resume", lambda a, k: f"checkpoint.resume.{a[2]}")
        w(StageCheckpoint, "write", "checkpoint.write")
        w(StageCheckpoint, "_record_metrics", "checkpoint.record_metrics")

    def ledger(self) -> dict:
        import ledger

        wl = self.wl
        tr = self.tracer = ledger.Tracer(self.sc, f"s{self.args.seed}")
        out: dict = {}

        # 1. counted build: spans only set job groups, nothing is forced
        self._wrap_layers(tr, materialize=False)
        wl.prepare()
        with tr.span("count") as root:
            wl.build(tr)
        tr.unwrap()
        self.count_root = root["id"]
        untraced_wall = root["end"] - root["start"]
        out["mem.jvm_heap_used_mb"] = (self._jvm_heap_mb(), "MB")
        self.op(wl.check_build)
        lat = {k: [] for k in LAT_KINDS}
        with tr.span("reads") as rroot:
            self.reads(0, LOOKUPS, TRACE_READS, tr.span, lat)
        self.reads_root = rroot["id"]
        jobs = lambda root, prefix="": sum(
            ledger.job_counts(self.sc, g)[0] for g in self._groups(root, prefix))
        per_group = [ledger.job_counts(self.sc, g) for g in self._groups(self.count_root)]
        self.counts = {k: sum(c[i] for c in per_group)
                       for i, k in enumerate(("jobs", "stages", "tasks"))}
        self.ck_jobs = jobs(self.count_root, "checkpoint.")
        n_trav = len(lat["traversal"])
        self.traversal_jobs = jobs(self.reads_root, "components.") / max(n_trav, 1)

        # 2. traced builds: every layer's output materialized in its span
        tr.track_cpu = True
        self._wrap_layers(tr, materialize=True)
        roots = []
        for _ in range(self.n_cycles()):
            wl.prepare()
            with tr.span("traced") as troot:
                wl.build(tr, ledger.materialize_df)
            roots.append(troot["id"])
            self.op(wl.check_build)
            tr.release()
        tr.unwrap()
        self.traced_roots = roots
        if wl.name != "refresh_resume":
            with tr.span("staged") as sroot:
                wl.staged_breakdown(tr, ledger.materialize_df)
            tr.release()
            self.staged_root = sroot["id"]
        else:
            self.staged_root = None

        selfs = [tr.self_times(r) for r in roots]
        med = lambda name: statistics.median(s.get(name, 0.0) for s in selfs)
        walls = [tr.spans[r]["end"] - tr.spans[r]["start"] for r in roots]
        traced_wall = statistics.median(walls)
        root_self = statistics.median(s["traced"] for s in selfs)
        e = wl.expected
        layer = lambda n: med(n) if wl.name == "refresh_resume" else self._staged(n)
        out.update({
            "pages.scan_s": (med("pages.scan"), "s"),
            "pages.rows": (e.n_pages, "count"),
            "pages.html_bytes": (wl.html_bytes, "bytes"),
            "pipeline.compose_s": (med("pipeline"), "s"),
            "extraction.fused_s": (med("extraction.fused"), "s"),
            "extraction.decode_s": (layer("extraction.decode"), "s"),
            "extraction.model_s": (layer("extraction.model"), "s"),
            "extraction.triples_out": (wl.triples_extracted, "count"),
            "extraction.decode_null_rows": (e.decode_null_rows, "count"),
            "chunking.pack_s": (layer("chunking.pack"), "s"),
            "chunking.chunks_out": (e.n_chunks, "count"),
            "chunking.chunks_per_page": (e.n_chunks / e.n_pages, "ratio"),
            "canonicalize.edges_s": (med("canonicalize.edges"), "s"),
            "canonicalize.nodes_s": (med("canonicalize.nodes"), "s"),
            "canonicalize.edge_keys": (len(e.edge_rows), "count"),
            "canonicalize.node_keys": (len(e.node_rows), "count"),
            "canonicalize.occurrences_per_key": (e.n_triples / max(len(e.edge_rows), 1), "ratio"),
            "checkpoint.resume_s": (sum(med(f"checkpoint.resume.{s}") for s in ("extracted", "chunks", "triples")), "s"),
            "checkpoint.resume.extracted_s": (med("checkpoint.resume.extracted"), "s"),
            "checkpoint.resume.chunks_s": (med("checkpoint.resume.chunks"), "s"),
            "checkpoint.resume.triples_s": (med("checkpoint.resume.triples"), "s"),
            "checkpoint.write_s": (med("checkpoint.write"), "s"),
            "checkpoint.record_metrics_s": (med("checkpoint.record_metrics"), "s"),
            "sink.write_s": (med("sink.write"), "s"),
            "graph_tables.lookup_ms": (_pct(lat["lookup"], 50), "ms"),
            "graphq.degree_ms": (_pct(lat["degree"], 50), "ms"),
            "trace.wall_s": (traced_wall, "s"),
            "trace.layer_sum_share": (1 - root_self / traced_wall, "ratio"),
            "trace.overhead_s": (traced_wall - untraced_wall, "s"),
            "kit.decode_core_s": (e.kit["decode_core_s"], "s"),
            "kit.pack_core_s": (e.kit["pack_core_s"], "s"),
            "kit.model_core_s": (e.kit["model_core_s"], "s"),
            "session.start_s": (self.record["setup"]["session_s"], "s"),
            "setup.gen_s": (self.record["setup"]["gen_s"], "s"),
            "setup.oracle_s": (self.record["setup"]["oracle_s"], "s"),
            "setup.warmup_s": (self.record["setup"]["warmup_s"], "s"),
        })
        for kind, span in (("bfs", "components.bfs"), ("khop", "components.khop"),
                           ("paths", "components.paths")):
            ts = [s for s in tr.spans if s["name"] == span]
            out[f"components.{kind}_ms"] = (
                statistics.median((s["end"] - s["start"]) * 1e3 for s in ts), "ms")
        # extraction CPU over the whole process tree vs the per-core floor
        cpu_names = ("extraction.fused",) if wl.name != "refresh_resume" else (
            "extraction.decode", "chunking.pack", "extraction.model")
        spark_cpu = statistics.median(
            sum(s["cpu"] for s in tr.spans if s["name"] in cpu_names and self._under(s, r))
            for r in roots
        )
        kit_total = sum(e.kit.values())
        if wl.name == "refresh_resume":
            kit_total *= (e.n_pages - wl.size["pages"]) / e.n_pages
        out["kit.floor_ratio"] = (spark_cpu / kit_total, "ratio")
        out["mem.py_worker_peak_rss_mb"] = (ledger.worker_peak_rss_mb(), "MB")
        return out

    def _staged(self, name: str) -> float:
        tr = self.tracer
        return sum(s["end"] - s["start"] for s in tr.spans
                   if s["name"] == name and self._under(s, self.staged_root))

    def _under(self, s: dict, root: int) -> bool:
        while s["parent"] is not None:
            if s["parent"] == root:
                return True
            s = self.tracer.spans[s["parent"]]
        return s["id"] == root

    def _groups(self, root: int, prefix: str = "") -> list[str]:
        return [s["group"] for s in self.tracer.spans
                if self._under(s, root) and s["name"].startswith(prefix)]

    def _jvm_heap_mb(self) -> float:
        rt = self.spark._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def ledger_from_eventlog(self) -> dict:
        """Per-layer counts and task metrics (needs the stopped session's
        complete event log); job counts came from the status tracker."""
        import ledger

        log = ledger.EventLog(os.path.join(self.work, "eventlog"))
        cnt = self.count_root
        allg = self._groups(cnt)
        s = log.summary(allg)
        sql = s["sql"]
        ck = log.summary(self._groups(cnt, "checkpoint."))
        sink = log.summary(self._groups(cnt, "sink."))
        canon = log.summary([g for r in self.traced_roots[:1] for g in self._groups(r, "canonicalize.")])
        look = log.summary(self._groups(self.reads_root, "graph_tables.lookup"))
        pages_rows = self.wl.expected.n_pages
        py = lambda what: sum(v for k, v in sql.items() if k.endswith(what))
        ins = "Execute InsertIntoHadoopFsRelationCommand"
        n_lookups = sum(1 for t in self.tracer.spans if t["name"] == "graph_tables.lookup")
        return {
            **{f"pipeline.{k}": (v, "count") for k, v in self.counts.items()},
            "pipeline.extraction_passes": (s["pages_udf_passes"], "count"),
            "extraction.py_rows_in": (sql.get("udf_rows_in.pages", 0), "count"),
            "extraction.py_bytes_sent": (py("data sent to Python workers"), "bytes"),
            "extraction.py_bytes_returned": (py("data returned from Python workers"), "bytes"),
            "canonicalize.shuffle_bytes": (canon["shuffle_write_bytes"], "bytes"),
            "canonicalize.spill_bytes": (canon["spill_bytes"], "bytes"),
            "canonicalize.peak_exec_mem_mb": (canon["peak_exec_mem_mb"], "MB"),
            "checkpoint.missing_ratio": (
                sql.get("udf_rows_in.pages", 0) / pages_rows if self.wl.name == "refresh_resume" else 0.0,
                "ratio"),
            "checkpoint.rows_appended": (
                sum(v for k, v in ck["sql"].items() if k == f"{ins}.number of output rows"), "count"),
            "checkpoint.jobs": (self.ck_jobs, "count"),
            "checkpoint.bytes_written": (ck["output_bytes"], "bytes"),
            "sink.files_written": (sink["sql"].get(f"{ins}.number of written files", 0), "count"),
            "sink.bytes_written": (sink["output_bytes"], "bytes"),
            "graph_tables.lookup_files_read": (
                sum(v for k, v in look["sql"].items()
                    if k.startswith("Scan parquet") and k.endswith(".number of files read")) / max(n_lookups, 1), "count"),
            "components.jobs_per_traversal": (self.traversal_jobs, "count"),
            "spark.executor_run_s": (s["executor_run_s"], "s"),
            "spark.executor_cpu_s": (s["executor_cpu_s"], "s"),
            "spark.gc_s": (s["gc_s"], "s"),
            "spark.shuffle_write_bytes": (s["shuffle_write_bytes"], "bytes"),
            "spark.shuffle_read_bytes": (s["shuffle_read_bytes"], "bytes"),
            "spark.task_skew": (s["task_skew"], "ratio"),
            "check.failed_share": (self.failed / self.attempted, "ratio"),
        }


if __name__ == "__main__":
    sys.exit(main())
