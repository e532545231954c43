"""Benchmark worker: set up the engine, run one workload, write the result.

``perfbench/run.py`` starts this module in a fresh process (its own
session, so every JVM and Python-worker process it spawns can be found and
stopped) and reads the result file it writes.  The worker:

1. sets up: bytecode, SparkSession, ``registry.load_all()`` and the
   workload's warm-up passes over its queries; ``setup_s`` runs from the
   moment the process was launched until the warm-up is done;
2. computes the DuckDB oracle result of each query at the same fixture dir;
3. runs passes over the workload's query list with one client in a closed
   loop for ``--seconds``: per query it builds the DataFrame and
   materializes it with ``toPandas``; build and action are timed separately
   under two job groups; each timing is reported as per-query medians;
4. outside the timers, checks every result against its oracle result and,
   in traced passes, reads the status store, the SQL status store, a
   streaming-query listener and the resources the query left behind.

With ``--trace 1`` passes alternate untraced and traced; the per-layer
metrics come from the traced passes and the tracing overhead is the
difference between the traced and the untraced pass.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from py4j.protocol import Py4JJavaError

from workloads import WORKLOADS

QUERY_TIMEOUT_S = 100
# Unmeasured passes in set-up.  After one, the next pass still ran 20-40%
# slower than later ones on sql_curation (the JIT had yet to compile the
# driver's planning code); after two, the measured passes were level.
WARMUP_PASSES = 2
# A traced query's build + action agrees with its untraced latency when
# they differ by at most this share of the untraced latency or this many
# seconds, whichever is larger (single runs on a small host spread widely).
TRACE_TOL_REL = 0.5
TRACE_TOL_ABS_S = 0.5
# How long to wait, outside the timers, for the streaming listener's
# terminated events after a query returns.
LISTENER_WAIT_S = 3.0
MB = 1024.0 * 1024.0
# every span name the tracer records; each gets a summed self time
SPAN_NAMES = ("run", "setup", "ensure_bytecode", "build_session", "load_all", "warmup",
              "query", "build", "action", "check", "stage", "batch")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Tracer:
    """In-memory spans: id, parent, name, trace id, start and end (epoch s)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self._stack: list[dict] = []

    def _new(self, name: str, parent: dict | None, trace: str, start: float,
             end: float | None, attrs: dict) -> dict:
        rec = {"id": len(self.spans), "parent": parent["id"] if parent else None,
               "name": name, "trace": trace, "start": start, "end": end, **attrs}
        if self.enabled:
            self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        tid = trace or (parent["trace"] if parent else "run")
        rec = self._new(name, parent, tid, time.time(), None, attrs)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, parent: dict, start: float, end: float, **attrs) -> None:
        self._new(name, parent, parent["trace"], start, end, attrs)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: a span's duration minus the part
        of its interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    covered += 0.0 if cur_hi is None else cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


# --------------------------------------------------------------- catalog hooks

class CatalogCounter:
    """Counts and times fixture loads through ``load_table`` and
    ``load_table_compute``; a nested call (``load_table_compute`` calls
    ``load_table``) counts once."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self._depth = threading.local()

    def install(self) -> None:
        """Must run before ``registry.load_all``: the operator modules bind
        both functions at import."""
        from open_source_etl_spark import catalog

        catalog.load_table = self._wrap(catalog.load_table)
        catalog.load_table_compute = self._wrap(catalog.load_table_compute)

    def _wrap(self, fn):
        def counted(*args, **kwargs):
            depth = getattr(self._depth, "n", 0)
            self._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth.n = depth
                if depth == 0:
                    self.calls += 1
                    self.seconds += time.perf_counter() - t0

        counted.__wrapped__ = fn
        counted.__doc__ = fn.__doc__
        return counted


# ------------------------------------------------------------------- warm-up

def warm_up(spark, wl, sf_dir: str) -> None:
    """Touch every layer the workload uses: unmeasured passes over its
    queries scan its tables and spin up codegen, its shuffles, Python
    workers, streaming state runners and table writes."""
    from open_source_etl_spark.registry import all_queries

    fns = all_queries()
    for _ in range(WARMUP_PASSES):
        for name in wl.queries:
            fns[name](spark, sf_dir).toPandas()
            spark.catalog.clearCache()


# -------------------------------------------------------------- oracle check

class Oracle:
    """The registered DuckDB oracle of each query at the run's fixture dir,
    computed and canonicalized once, before the measured loop (so it does
    not eat into ``--seconds``), and compared with each result in hand."""

    def __init__(self, sf_dir: str, queries: tuple[str, ...]) -> None:
        from open_source_etl_spark.oracle import canonical_pdf, duckdb_connection
        from open_source_etl_spark.registry import all_oracles

        con = duckdb_connection(sf_dir)
        sql = all_oracles()
        self._expected: dict[str, tuple] = {}
        for name in queries:
            if name in sql:
                o_pdf = con.execute(sql[name]).df()
                self._expected[name] = (sorted(o_pdf.columns), len(o_pdf), canonical_pdf(o_pdf))
        con.close()

    def check(self, name: str, pdf) -> str | None:
        """None when the result matches, else the reason it does not."""
        from open_source_etl_spark.oracle import canonical_pdf

        if name not in self._expected:
            return None  # rows-only query: materializing it is the check
        cols, n_rows, rows = self._expected[name]
        if sorted(pdf.columns) != cols:
            return f"columns {sorted(pdf.columns)} != oracle {cols}"
        if len(pdf) != n_rows:
            return f"{len(pdf)} rows != oracle {n_rows}"
        try:
            got = canonical_pdf(pdf)
        except TypeError as exc:
            return f"canonicalization failed: {exc}"
        return None if got == rows else "values differ from oracle"


# ------------------------------------------------------------ status readers

_METRIC_RE = re.compile(r"(-?[\d.]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")
_STAGE_RE = re.compile(r"stage (\d+)\.\d+")
_UNIT_SCALE = {"B": 1 / MB, "KiB": 1 / 1024.0, "MiB": 1.0, "GiB": 1024.0,
               "TiB": 1024.0 ** 2, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PY_METRICS = {
    "data sent to Python workers": "python.data_sent_mb",
    "data returned from Python workers": "python.data_returned_mb",
    "time to initialize Python workers": "python.worker_init_s",
}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric, in MB or seconds."""
    body = text.split("\n", 1)[-1]
    m = _METRIC_RE.search(body)
    return float(m.group(1)) * _UNIT_SCALE[m.group(2)] if m else 0.0


class StatusReader:
    """Reads Spark's status tracker, status store and SQL status store."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.last_execution = self._max_execution_id()

    def stages(self, groups: list[str]) -> tuple[int, list[dict]]:
        """Job count and completed stages of the jobs in ``groups``."""
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        jobs = 0
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
        out = []
        for sid in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the store
            if str(sd.status()) not in ("COMPLETE", "FAILED"):
                continue  # skipped (shuffle reuse) or never started
            sub, comp = sd.submissionTime(), sd.completionTime()
            out.append({
                "stage": sid,
                "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "deserialize_s": sd.executorDeserializeTime() / 1e3,
                "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
                "shuffle_read_mb": sd.shuffleReadBytes() / MB,
                "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
                "spill_memory_mb": sd.memoryBytesSpilled() / MB,
                "spill_disk_mb": sd.diskBytesSpilled() / MB,
                "input_mb": sd.inputBytes() / MB,
                "input_rows": sd.inputRecords(),
                "output_mb": sd.outputBytes() / MB,
                "output_rows": sd.outputRecords(),
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1e3 if comp.isDefined() else None,
            })
        return jobs, out

    def _max_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        tail = self.sql_store.executionsList(n - 1, 1)
        return tail.apply(0).executionId()

    def python_metrics(self) -> dict[str, float]:
        """Python-worker SQL metrics of the executions since the last call.
        Each accumulator is counted once: AQE re-plans list the same
        accumulator under every plan version."""
        out = {v: 0.0 for v in PY_METRICS.values()}
        stages: set[int] = set()
        n = self.sql_store.executionsCount()
        k = 32
        while True:
            off = max(0, n - k)
            lst = self.sql_store.executionsList(off, n - off)
            execs = [lst.apply(i) for i in range(lst.size())]
            if off == 0 or not execs or execs[0].executionId() <= self.last_execution:
                break
            k *= 2
        seen: set[int] = set()
        for e in execs:
            eid = e.executionId()
            if eid <= self.last_execution:
                continue
            names = {}
            mdefs = e.metrics()
            for i in range(mdefs.size()):
                md = mdefs.apply(i)
                if md.name() in PY_METRICS:
                    names[md.accumulatorId()] = PY_METRICS[md.name()]
            if not names:
                continue
            values = self.sql_store.executionMetrics(eid)
            it = values.iterator()
            while it.hasNext():
                kv = it.next()
                acc = kv._1()
                if acc in names and acc not in seen:
                    seen.add(acc)
                    out[names[acc]] += _metric_total(kv._2())
                    if names[acc] == "python.data_sent_mb":
                        stages.update(int(s) for s in _STAGE_RE.findall(kv._2()))
        if execs:
            self.last_execution = max(self.last_execution, execs[-1].executionId())
        out["python.stages"] = float(len(stages))
        return out

    def resources(self, tmp_dir: str) -> dict[str, float]:
        jsc = self.sc._jsc
        mem = sum(r.memSize() for r in jsc.sc().getRDDStorageInfo())
        return {
            "resources.persisted_rdds": float(jsc.getPersistentRDDs().size()),
            "resources.storage_mem_mb": mem / MB,
            "resources.tmp_dirs": float(len(os.listdir(tmp_dir))),
            "resources.active_streams": float(len(self.spark.streams.active)),
        }


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        """Collects start times, per-batch progress and terminations."""

        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.started: dict[str, float] = {}
            self.terminated: set[str] = set()
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.started[str(event.runId)] = _iso_epoch(event.timestamp)

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            with self.lock:
                self.batches.append({
                    "run": str(p.runId),
                    "start": _iso_epoch(p.timestamp),
                    "duration": dict(p.durationMs or {}),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_mem": sum(o.memoryUsedBytes for o in ops),
                })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.terminated.add(str(event.runId))

        def drain(self) -> tuple[dict[str, float], list[dict]]:
            deadline = time.monotonic() + LISTENER_WAIT_S
            while time.monotonic() < deadline:
                with self.lock:
                    if set(self.started) <= self.terminated:
                        break
                time.sleep(0.02)
            with self.lock:
                started, batches = self.started, self.batches
                self.started, self.terminated, self.batches = {}, set(), []
            return started, batches

    return Listener()


# ------------------------------------------------------------------ the loop

class Runner:
    def __init__(self, spark, wl, sf_dir: str, tmp_dir: str, tracer: Tracer,
                 catalog: CatalogCounter) -> None:
        from open_source_etl_spark.registry import all_queries

        self.spark, self.wl, self.sf_dir, self.tmp_dir = spark, wl, sf_dir, tmp_dir
        self.tr, self.catalog = tracer, catalog
        self.fns = all_queries()
        self.oracle = Oracle(sf_dir, wl.queries)
        self.status = StatusReader(spark)
        self.listener = None
        self.n_run = 0

    def _materialize(self, name: str, tag: str, rec: dict):
        """Build and materialize one query under the watchdog, filling
        ``rec`` with its timings, spans and error; returns the result."""
        sc = self.spark.sparkContext
        groups = (f"perfbench-build-{tag}", f"perfbench-action-{tag}")
        done, cancelled = threading.Event(), threading.Event()

        def watchdog() -> None:
            if not done.wait(QUERY_TIMEOUT_S):
                cancelled.set()
                for g in groups:
                    sc.cancelJobGroup(g)

        threading.Thread(target=watchdog, daemon=True).start()
        try:
            t0 = time.perf_counter()
            with self.tr.span("build") as rec["build_span"]:
                sc.setJobGroup(groups[0], name, interruptOnCancel=True)
                df = self.fns[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            rec["build_s"] = t1 - t0
            with self.tr.span("action") as rec["action_span"]:
                sc.setJobGroup(groups[1], name, interruptOnCancel=True)
                pdf = df.toPandas()
            rec["action_s"] = time.perf_counter() - t1
            rec["latency_s"] = rec["build_s"] + rec["action_s"]
            return pdf
        except Exception as exc:
            why = f"timeout>{QUERY_TIMEOUT_S}s" if cancelled.is_set() else (
                f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}")
            rec["error"] = why[:300]
            return None
        finally:
            done.set()
            sc.setJobGroup("", "")

    def run_query(self, name: str, traced: bool) -> dict:
        self.n_run += 1
        tag = f"{self.n_run}-{name}"
        rec = {"name": name, "traced": traced, "error": None,
               "build_span": None, "action_span": None}
        if traced:
            before = self.status.resources(self.tmp_dir)
        cpu0 = session_cpu_s()
        with self.tr.span("query", trace=tag, query=name):
            pdf = self._materialize(name, tag, rec)
            rec["cpu_s"] = session_cpu_s() - cpu0
            if traced:
                rec["layers"] = self._layers(tag, before, rec["build_span"], rec["action_span"])
            with self.tr.span("check"):
                t0 = time.perf_counter()
                if rec["error"] is None:
                    rec["error"] = self.oracle.check(name, pdf)
                    rec["mismatch"] = rec["error"] is not None
                rec["check_s"] = time.perf_counter() - t0
        del rec["build_span"], rec["action_span"]
        # hygiene between queries, as bench.py does
        self.spark.catalog.clearCache()
        if rec["error"]:
            log(f"FAIL {name}: {rec['error']}")
        else:
            log(f"  {name:40s} build {rec['build_s']:6.2f}s action {rec['action_s']:6.2f}s")
        return rec

    def _layers(self, tag: str, before: dict, build_span, action_span) -> dict:
        """Per-layer record of one query, read after its action."""
        lay: dict[str, float] = {}
        after = self.status.resources(self.tmp_dir)
        for k, v in after.items():
            lay[k] = v if k == "resources.active_streams" else max(0.0, v - before[k])
        groups = {"build": [f"perfbench-build-{tag}"], "action": [f"perfbench-action-{tag}"]}
        started, batches = self.listener.drain() if self.listener else ({}, [])
        build_end = build_span["end"] if build_span else float("inf")
        for run_id, t_start in started.items():
            groups["build" if t_start < build_end else "action"].append(run_id)
        for phase, span in (("build", build_span), ("action", action_span)):
            jobs, stages = self.status.stages(groups[phase])
            lay[f"{phase}.jobs"] = float(jobs)
            lay[f"{phase}.stages"] = float(len(stages))
            for st in stages:
                for k, v in st.items():
                    if k not in ("stage", "start", "end"):
                        lay[f"{phase}.{k}"] = lay.get(f"{phase}.{k}", 0.0) + v
                if span is not None and st["start"] and st["end"]:
                    self.tr.add("stage", span, st["start"], st["end"], stage=st["stage"])
        lay.update(self.status.python_metrics())
        lay["streaming.queries"] = float(len(started))
        lay["streaming.batches"] = float(len(batches))
        for key, dur in (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                         ("wal_commit_s", "walCommit")):
            lay[f"streaming.{key}"] = sum(b["duration"].get(dur, 0) for b in batches) / 1e3
        last: dict[str, dict] = {}
        for b in batches:
            last[b["run"]] = b
            parent = build_span if (build_span and b["start"] < build_span["end"]) else action_span
            if parent is not None:
                end = b["start"] + b["duration"].get("triggerExecution", 0) / 1e3
                self.tr.add("batch", parent, b["start"], end, run=b["run"])
        lay["streaming.state_rows"] = float(sum(b["state_rows"] for b in last.values()))
        lay["streaming.state_mem_mb"] = sum(b["state_mem"] for b in last.values()) / MB
        return lay

    def run_pass(self, traced: bool, deadline: float | None = None) -> dict:
        """One pass over the query list; an untraced pass given a
        ``deadline`` (perf_counter) stops at the first query due after it."""
        if traced and self.listener is None:
            self.listener = make_listener()
            self.spark.streams.addListener(self.listener)
            self.status.python_metrics()  # skip executions of earlier passes
        self.catalog.calls, self.catalog.seconds = 0, 0.0
        recs = []
        for n in self.wl.queries:
            if not traced and deadline is not None and time.perf_counter() >= deadline:
                break
            recs.append(self.run_query(n, traced))
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None
        return {"traced": traced, "queries": recs,
                "catalog_calls": self.catalog.calls, "catalog_s": self.catalog.seconds}


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """User + system CPU seconds of the processes alive in this session
    (driver Python, the JVM, the Python workers) and of the children they
    have reaped (Python workers that exited).  Time the host steals from
    the VM is not counted."""
    sid, total = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            if os.getsid(int(pid)) != sid:
                continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime
        except (OSError, ValueError, IndexError):
            continue
    return total / _CLK_TCK


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of each process in this session (driver Python, the JVM
    and the Python worker processes still alive), keyed by pid:command."""
    sid, out = os.getsid(0), {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            if os.getsid(int(pid)) != sid:
                continue
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[f"{pid}:{comm}"] = int(line.split()[1]) / 1024.0
        except (OSError, ValueError):
            continue
    return out


def _pass_wall(p: dict) -> float:
    return sum(q.get("latency_s", 0.0) for q in p["queries"])


def _median_of(passes: list[dict], fn) -> float:
    return statistics.median(fn(p) for p in passes)


def _median_pass(passes: list[dict], key: str = "latency_s") -> float:
    """One pass as the sum of each query's median latency (or ``key``) over
    ``passes``: a query slowed by a burst of host load in one pass does not
    move it."""
    return sum(statistics.median(v) for v in _latencies(passes, key).values())


def _latencies(passes: list[dict], key: str = "latency_s") -> dict[str, list[float]]:
    """Each query's build + action latencies (or another per-query
    measurement) over ``passes``."""
    out: dict[str, list[float]] = {}
    for p in passes:
        for q in p["queries"]:
            if "latency_s" in q:
                out.setdefault(q["name"], []).append(q[key])
    return out


def layer_metrics(traced: list[dict], untraced: list[dict], setup: dict,
                  tracer: Tracer, cpus: int) -> dict[str, float]:
    """Per-layer metrics: each summed over one traced pass, then the
    median over traced passes."""

    def pass_sum(key):
        return lambda p: sum(q["layers"].get(key, 0.0) for q in p["queries"] if "layers" in q)

    def med(fn):
        return _median_of(traced, fn)

    m: dict[str, float] = dict(setup)
    m["catalog.load_calls"] = med(lambda p: float(p["catalog_calls"]))
    m["catalog.load_s"] = med(lambda p: p["catalog_s"])
    m["operators.build_s"] = med(lambda p: sum(q.get("build_s") or 0.0 for q in p["queries"]))
    m["operators.build_jobs"] = med(pass_sum("build.jobs"))
    m["operators.build_stages"] = med(pass_sum("build.stages"))
    m["spark.action_s"] = med(lambda p: sum(q.get("action_s") or 0.0 for q in p["queries"]))
    m["spark.action_jobs"] = med(pass_sum("action.jobs"))
    m["spark.action_stages"] = med(pass_sum("action.stages"))
    both = lambda key: (lambda p: pass_sum(f"build.{key}")(p) + pass_sum(f"action.{key}")(p))
    m["spark.tasks"] = med(both("tasks"))
    m["spark.slot_busy_frac"] = med(
        lambda p: pass_sum("action.run_s")(p)
        / max(1e-9, cpus * sum(q.get("action_s") or 0.0 for q in p["queries"])))
    for name, key in (("executor.run_s", "run_s"), ("executor.cpu_s", "cpu_s"),
                      ("executor.gc_s", "gc_s"), ("executor.deserialize_s", "deserialize_s"),
                      ("shuffle.write_mb", "shuffle_write_mb"),
                      ("shuffle.read_mb", "shuffle_read_mb"),
                      ("shuffle.fetch_wait_s", "fetch_wait_s"),
                      ("spill.memory_mb", "spill_memory_mb"), ("spill.disk_mb", "spill_disk_mb"),
                      ("scan.input_mb", "input_mb"), ("scan.input_rows", "input_rows"),
                      ("output.write_mb", "output_mb"), ("output.write_rows", "output_rows")):
        m[name] = med(both(key))
    m["executor.offcpu_s"] = max(0.0, m["executor.run_s"] - m["executor.cpu_s"] - m["executor.gc_s"])
    for key in ("python.stages", "python.data_sent_mb", "python.data_returned_mb",
                "python.worker_init_s", "streaming.queries", "streaming.batches",
                "streaming.trigger_s", "streaming.add_batch_s", "streaming.wal_commit_s",
                "streaming.state_rows", "streaming.state_mem_mb", "resources.persisted_rdds",
                "resources.storage_mem_mb", "resources.tmp_dirs", "resources.active_streams"):
        m[key] = med(pass_sum(key))
    # the SQL metric reconciles only when it fits inside executor run time
    m["python.worker_init_reconciles"] = float(m["python.worker_init_s"] <= m["executor.run_s"])
    m["oracle.check_s"] = med(lambda p: sum(q["check_s"] for q in p["queries"]))
    m["oracle.mismatches"] = med(lambda p: float(sum(bool(q.get("mismatch")) for q in p["queries"])))

    # tracing overhead and per-query agreement with the untraced latency
    m["trace.overhead_s"] = _median_pass(traced) - _median_pass(untraced)
    untraced_lat, traced_lat = _latencies(untraced), _latencies(traced)
    agree = 0
    for name, lats in traced_lat.items():
        ref = statistics.median(untraced_lat.get(name, [float("nan")]))
        got = statistics.median(lats)
        agree += abs(got - ref) <= max(TRACE_TOL_ABS_S, TRACE_TOL_REL * ref)
    m["trace.queries_agreeing"] = float(agree)
    m["trace.queries"] = float(len(traced_lat))
    self_s = tracer.self_times()
    for name in SPAN_NAMES:
        m[f"self.{name}_s"] = self_s.get(name, 0.0)
    return m


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--tmp-dir", required=True)
    ap.add_argument("--warehouse-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args(argv)
    t_launch = float(os.environ["PERFBENCH_T0"])
    wl = WORKLOADS[args.workload]
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    tr = Tracer()
    tr.enabled = bool(args.trace)
    setup: dict[str, float] = {}

    with tr.span("run", workload=wl.name):
        with tr.span("setup"):
            t = time.perf_counter()
            with tr.span("ensure_bytecode"):
                from open_source_etl_spark._precompile import ensure_bytecode

                ensure_bytecode()
            setup["precompile.ensure_bytecode_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with tr.span("build_session"):
                from open_source_etl_spark.conf import EngineConfig
                from open_source_etl_spark.session import build_session

                cfg = EngineConfig(
                    master=f"local[{cpus}]",
                    shuffle_partitions=max(cpus, 8),
                    warehouse_dir=args.warehouse_dir,
                    extra={
                        "spark.ui.showConsoleProgress": "false",
                        # a fixed, pre-touched driver heap: the JVM's
                        # high-water mark is then the heap plus what lives
                        # off it, not a trace of when G1 grew the heap
                        "spark.driver.extraJavaOptions":
                            f"-Xms{os.environ['OSETL_DRIVER_MEMORY']} -XX:+AlwaysPreTouch",
                    },
                )
                spark = build_session(cfg)
                spark.sparkContext.setLogLevel("ERROR")
            setup["session.build_session_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with tr.span("load_all"):
                catalog = CatalogCounter()
                catalog.install()
                from open_source_etl_spark import registry

                registry.load_all()
                # stream checkpoints go to the run's temp dir, not tmpfs,
                # so the run writes only inside its own tree
                from open_source_etl_spark.streaming import runner as _stream_runner

                _stream_runner._CHECKPOINT_BASE = args.tmp_dir
            setup["registry.load_all_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with tr.span("warmup"):
                warm_up(spark, wl, args.sf_dir)
            setup["session.warmup_s"] = time.perf_counter() - t
        setup_s = time.time() - t_launch
        log(f"setup {setup_s:.2f}s")

        runner = Runner(spark, wl, args.sf_dir, args.tmp_dir, tr, catalog)
        # Passes run until --seconds have passed.  The first pass (and, when
        # traced, the first two) run whole; later untraced passes stop at the
        # deadline, since every timing is a per-query median.
        passes: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        min_passes = 2 if args.trace else 1
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            tr.enabled = traced
            passes.append(runner.run_pass(
                traced, deadline if len(passes) >= min_passes else None))
            log(f"pass {len(passes)} ({'traced' if traced else 'untraced'}): "
                f"{len(passes[-1]['queries'])} queries, wall {_pass_wall(passes[-1]):.2f}s")
            if time.perf_counter() >= deadline and len(passes) >= min_passes:
                break
        if not passes[-1]["queries"]:
            passes.pop()
        hwm = peak_rss_mb()
        rss = sum(hwm.values())

    recs = [q for p in passes for q in p["queries"]]
    failed = sum(1 for q in recs if q["error"])
    untraced = [p for p in passes if not p["traced"]]
    q_medians = [statistics.median(v) for v in _latencies(untraced).values()]
    wall_s = _median_pass(untraced)
    query_p50_s = statistics.median(q_medians) if q_medians else float("nan")
    # the metrics BENCHMARK.json bounds: wall-clock latency moves with the
    # host's load far more than the bounds allow, CPU time does not
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (_median_pass(untraced, "cpu_s"), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    log(f"workload {wl.name}: {len(wl.queries)} queries x {len(passes)} passes "
        f"({len(untraced)} untraced)")
    log(f"  setup_s     {setup_s:10.3f} s   (1 cold start)")
    log(f"  cpu_s       {e2e['cpu_s'][0]:10.3f} s   (sum of per-query medians over "
        f"{len(untraced)} passes)")
    log(f"  wall_s      {wall_s:10.3f} s   (sum of per-query medians over "
        f"{len(untraced)} passes)")
    log(f"  query_p50_s {query_p50_s:10.3f} s   (median of {len(q_medians)} "
        f"per-query medians)")
    log(f"  failed_frac {failed / max(1, len(recs)):10.3f}     ({failed} of {len(recs)})")
    log(f"  peak_rss_mb {rss:10.1f} MB  ({', '.join(f'{k} {v:.0f}' for k, v in hwm.items())})")

    result = {"attempted": len(recs), "failed": failed, "e2e": e2e,
              "failures": sorted({f"{q['name']}: {q['error']}" for q in recs if q["error"]})}
    if args.trace:
        traced_passes = [p for p in passes if p["traced"]]
        result["layers"] = layer_metrics(traced_passes, untraced, setup, tr, cpus)
        result["layers"]["closed_loop.wall_s"] = wall_s
        result["layers"]["closed_loop.query_p50_s"] = query_p50_s
        with open(args.trace_out, "w") as f:
            json.dump({"workload": wl.name, "spans": tr.spans,
                       "self_s": tr.self_times(), "metrics": result["layers"],
                       "queries": recs}, f, default=str)
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
