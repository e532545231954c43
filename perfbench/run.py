"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The script

- generates the fixture tables once into ``perfbench/.data`` and, per run,
  the row-order permutation chosen by ``--seed`` (``datagen.py``); the
  engine and the DuckDB oracle read only the generated files;
- gives the run its own directory under ``perfbench/.runs`` for
  ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM temp dir and the warehouse;
- starts ``worker.py`` in a fresh process session with the repo root on
  ``PYTHONPATH``, stops every process of that session when the worker is
  done, and removes the run directory;
- prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
  (``--trace 1``, whose spans go to ``perfbench/out``) as the last line of
  stdout.  A human summary goes to stderr.

It exits non-zero without printing a result when the engine is missing,
the worker fails, or the run exceeds its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen
from workloads import WORKLOADS

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SF = 0.1
RUN_LIMIT_S = 150
DRIVER_HEAP = "2g"  # worker.py fixes and pre-touches it


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def ensure_base(sf: float) -> str:
    """Generate the base fixture set for ``sf`` once per checkout."""
    path = os.path.join(BENCH, ".data", f"base-sf{sf}")
    marker = os.path.join(path, ".complete")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        datagen.base(path, sf)
        open(marker, "w").close()
    return path


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getsid(int(name)) == sid:
                    pids.append(int(name))
            except OSError:
                pass
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """Stop the worker and every process left in its session; wait for all."""
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(5)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.monotonic() + 15
    while True:
        pids = [p for p in _session_pids(proc.pid) if p != os.getpid()]
        if not pids:
            break
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        if time.monotonic() > deadline:
            log(f"processes still alive: {pids}")
            break
        time.sleep(0.1)
    if proc.poll() is None:
        proc.kill()
    proc.wait()


def _terminate(signum, frame) -> None:
    raise SystemExit(128 + signum)  # unwinds through stop_session


def main(argv: list[str]) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    if not os.path.isfile(os.path.join(ROOT, "open_source_etl_spark", "registry.py")):
        log(f"engine package open_source_etl_spark not found under {ROOT}")
        return 2
    t_start = time.monotonic()
    base = ensure_base(SF)
    runs = os.path.join(BENCH, ".runs")
    shutil.rmtree(runs, ignore_errors=True)  # leftovers of an interrupted run
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("data", "tmp", "local", "jvm", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    datagen.permute(base, dirs["data"], args.seed)
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + (
            [env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['jvm']} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # as nproc counts
        "OSETL_DRIVER_MEMORY": DRIVER_HEAP,
        "PYTHONWARNINGS": "ignore",
    })
    cmd = [sys.executable, os.path.join(BENCH, "worker.py"),
           "--workload", args.workload, "--sf-dir", dirs["data"],
           "--tmp-dir", dirs["tmp"], "--warehouse-dir", dirs["warehouse"],
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", result_path, "--trace-out", trace_path]
    env["PERFBENCH_T0"] = repr(time.time())
    proc = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=sys.stderr,
                            start_new_session=True)
    try:
        try:
            code = proc.wait(max(1.0, RUN_LIMIT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            log(f"run exceeded {RUN_LIMIT_S}s; stopping it")
            code = None
        finally:
            stop_session(proc)
        if code != 0 or not os.path.exists(result_path):
            log(f"worker failed (exit {code})")
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for line in res["failures"]:
        log(f"failed: {line}")
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
