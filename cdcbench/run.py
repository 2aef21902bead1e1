"""CDC ingest benchmark — command-line entry point.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Each run starts one
worker interpreter (``cdcbench.worker``) in its own session with Spark's
scratch space, temp files and tables under ``.cdcbench_work/`` in the
checkout, samples the worker tree's resident memory, reaps every process of
the session when the worker ends, and deletes the run's work directory.
Generated inputs are cached under ``.cdcbench_cache/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is the full report (workload-specific metrics, set-up breakdown, host).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:  # run as a script: make the package importable
    sys.path.insert(0, ROOT)

from cdcbench import procs  # noqa: E402

WORKLOADS = ("bulk_replay", "tail_stream", "read_after_write", "multi_table_sink")
#: the gated end-to-end metrics (last line), both CPU time; the wall-clock
#: figures (events_per_s, latency_p50_ms, setup_wall_s) and peak_rss_mb are
#: in the report line
E2E_UNITS = {"cpu_ms_per_batch": "ms", "setup_s": "s"}
WORKER_TIMEOUT_S = 170


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def _reap(sid: int, owned_by: str | None = None, timeout: float = 20.0) -> None:
    """SIGKILL every process of session ``sid`` and wait until none is left.
    With ``owned_by``, only processes started under that work root count."""
    deadline = time.time() + timeout
    while True:
        pids = [p for p in procs.live_pids(sid)
                if owned_by is None or procs.started_under(p, owned_by)]
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.time() > deadline:
            raise RuntimeError(f"processes {pids} of session {sid} survived SIGKILL")
        time.sleep(0.1)


class RssSampler(threading.Thread):
    """Peak summed RSS of a session's processes (the worker interpreter,
    its Spark JVM and Spark's Python workers)."""

    def __init__(self, sid: int) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.peak_kb = 0
        self.halt = threading.Event()

    def run(self) -> None:
        while not self.halt.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in procs.live_pids(self.sid)))
            self.halt.wait(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for the self-test")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "debezium_spark")):
        print(f"cdcbench: no debezium_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".cdcbench_work")
    os.makedirs(base, exist_ok=True)
    pidfile = os.path.join(base, "worker.sid")
    if os.path.exists(pidfile):  # a previous run that never cleaned up
        # (one run at a time per checkout): reap what is left of its
        # session, but only processes it started, as the sid may be reused
        with open(pidfile) as f:
            text = f.read().strip()
        if text.isdigit() and int(text) > 0:
            _reap(int(text), owned_by=base)
        os.remove(pidfile)
    for name in os.listdir(base):  # work dirs and logs of earlier runs
        if name.startswith(("run-", "worker-")):
            path = os.path.join(base, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
    work = os.path.join(base, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    cache = os.path.join(ROOT, ".cdcbench_cache")
    os.makedirs(cache, exist_ok=True)
    result_path = os.path.join(work, "result.json")

    env = dict(os.environ)
    # Spark's Python workers import the engine (UDF and mapInPandas paths)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    cmd = [sys.executable, "-m", "cdcbench.worker", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--size", a.size, "--work", work,
           "--cache", cache, "--out", result_path]
    log_path = os.path.join(base, f"worker-{os.getpid()}.log")
    ticks0 = _cpu_ticks()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
    with open(pidfile, "w") as f:
        f.write(str(proc.pid))
    sampler = RssSampler(proc.pid)
    sampler.start()
    # a terminated run still reaps its worker session (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.halt.set()
        sampler.join()
        _reap(proc.pid)
        if os.path.exists(pidfile):
            os.remove(pidfile)

    ok = code == 0 and os.path.exists(result_path)
    if ok:
        with open(result_path) as f:
            res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-20000:])
        print(f"cdcbench: worker {'timed out' if code is None else f'exited {code}'}",
              file=sys.stderr)
        return 1
    os.remove(log_path)

    ticks1 = _cpu_ticks()
    # share of the host's CPU time taken by other tenants during the run
    res["host"]["steal_pct"] = 100 * (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
    e2e = dict(res["e2e"], peak_rss_mb=sampler.peak_kb / 1024)
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "e2e": e2e, "named": res["named"],
              "error_rate": res["failed"] / max(res["attempted"], 1),
              "setup": res["setup"], "host": res["host"], "window_s": res["window_s"],
              "samples": res["samples"]}
    print(json.dumps(report))
    if a.trace:
        metrics = res["per_layer"]
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
