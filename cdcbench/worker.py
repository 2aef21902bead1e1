"""One benchmark run inside a fresh interpreter: start Spark, run
one workload, check it, and write the result as JSON.

Started by ``run.py`` (``python -m cdcbench.worker <args>`` with the
checkout on ``PYTHONPATH``); never imported by the engine.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402


def spark_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    cores = min(4, os.cpu_count() or 1)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("cdcbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}")
    )
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--work", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from cdcbench import tracing
    from cdcbench import workloads as wl

    spark, cores = spark_session(a.work, bool(a.trace))
    session_s = time.time() - T_START
    session_cpu = wl.Context.cpu_s()  # the interpreter and the JVM so far
    tracer = tracing.Tracer(spark, enabled=bool(a.trace))
    if a.trace:
        tracer.install()
    ctx = wl.Context(spark, os.path.join(a.work, "run"), a.cache, a.seed,
                     a.seconds, tracer, a.size)
    res = wl.WORKLOADS[a.workload](ctx)
    # setup_s is CPU time, as cpu_ms_per_batch is: the same work costs the
    # same whatever share of the host other tenants steal meanwhile
    setup_s = session_cpu + res.warmup_cpu_s + statistics.median(res.setup_cpu)
    setup_wall_s = session_s + res.warmup_s + statistics.median(res.setup_samples)

    out = {
        "attempted": res.attempted,
        "failed": res.failed,
        "e2e": {
            "setup_s": setup_s,
            "setup_wall_s": setup_wall_s,
            "events_per_s": res.events_per_s,
            "latency_p50_ms": res.latency_p50_ms,
            "cpu_ms_per_batch": res.cpu_s * 1000 / max(res.batches, 1),
        },
        "named": {k: {"value": v, "unit": u} for k, (v, u) in res.named.items()},
        "setup": {"session_s": session_s, "session_cpu_s": session_cpu,
                  "warmup_s": res.warmup_s, "warmup_cpu_s": res.warmup_cpu_s,
                  "bootstrap_s": res.setup_samples, "bootstrap_cpu_s": res.setup_cpu},
        "host": {
            "nproc": os.cpu_count(),
            "loadavg": list(os.getloadavg()),
            "spark_conf": dict(spark.sparkContext.getConf().getAll()),
        },
        "window_s": res.window[1] - res.window[0],
        "samples": res.extra.get("samples", {}),
    }
    if a.trace:
        out["per_layer"] = tracing.per_layer(tracer, spark, res, cores,
                                             os.path.join(a.work, "eventlog"))
    else:
        spark.stop()
    with open(a.out + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(a.out + ".tmp", a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
