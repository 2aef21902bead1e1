"""Span tracing for the benchmark's traced mode.

Spans are recorded from the benchmark's own files: ``install`` replaces the
engine's public layer functions with timing wrappers, at the name each
caller looks them up by (``streaming.engine`` imports ``merge_changes``,
``apply_ddl`` and ``read_batch`` by name, so those are patched there). A
span records name, layer, start, end, parent and the Spark job-count delta
(``DAGScheduler.numTotalJobs``: job groups do not reach the multi-table
pool threads). Spans stay in memory and are summarised at exit.

Self time is a span's duration minus the union of its children's
intervals. Attributed time splits every instant of the measured window
equally among the innermost spans open at that instant (pool threads run
per-table merges concurrently), so the layers' attributed times plus the
benchmark's own un-spanned time sum to the window's wall time.

Lazy builders (``compute_changes``, ``wire_to_envelope``) are not spanned:
their cost lands in the action that runs them. Operator-level cost comes
from per-task metrics in the Spark event log the traced run enables.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

#: (module path, attribute owner, attribute, layer). The owner is a class
#: name inside the module, or None for a module-level function.
PATCH_POINTS = [
    ("debezium_spark.streaming.engine", "CdcEngine", "replay", "streaming.engine"),
    ("debezium_spark.streaming.engine", "CdcEngine", "apply_stream_batch", "streaming.engine"),
    ("debezium_spark.streaming.engine", "CdcEngine", "apply_envelope_batch", "streaming.engine"),
    ("debezium_spark.streaming.engine", "CdcEngine", "flush_tx_carry", "streaming.engine"),
    ("debezium_spark.streaming.engine", None, "fused_tail_probe", "streaming.engine"),
    ("debezium_spark.streaming.engine", None, "persist_tx_carry", "streaming.engine"),
    ("debezium_spark.streaming.engine", None, "read_batch", "sources"),
    ("debezium_spark.streaming.engine", None, "merge_changes", "plans.merge"),
    ("debezium_spark.streaming.engine", None, "apply_ddl", "operators.schema_evolution"),
    ("debezium_spark.plans.table", "LakeTable", "commit_buckets", "plans.table"),
    ("debezium_spark.plans.table", "LakeTable", "compact", "plans.table"),
    ("debezium_spark.plans.table", "LakeTable", "read", "plans.table"),
    ("debezium_spark.streaming.multi", "MultiTableEngine", "apply_wire_batch", "streaming.multi"),
    ("debezium_spark.streaming.multi", "MultiTableEngine", "flush_tx_carry", "streaming.multi"),
    ("debezium_spark.sink.replay", None, "write_statement_streams", "sink"),
    ("debezium_spark.sink.replay", None, "apply_statement_stream", "sink"),
]

LAYERS = ["sources", "operators.schema_evolution", "plans.merge", "plans.table",
          "streaming.engine", "streaming.multi", "sink"]


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` free."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._jobs = None
        if enabled and spark is not None:
            sched = spark._jsc.sc().dagScheduler()
            self._jobs = sched.numTotalJobs

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def begin(self, name: str, layer: str) -> int | None:
        if not self.enabled:
            return None
        st = self._stack()
        # a pool thread's first span hangs under the span the main thread
        # has open (the dispatcher that submitted it)
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "layer": layer, "t0": time.time(), "t1": None,
               "parent": parent, "j0": self._jobs() if self._jobs else 0}
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        rec = self.spans[idx]
        rec["t1"] = time.time()
        rec["jobs"] = (self._jobs() if self._jobs else 0) - rec["j0"]
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self.begin(name, layer)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        traced.__wrapped_by_cdcbench__ = True
        return traced

    def install(self) -> None:
        """Patch every ``PATCH_POINTS`` entry (idempotent)."""
        import importlib

        for mod_name, owner, attr, layer in PATCH_POINTS:
            mod = importlib.import_module(mod_name)
            target = getattr(mod, owner) if owner else mod
            fn = getattr(target, attr)
            if getattr(fn, "__wrapped_by_cdcbench__", False):
                continue
            name = f"{owner}.{attr}" if owner else attr
            setattr(target, attr, self.wrap(fn, name, layer))

    # ---- summaries ------------------------------------------------------

    def window(self, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans
                if s["t1"] is not None and s["t0"] >= t0 and s["t1"] <= t1]

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Self seconds per span name."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            kids = sorted(((c["t0"], c["t1"]) for c in children.get(index[id(s)], [])))
            covered, cur0, cur1 = 0.0, None, None
            for a, b in kids:
                a, b = max(a, s["t0"]), min(b, s["t1"])
                if b <= a:
                    continue
                if cur1 is None or a > cur1:
                    if cur1 is not None:
                        covered += cur1 - cur0
                    cur0, cur1 = a, b
                else:
                    cur1 = max(cur1, b)
            if cur1 is not None:
                covered += cur1 - cur0
            out[s["name"]] = out.get(s["name"], 0.0) + (s["t1"] - s["t0"] - covered)
        return out

    def attribute(self, spans: list[dict], t0: float, t1: float) -> dict[str, float]:
        """Seconds of [t0, t1] per layer (plus ``bench`` for time no span
        covers); the values sum to ``t1 - t0``."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        edges = sorted({t0, t1, *[s["t0"] for s in spans], *[s["t1"] for s in spans]})
        out = {layer: 0.0 for layer in LAYERS}
        out["bench"] = 0.0
        for a, b in zip(edges, edges[1:]):
            if b <= t0 or a >= t1:
                continue
            mid = (a + b) / 2
            active = [s for s in spans if s["t0"] <= mid < s["t1"]]
            parents = {s["parent"] for s in active}
            leaves = [s for s in active if index[id(s)] not in parents]
            if not leaves:
                out["bench"] += b - a
                continue
            share = (b - a) / len(leaves)
            for s in leaves:
                out[s["layer"]] = out.get(s["layer"], 0.0) + share
        return out

    def span_at(self, spans: list[dict], t: float) -> dict | None:
        """The innermost (latest-started) span open at ``t``."""
        best = None
        for s in spans:
            if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] > best["t0"]):
                best = s
        return best


def read_event_log(log_dir: str) -> list[dict]:
    """Task-end records of the Spark event log under ``log_dir``:
    ``{"finish": epoch s, "run_ms", "gc_ms", "spill", "in_bytes",
    "out_bytes", "shuffle_w"}``."""
    out = []
    paths = [os.path.join(r, f) for r, _, fs in os.walk(log_dir) for f in fs
             if not f.startswith((".", "appstatus"))]
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                out.append({
                    "finish": info.get("Finish Time", 0) / 1000.0,
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                })
    return out


#: per-layer metrics the traced run reports, with units; a workload that
#: never enters a layer reports 0 for it
PER_LAYER = {
    "streaming.engine.jobs_per_batch": "count",
    "streaming.engine.probe_ms": "ms",
    "streaming.engine.carry_ms": "ms",
    "streaming.engine.driver_ms_per_batch": "ms",
    "streaming.structured.epochs": "count",
    "streaming.structured.files_per_epoch": "count",
    "streaming.structured.trigger_overhead_ms": "ms",
    "operators.schema_evolution.ddl_ms": "ms",
    "sources.scan_bytes": "bytes",
    "operators.apply.rows_in": "count",
    "operators.apply.changes_out": "count",
    "operators.apply.collapse_ratio": "ratio",
    "operators.apply.shuffle_bytes": "bytes",
    "plans.merge.ms": "ms",
    "plans.merge.jobs": "count",
    "plans.merge.bytes_written": "bytes",
    "plans.merge.files_written": "count",
    "plans.table.commit_ms": "ms",
    "plans.table.read_ms": "ms",
    "plans.table.read_files": "count",
    "plans.table.delta_depth_max": "count",
    "plans.table.compact_ms": "ms",
    "plans.table.compact_bytes_rewritten": "bytes",
    "plans.table.bytes_on_disk": "bytes",
    "streaming.multi.route_ms": "ms",
    "streaming.multi.jobs_per_batch": "count",
    "streaming.multi.tables_touched": "count",
    "streaming.multi.table_merge_ms": "ms",
    "sink.gen_ms": "ms",
    "sink.gen_jobs": "count",
    "sink.stmts": "count",
    "sink.apply_ms": "ms",
    "sink.units_applied": "count",
    "sink.units_failed": "count",
    "spark.task_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.spill_bytes": "bytes",
    "spark.slot_util": "ratio",
    "spark.jobs_per_batch": "count",
    "publisher_late_ms_max": "ms",
    "wall_ms": "ms",
    **{f"attr_ms.{layer}": "ms" for layer in LAYERS + ["bench"]},
    "traced.events_per_s": "events/s",
    "traced.latency_p50_ms": "ms",
}


def per_layer(tracer: Tracer, spark, res, cores: int, log_dir: str) -> dict:
    """Every ``PER_LAYER`` metric for one traced run. Stops ``spark`` (the
    event log is complete only then)."""
    t0, t1 = res.window
    spans = tracer.window(t0, t1)
    batches = max(res.batches, 1)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total_ms(*names: str) -> float:
        return sum((s["t1"] - s["t0"]) * 1000 for n in names for s in by_name.get(n, []))

    def jobs(*names: str) -> int:
        return sum(s.get("jobs", 0) for n in names for s in by_name.get(n, []))

    selfs = tracer.self_times(spans)
    engine_top = [s for s in spans if s["parent"] is None and s["layer"] == "streaming.engine"]
    wire = by_name.get("MultiTableEngine.apply_wire_batch", [])
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    wire_ids = {index[id(s)] for s in wire}
    per_table = [s for s in by_name.get("CdcEngine.apply_envelope_batch", [])
                 if s["parent"] in wire_ids]
    # the benchmark's own read spans contain the LakeTable.read they call
    bench_reads = {index[id(s)] for n in ("read_scan", "read_lookup")
                   for s in by_name.get(n, [])}
    epochs = res.progress
    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "streaming.engine.jobs_per_batch": sum(s.get("jobs", 0) for s in engine_top) / batches,
        "streaming.engine.probe_ms": total_ms("fused_tail_probe") / batches,
        "streaming.engine.carry_ms": total_ms("persist_tx_carry") / batches,
        "streaming.engine.driver_ms_per_batch": 1000 * sum(
            selfs.get(n, 0.0) for n in ("CdcEngine.replay", "CdcEngine.apply_stream_batch",
                                        "CdcEngine.apply_envelope_batch",
                                        "CdcEngine.flush_tx_carry")) / batches,
        "operators.schema_evolution.ddl_ms": total_ms("apply_ddl"),
        "plans.merge.ms": total_ms("merge_changes") / batches,
        "plans.merge.jobs": jobs("merge_changes") / batches,
        "plans.table.commit_ms": total_ms("LakeTable.commit_buckets") / batches,
        "plans.table.read_ms": total_ms("read_scan", "read_lookup") + sum(
            (s["t1"] - s["t0"]) * 1000 for s in by_name.get("LakeTable.read", [])
            if s["parent"] not in bench_reads),
        "plans.table.compact_ms": total_ms("LakeTable.compact"),
        "streaming.multi.route_ms": 1000 * selfs.get("MultiTableEngine.apply_wire_batch", 0.0) / batches,
        "streaming.multi.jobs_per_batch": jobs("MultiTableEngine.apply_wire_batch") / batches,
        "streaming.multi.tables_touched": len(per_table) / max(len(wire), 1),
        "streaming.multi.table_merge_ms": sum((s["t1"] - s["t0"]) * 1000 for s in per_table) / batches,
        "sink.gen_ms": total_ms("write_statement_streams") / batches,
        "sink.gen_jobs": jobs("write_statement_streams") / batches,
        "sink.apply_ms": total_ms("apply_statement_stream") / batches,
        "sink.stmts": res.extra.get("stmts", 0),
        "sink.units_applied": res.extra.get("units_applied", 0),
        "sink.units_failed": res.extra.get("units_failed", 0),
        "streaming.structured.epochs": len(epochs),
        "publisher_late_ms_max": res.named.get("publisher_late_ms_max", (0.0, ""))[0],
        "wall_ms": (t1 - t0) * 1000,
        "traced.events_per_s": res.events_per_s,
        "traced.latency_p50_ms": res.latency_p50_ms,
    })
    if epochs:
        m["streaming.structured.files_per_epoch"] = res.extra.get("batches_published", 0) / len(epochs)
        m["streaming.structured.trigger_overhead_ms"] = sum(
            e["durationMs"].get("triggerExecution", 0) - e["durationMs"].get("addBatch", 0)
            for e in epochs) / len(epochs)
    for layer, sec in tracer.attribute(spans, t0, t1).items():
        m[f"attr_ms.{layer}"] = sec * 1000

    # lake state at the end of the window
    files = depth = on_disk = changes = merge_files = merges = 0
    for table in res.tables:
        data = os.path.join(table.root, "data")
        for d in os.listdir(data):
            if d.startswith(("d-", "v-")):
                merge_files += sum(
                    1 for r, _, fs in os.walk(os.path.join(data, d)) for f in fs
                    if f.endswith(".parquet")
                    and t0 <= os.path.getmtime(os.path.join(r, f)) <= t1)
        man = table.manifest()
        for val in man["buckets"].values():
            base, delta = table._bucket_dirs(val)
            depth = max(depth, len(delta))
            for d in base + delta:
                files += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        on_disk += sum(os.path.getsize(os.path.join(r, f))
                       for r, _, fs in os.walk(os.path.join(table.root, "data")) for f in fs)
        for v in range(1, man["version"] + 1):
            path = os.path.join(table.root, "_manifests", f"v{v:06d}.json")
            if not os.path.exists(path) or not t0 <= os.path.getmtime(path) <= t1:
                continue  # expired, or committed outside the window
            applied = [e for e in table.manifest(v).get("lineage", [])
                       if not e.get("heartbeat") and "compacted_deltas" not in e]
            changes += sum(e.get("events", 0) for e in applied)
            merges += 1 if applied else 0
    m["plans.merge.files_written"] = merge_files / max(merges, 1)
    m["plans.table.read_files"] = files
    m["plans.table.delta_depth_max"] = depth
    m["plans.table.bytes_on_disk"] = on_disk
    m["operators.apply.rows_in"] = res.extra.get("events_in", 0)
    m["operators.apply.changes_out"] = changes
    if m["operators.apply.rows_in"]:
        m["operators.apply.collapse_ratio"] = changes / m["operators.apply.rows_in"]

    spark.stop()
    tasks = [t for t in read_event_log(log_dir) if t0 <= t["finish"] <= t1]
    m["spark.task_ms"] = sum(t["run_ms"] for t in tasks)
    m["spark.gc_ms"] = sum(t["gc_ms"] for t in tasks)
    m["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    m["spark.slot_util"] = m["spark.task_ms"] / ((t1 - t0) * 1000 * cores)
    m["spark.jobs_per_batch"] = res.extra.get("jobs", 0) / batches
    m["sources.scan_bytes"] = sum(t["in_bytes"] for t in tasks)
    m["operators.apply.shuffle_bytes"] = sum(t["shuffle_w"] for t in tasks)
    for t in tasks:
        s = tracer.span_at(spans, t["finish"])
        if s is not None and s["name"] == "merge_changes":
            m["plans.merge.bytes_written"] += t["out_bytes"]
        elif s is not None and s["name"] == "LakeTable.compact":
            m["plans.table.compact_bytes_rewritten"] += t["out_bytes"]
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in m.items()}
