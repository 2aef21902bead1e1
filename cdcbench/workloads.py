"""The benchmark's workloads, driven through the engine's public API.

Each workload reads its inputs from the seeded generator (``inputs``), sets
itself up ``SETUP_REPEATS`` times (the median bootstrap is part of
``setup_s``), runs its loop until ``seconds`` of wall time have passed, and
then checks the engine's output against the DuckDB oracle outside the
timed window.

Every workload returns a ``Result``: its headline wall-clock figures
(``events_per_s``, ``latency_p50_ms``; their meaning per workload is in the
README), the CPU time of its operations, the wall and CPU time of its
set-up, the workload's own named metrics, the operation counts, and the
window it measured. Lake and sink calls go through module attributes so the
traced mode's wrappers see them.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

from cdcbench import inputs, oracle, procs

SETUP_REPEATS = 3
N_BUCKETS = 8
TX_SIZE = 10
CONTENT_WORDS = 64
KEY = ["repo", "path"]

#: workload sizes; ``smoke`` is the tiny self-test variant
SIZES = {
    "bulk_replay": {
        "full": {"snapshot": 2_000, "batches": 2, "events": 100_000},
        "smoke": {"snapshot": 200, "batches": 2, "events": 600},
    },
    "tail_stream": {
        # interval_s: the open-loop publish period, below the measured
        # capacity (README); events is not a multiple of TX_SIZE, so every
        # batch leaves an open tail transaction
        "full": {"snapshot": 2_000, "events": 997, "interval_s": 2.5,
                 "ddl_every": 4},
        "smoke": {"snapshot": 200, "events": 97, "interval_s": 2.0,
                  "ddl_every": 2},
    },
    "read_after_write": {
        "full": {"snapshot": 10_000, "events": 3_000, "lookups": 4,
                 "sec_per_batch": 2.0},
        "smoke": {"snapshot": 300, "events": 200, "lookups": 4,
                  "sec_per_batch": 2.0},
    },
    "multi_table_sink": {
        # tables: statement generation and the per-table merges add a fixed
        # cost per table and batch (README: a batch took ~25 s at 8 tables,
        # ~18 s at 4, ~11-13 s at 2), so two tables keep a gated run within
        # its time budget
        "full": {"tables": 2, "events": 2_000, "sec_per_batch": 2.0},
        "smoke": {"tables": 2, "events": 200, "sec_per_batch": 2.0},
    },
}


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile, ``q`` in [0, 1] (q=0.5 is the
    median)."""
    s = sorted(values)
    x = q * (len(s) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, q) of the highest percentile with at least ten samples
    beyond it; the median when there are fewer than twenty samples."""
    q = max(0.5, 1.0 - 10.0 / len(values))
    return percentile(values, q), q


@dataclass
class Result:
    events_per_s: float
    latency_p50_ms: float
    #: wall and CPU seconds of each of the SETUP_REPEATS bootstraps
    setup_samples: list[float]
    setup_cpu: list[float]
    #: the first (cold) operation, run before the window: part of setup_s;
    #: 0 for the workloads whose window starts cold
    warmup_s: float
    warmup_cpu_s: float
    attempted: int
    failed: int
    window: tuple[float, float]
    named: dict = field(default_factory=dict)
    #: batches (epochs, wire batches) applied in the window
    batches: int = 0
    #: CPU seconds the session used for the window's operations
    #: (``Context.cpu_s``)
    cpu_s: float = 0.0
    #: lake tables left at the end, for the traced lake-state summary
    tables: list = field(default_factory=list)
    #: streaming progress records of non-empty epochs (tail_stream)
    progress: list = field(default_factory=list)
    #: counts for the traced summary: events_in, jobs, stmts, ...
    extra: dict = field(default_factory=dict)


class Context:
    """What every workload needs: the session, the run's work directory,
    the input cache, the seed, the window length and the tracer."""

    def __init__(self, spark, work: str, cache: str, seed: int,
                 seconds: float, tracer, size: str) -> None:
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.size = size

    def jobs(self) -> int:
        """Spark jobs submitted so far in this session."""
        return self.spark._jsc.sc().dagScheduler().numTotalJobs()

    @staticmethod
    def cpu_s() -> float:
        """CPU seconds used so far by this process's session: the worker,
        its JVM and Spark's Python workers (``run.py`` starts the worker as
        a session leader). Time stolen by other tenants is not in it."""
        return procs.cpu_seconds(os.getsid(0))

    def timed(self, fn, *args):
        """``(fn(*args), wall s, session CPU s)``."""
        c, t = self.cpu_s(), time.perf_counter()
        out = fn(*args)
        return out, time.perf_counter() - t, self.cpu_s() - c

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def params(self, workload: str) -> dict:
        return dict(SIZES[workload][self.size])


# ---- inputs -------------------------------------------------------------------

def _env_inputs(ctx: Context, name: str, p: dict, n_batches: int,
                ddl_every: int = 0, lookups: int = 0) -> str:
    """Cached input dir: ``snapshot/``, ``log/batch_NNNNN.parquet`` and
    ``expect.json`` (state digest after the snapshot and after each batch;
    per-batch expected content digests of the lookup keys)."""

    def build(out: str) -> None:
        gen = inputs.ChangeLog(ctx.seed, content_words=CONTENT_WORDS, tx_size=TX_SIZE)
        snap = gen.snapshot(p["snapshot"])
        inputs.write_batch(inputs.envelope_table(snap), os.path.join(out, "snapshot"))
        keys = _lookup_keys(gen, lookups)
        expect = {"digests": [gen.state_digest()], "keys": keys,
                  "lookups": [_key_digests(gen, keys)]}
        for b in range(n_batches):
            evs = gen.events(p["events"])
            if ddl_every and b % ddl_every == ddl_every - 1:
                evs = _splice_ddl(gen, evs)
            inputs.write_batch(inputs.envelope_table(evs),
                               os.path.join(out, "log", f"batch_{b:05d}.parquet"))
            if lookups:
                expect["digests"].append(gen.state_digest())
                expect["lookups"].append(_key_digests(gen, keys))
        expect["live_rows"] = len(gen.live)
        with open(os.path.join(out, "expect.json"), "w") as f:
            json.dump(expect, f)

    params = dict(p, batches=n_batches, ddl_every=ddl_every, lookups=lookups)
    return inputs.cached(ctx.cache, name, ctx.seed, params, build)


def _splice_ddl(gen: inputs.ChangeLog, evs: list[dict]) -> list[dict]:
    """Insert an ``ADD COLUMN`` barrier at the first transaction boundary
    past the batch middle; later events in the batch shift up one pos."""
    cut = next(i for i in range(len(evs) // 2, len(evs))
               if evs[i]["transaction"]["total_order"] == 0)
    ddl = gen.ddl()
    pos = evs[cut]["source"]["pos"]
    ddl["source"]["pos"] = pos
    ddl["source"]["gtid"] = f"gtid:{pos}"
    for e in evs[cut:]:
        e["source"]["pos"] += 1
        e["source"]["gtid"] = f"gtid:{e['source']['pos']}"
    return evs[:cut] + [ddl] + evs[cut:]


def _lookup_keys(gen: inputs.ChangeLog, n: int) -> list[list[str]]:
    """Half hot keys (from the hottest repo), half cold (from the colder
    half of the repos), drawn from the live keys after the snapshot."""
    if not n:
        return []
    live = sorted(gen.live)
    hot = [k for k in live if k[0] == "repo_0001"]
    cold = [k for k in live if k[0] >= f"repo_{gen.n_repos // 2:04d}"]
    pick = gen.rng.permutation
    hot = [hot[i] for i in pick(len(hot))[: n // 2]]
    cold = [cold[i] for i in pick(len(cold))[: n - len(hot)]]
    return [list(k) for k in hot + cold]


def _key_digests(gen: inputs.ChangeLog, keys) -> list:
    out = []
    for k in keys:
        row = gen.live.get(tuple(k))
        out.append(None if row is None else inputs.row_digest(k[0], k[1], row[2]))
    return out


def _log_files(src: str) -> list[str]:
    log = os.path.join(src, "log")
    return [os.path.join(log, d, "part-00000.parquet") for d in sorted(os.listdir(log))]


def _snapshot_file(src: str) -> str:
    return os.path.join(src, "snapshot", "part-00000.parquet")


def _load_expect(src: str) -> dict:
    with open(os.path.join(src, "expect.json")) as f:
        return json.load(f)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, files in os.walk(path) for f in files)


def _timed_setups(ctx: Context, bootstrap) -> tuple[list, list[float], list[float]]:
    """SETUP_REPEATS bootstraps: (what each made, wall s, CPU s)."""
    made, walls, cpus = [], [], []
    for i in range(SETUP_REPEATS):
        out, wall, cpu = ctx.timed(bootstrap, i)
        made.append(out)
        walls.append(wall)
        cpus.append(cpu)
    return made, walls, cpus


class FencePoller:
    """Records when a lake table's committed fence advances: a thread reads
    the manifest pointer every ``period`` seconds (a few hundred bytes of
    local file I/O) and stamps each new fence position."""

    def __init__(self, table, period: float = 0.01) -> None:
        self.table = table
        self.period = period
        self.commits: list[tuple[float, int]] = []
        base = table.fence()
        self._top = base[1] if base is not None else None
        self._version = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self, now: float) -> None:
        with open(os.path.join(self.table.root, "_manifests", "LATEST")) as f:
            v = f.read().strip()
        if v == self._version:
            return
        self._version = v
        fence = self.table.manifest(int(v))["fence"]
        if fence is not None and (self._top is None or fence["pos"] > self._top):
            self._top = fence["pos"]
            self.commits.append((now, fence["pos"]))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._poll(time.time())
            self._stop.wait(self.period)

    def start(self) -> "FencePoller":
        self._thread.start()
        return self

    def stop(self, at: float) -> None:
        """Stop polling; a commit the thread had not seen yet is stamped
        ``at`` (the caller's time for the call that made it)."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._poll(at)

    def covered_at(self, pos: int) -> float | None:
        for t, p in self.commits:
            if p >= pos:
                return t
        return None


# ---- bulk_replay -------------------------------------------------------------

def bulk_replay(ctx: Context) -> Result:
    """Closed loop: ``CdcEngine.replay`` catches a snapshot-bootstrapped MoR
    table up on a backlog of a few large batches; the next catch-up (on a
    fresh table) starts when the previous one ends. Per-batch figures come
    from the fence advances a ``FencePoller`` observes during each
    catch-up: a batch's latency runs from the previous commit (or the
    replay call) to its own commit."""
    from debezium_spark import CdcEngine, LakeTable

    p = ctx.params("bulk_replay")
    src = _env_inputs(ctx, "bulk_replay", p, p["batches"])
    log_dir = os.path.join(src, "log")
    snap = ctx.spark.read.parquet(os.path.join(src, "snapshot"))
    n_events = p["batches"] * p["events"]

    def bootstrap(i: int):
        table = LakeTable(ctx.spark, ctx.path(f"bulk_{i}"), KEY, n_buckets=N_BUCKETS)
        engine = CdcEngine(ctx.spark, table)
        engine.bootstrap(snap, fence=(inputs.LOG_FILE, -1))
        return table, engine

    def catch_up(table, engine):
        """One replay of the backlog: (wall s, per-batch latencies, per-batch
        events/s), or None when it raised."""
        poller = FencePoller(table).start()
        t = time.time()
        try:
            engine.replay(log_dir)
        except Exception as e:  # a raised batch is a failed operation
            print(f"bulk_replay: replay raised {e!r}", flush=True)
            return None
        finally:
            t_end = time.time()
            poller.stop(t_end)
        lat, rates, prev_t, prev_pos = [], [], t, -1
        for tc, pos in poller.commits:
            lat.append(tc - prev_t)
            rates.append((pos - prev_pos) / (tc - prev_t))
            prev_t, prev_pos = tc, pos
        return t_end - t, lat, rates

    ready, setup, setup_cpu = _timed_setups(ctx, bootstrap)
    # no warm-up: the window's first catch-up runs the replay path cold, as
    # in multi_table_sink, so its first-use compilation is in
    # cpu_ms_per_batch; a warm-up catch-up would not fit the time budget
    # (README)
    warmup = warmup_cpu = 0.0
    attempted = failed = 0
    walls, lat, rates, cpus, last = [], [], [], [], None
    w0, j0 = time.time(), ctx.jobs()
    while time.time() - w0 < ctx.seconds or not walls:
        table, engine = ready.pop(0) if ready else bootstrap(len(walls) + SETUP_REPEATS)
        attempted += p["batches"]
        got, _, c = ctx.timed(catch_up, table, engine)
        cpus.append(c)
        if last is not None:
            shutil.rmtree(last.root, ignore_errors=True)
        last = table
        if got is None:
            failed += p["batches"]
            break
        walls.append(got[0])
        lat += got[1]
        rates += got[2]
        if table.fence() != (inputs.LOG_FILE, n_events - 1):
            failed += p["batches"]
    w1, j1 = time.time(), ctx.jobs()

    attempted += 1
    bad = oracle.check_lake(ctx.spark, {"repo_files": last},
                            [_snapshot_file(src)] + _log_files(src),
                            ctx.path("digest"))
    failed += 1 if bad else 0
    live = _load_expect(src)["live_rows"]
    eps = len(walls) * n_events / sum(walls) if walls else float("nan")
    p50 = statistics.median(lat) * 1000 if lat else float("nan")
    return Result(
        events_per_s=eps, latency_p50_ms=p50,
        setup_samples=setup, setup_cpu=setup_cpu, warmup_s=warmup, warmup_cpu_s=warmup_cpu,
        attempted=attempted, failed=failed, window=(w0, w1),
        batches=len(walls) * p["batches"], tables=[last], cpu_s=sum(cpus),
        extra={"events_in": len(walls) * n_events, "jobs": j1 - j0,
               "samples": {"catchup_s": walls, "catchup_cpu_s": cpus, "batch_s": lat}},
        named={
            "replay_events_per_s": (eps, "events/s"),
            "batch_events_per_s_p50": (statistics.median(rates) if rates else 0.0, "events/s"),
            "batch_commit_p50_ms": (p50, "ms"),
            "catchups": (len(walls), "count"),
            "bytes_per_live_row": (_dir_bytes(os.path.join(last.root, "data")) / live, "bytes"),
            "oracle_mismatches": (bad, "rows"),
        },
    )


# ---- tail_stream -------------------------------------------------------------

def tail_stream(ctx: Context) -> Result:
    """Open loop: a publisher thread renames pre-written small batches into
    the watched directory every ``interval_s`` seconds, whatever the engine
    is doing; ``stream_replay(available_now=False)`` applies each epoch.
    Freshness runs from a batch's due time to the end of the commit whose
    fence first covers the batch's first position."""
    from debezium_spark import CdcEngine, LakeTable
    from debezium_spark.streaming.structured import stream_replay

    p = ctx.params("tail_stream")
    n_batches = int(math.ceil(ctx.seconds / p["interval_s"])) + 2
    src = _env_inputs(ctx, "tail_stream", p, n_batches, ddl_every=p["ddl_every"])
    snap = ctx.spark.read.parquet(os.path.join(src, "snapshot"))

    def bootstrap(i: int):
        table = LakeTable(ctx.spark, ctx.path(f"tail_{i}"), KEY, n_buckets=N_BUCKETS)
        engine = CdcEngine(ctx.spark, table)
        engine.bootstrap(snap, fence=(inputs.LOG_FILE, -1))
        return table, engine

    made, setup, setup_cpu = _timed_setups(ctx, bootstrap)
    table, engine = made[-1]
    staging, watch = ctx.path("tail_staging"), ctx.path("tail_watch")
    shutil.copytree(os.path.join(src, "log"), staging)
    os.makedirs(watch)

    import pyarrow.parquet as pq

    names = sorted(os.listdir(staging))
    pos_cols = [
        pq.read_table(os.path.join(staging, n, "part-00000.parquet"), columns=["source"])
        for n in names
    ]
    first_pos = [t.column("source").combine_chunks().field("pos")[0].as_py() for t in pos_cols]
    n_events = [t.num_rows for t in pos_cols]
    poller = FencePoller(table).start()

    # warm-up (part of setup_s): start the query and let batch 0's epoch
    # commit; it pays first-use compilation of the stream path
    def start_query():
        q = stream_replay(ctx.spark, engine, watch, ctx.path("tail_checkpoint"),
                          available_now=False)
        os.rename(os.path.join(staging, names[0]), os.path.join(watch, names[0]))
        deadline = time.time() + 120
        while not poller.commits and time.time() < deadline:
            time.sleep(0.05)
        return q

    query, warmup, warmup_cpu = ctx.timed(start_query)

    due, late = [], []
    w0, j0, c0 = time.time(), ctx.jobs(), ctx.cpu_s()
    for i, name in enumerate(names[1:]):
        at = w0 + i * p["interval_s"]
        if at - w0 >= ctx.seconds:
            break
        time.sleep(max(0.0, at - time.time()))
        late.append(time.time() - at)
        os.rename(os.path.join(staging, name), os.path.join(watch, name))
        due.append(at)
    w1 = max(time.time(), w0 + ctx.seconds)
    time.sleep(max(0.0, w1 - time.time()))
    fence_now = table.fence()
    backlog = sum(1 for pos in first_pos[1: 1 + len(due)]
                  if fence_now is None or pos > fence_now[1])
    query.processAllAvailable()
    query.stop()
    progress = list(query.recentProgress)
    attempted, failed = len(due), 0
    try:
        engine.flush_tx_carry()
    except Exception as e:
        print(f"tail_stream: flush raised {e!r}", flush=True)
        failed += 1
    w_end, j1, c1 = time.time(), ctx.jobs(), ctx.cpu_s()
    poller.stop(w_end)

    fresh = []
    for i, at in enumerate(due):
        c = poller.covered_at(first_pos[i + 1])
        if c is None:
            failed += 1
        else:
            fresh.append((c - at) * 1000)
    epochs = [pr for pr in progress if pr["numInputRows"] > 0][1:]  # [0]: warm-up
    rows = sum(pr["numInputRows"] for pr in epochs)
    busy = sum(pr["durationMs"].get("addBatch", 0) for pr in epochs) / 1000
    attempted += 1
    published = os.listdir(watch)
    bad = oracle.check_lake(
        ctx.spark, {"repo_files": table},
        [_snapshot_file(src)] + [os.path.join(watch, n, "part-00000.parquet")
                                 for n in sorted(published)],
        ctx.path("digest"))
    failed += 1 if bad else 0
    p50 = statistics.median(fresh) if fresh else float("nan")
    t_val, t_q = tail(fresh) if fresh else (float("nan"), 0.5)
    return Result(
        events_per_s=rows / busy if busy else float("nan"),
        latency_p50_ms=p50, setup_samples=setup, setup_cpu=setup_cpu,
        warmup_s=warmup, warmup_cpu_s=warmup_cpu,
        attempted=attempted, failed=failed, window=(w0, w_end),
        batches=len(epochs), tables=[table], cpu_s=c1 - c0,
        extra={"events_in": sum(n_events[1: 1 + len(due)]), "jobs": j1 - j0,
               "batches_published": len(due),
               "samples": {"freshness_ms": fresh, "late_ms": [x * 1000 for x in late],
                           "commits": poller.commits}},
        named={
            "freshness_p50_ms": (p50, "ms"),
            "freshness_tail_ms": (t_val, "ms"),
            "freshness_tail_pct": (t_q * 100, "%"),
            "freshness_samples": (len(fresh), "count"),
            "backlog_batches_end": (backlog, "count"),
            "publisher_late_ms_max": (max(late) * 1000 if late else 0.0, "ms"),
            "epochs": (len(epochs), "count"),
            "batches_published": (len(due), "count"),
            "oracle_mismatches": (bad, "rows"),
        },
        progress=epochs,
    )


# ---- read_after_write ---------------------------------------------------------

def read_after_write(ctx: Context) -> Result:
    """Closed loop: after a snapshot bootstrap, medium MoR batches apply one
    at a time at the engine's default compaction cadence; after each commit
    a fixed reader mix runs: one full-state digest scan, then bucket-pruned
    lookups of hot and cold keys. Each read is checked against the state
    the generator had after that batch."""
    from pyspark.sql import functions as F

    from debezium_spark import CdcEngine, LakeTable
    from debezium_spark.plans.table import bucket_expr

    p = ctx.params("read_after_write")
    n_batches = int(math.ceil(ctx.seconds / p["sec_per_batch"])) + 2
    src = _env_inputs(ctx, "read_after_write", p, n_batches, lookups=p["lookups"])
    expect = _load_expect(src)
    snap = ctx.spark.read.parquet(os.path.join(src, "snapshot"))
    keys = [tuple(k) for k in expect["keys"]]

    def bootstrap(i: int):
        table = LakeTable(ctx.spark, ctx.path(f"raw_{i}"), KEY, n_buckets=N_BUCKETS)
        engine = CdcEngine(ctx.spark, table)
        engine.bootstrap(snap, fence=(inputs.LOG_FILE, -1))
        return table, engine

    made, setup, setup_cpu = _timed_setups(ctx, bootstrap)
    table, engine = made[-1]
    buckets = [r[0] for r in ctx.spark.createDataFrame(keys, KEY)
               .select(bucket_expr(KEY, N_BUCKETS)).collect()]
    digest = F.conv(F.substring(F.sha2(F.concat_ws("\u0000", "repo", "path", "content"), 256), 1, 8), 16, 10).cast("long")
    logs = _log_files(src)

    def cycle(i: int, path: str, apply_ms: list, scan_ms: list, look_ms: list) -> tuple[int, int]:
        """Apply batch ``i`` then run the reader mix; (attempted, failed)."""
        t = time.perf_counter()
        try:
            engine.apply_envelope_batch(ctx.spark.read.parquet(os.path.dirname(path)),
                                        batch_id=f"raw_{i:05d}")
        except Exception as e:
            print(f"read_after_write: apply raised {e!r}", flush=True)
            return 1, 1
        apply_ms.append((time.perf_counter() - t) * 1000)
        attempted, failed = 2, 0
        t = time.perf_counter()
        with ctx.tracer.span("read_scan", "plans.table"):
            row = table.read().agg(F.count(F.lit(1)), F.sum(digest)).first()
        scan_ms.append((time.perf_counter() - t) * 1000)
        if [row[0], row[1] or 0] != expect["digests"][i + 1]:
            failed += 1
        for k, b, want in zip(keys, buckets, expect["lookups"][i + 1]):
            attempted += 1
            t = time.perf_counter()
            with ctx.tracer.span("read_lookup", "plans.table"):
                got = (table.read(buckets=[b])
                       .filter((F.col("repo") == k[0]) & (F.col("path") == k[1]))
                       .select(digest).collect())
            look_ms.append((time.perf_counter() - t) * 1000)
            if [r[0] for r in got] != ([] if want is None else [want]):
                failed += 1
        return attempted, failed

    # batch 0's cycle pays first-use compilation of the apply and read
    # paths: it is the warm-up (part of setup_s), checked but not timed
    (attempted, failed), warmup, warmup_cpu = ctx.timed(cycle, 0, logs[0], [], [], [])
    apply_ms, scan_ms, look_ms = [], [], []
    w0, j0, c0 = time.time(), ctx.jobs(), ctx.cpu_s()
    for i, path in enumerate(logs[1:], start=1):
        if time.time() - w0 >= ctx.seconds and apply_ms:
            break
        a, f = cycle(i, path, apply_ms, scan_ms, look_ms)
        attempted += a
        failed += f
    w1, j1, c1 = time.time(), ctx.jobs(), ctx.cpu_s()
    done = 1 + len(apply_ms)

    attempted += 1
    bad = oracle.check_lake(ctx.spark, {"repo_files": table},
                            [_snapshot_file(src)] + logs[:done], ctx.path("digest"))
    failed += 1 if bad else 0
    live = expect["digests"][done][0]
    applied = len(apply_ms) * p["events"]
    lt_val, lt_q = tail(look_ms)
    scan_p50 = statistics.median(scan_ms)
    look_p50 = statistics.median(look_ms)
    return Result(
        events_per_s=applied / (sum(apply_ms) / 1000),
        latency_p50_ms=look_p50, setup_samples=setup, setup_cpu=setup_cpu,
        warmup_s=warmup, warmup_cpu_s=warmup_cpu,
        attempted=attempted, failed=failed, window=(w0, w1),
        batches=len(apply_ms), tables=[table], cpu_s=c1 - c0,
        extra={"events_in": applied, "jobs": j1 - j0,
               "samples": {"apply_ms": apply_ms, "scan_ms": scan_ms, "lookup_ms": look_ms}},
        named={
            "apply_p50_ms": (statistics.median(apply_ms), "ms"),
            "scan_p50_ms": (scan_p50, "ms"),
            "lookup_p50_ms": (look_p50, "ms"),
            "lookup_tail_ms": (lt_val, "ms"),
            "lookup_tail_pct": (lt_q * 100, "%"),
            "batches_applied": (len(apply_ms), "count"),
            "bytes_per_live_row": (_dir_bytes(os.path.join(table.root, "data")) / max(live, 1), "bytes"),
            "oracle_mismatches": (bad, "rows"),
        },
    )


# ---- multi_table_sink ----------------------------------------------------------

def _wire_inputs(ctx: Context, p: dict, n_batches: int) -> str:
    def build(out: str) -> None:
        gen = inputs.ChangeLog(ctx.seed, content_words=CONTENT_WORDS, tx_size=TX_SIZE,
                               n_tables=p["tables"])
        for b in range(n_batches):
            inputs.write_batch(inputs.wire_table(gen.events(p["events"])),
                               os.path.join(out, "log", f"batch_{b:05d}.parquet"))

    return inputs.cached(ctx.cache, "multi_table_sink", ctx.seed,
                         dict(p, batches=n_batches), build)


def multi_table_sink(ctx: Context) -> Result:
    """Closed loop over wire-format (JSON payload) batches spanning
    ``tables`` tables: each batch goes through ``MultiTableEngine.apply_wire_batch``
    into the lake, then through the migration half —
    ``write_statement_streams`` and ``apply_statement_stream`` into one
    in-process DuckDB connection per channel, applied one after another."""
    import duckdb

    from debezium_spark.schema import REPO_PAYLOAD_SCHEMA
    from debezium_spark.sink import replay as sink_replay
    from debezium_spark.streaming.multi import MultiTableEngine, TableSpec

    p = ctx.params("multi_table_sink")
    n_batches = int(math.ceil(ctx.seconds / p["sec_per_batch"])) + 2
    src = _wire_inputs(ctx, p, n_batches)
    tables = [f"t{k}" for k in range(p["tables"])]
    specs = [TableSpec(inputs.DB, t, REPO_PAYLOAD_SCHEMA, KEY, n_buckets=N_BUCKETS)
             for t in tables]
    threads = min(4, os.cpu_count() or 1)

    def bootstrap(i: int):
        engine = MultiTableEngine(ctx.spark, ctx.path(f"multi_{i}"), specs,
                                  max_parallel_tables=threads)
        targets = {}
        for t in tables:
            con = duckdb.connect()
            con.execute(f'create schema "{inputs.DB}"')
            con.execute(f'create table "{inputs.DB}"."{t}" (repo varchar, path varchar, '
                        '"commit" varchar, lang varchar, content varchar)')
            targets[t] = con
        return engine, targets

    made, setup, setup_cpu = _timed_setups(ctx, bootstrap)
    engine, targets = made[-1]
    for _, tg in made[:-1]:
        for con in tg.values():
            con.close()
    stmt_root = ctx.path("statements")
    fail_sql = ctx.path("fail.sql")
    logs = _log_files(src)

    def one_batch(i: int, path: str):
        """Wire batch ``i`` through the lake, then the sink: (lake s, total
        s, statements, units applied, units failed), or None if it raised."""
        wire = ctx.spark.read.parquet(os.path.dirname(path))
        t0 = time.perf_counter()
        try:
            engine.apply_wire_batch(wire, batch_id=f"w{i:05d}")
        except Exception as e:
            print(f"multi_table_sink: apply raised {e!r}", flush=True)
            return None
        t1 = time.perf_counter()
        counts = sink_replay.write_statement_streams(wire, specs, stmt_root, batch_id=i)
        ok = bad = 0
        for (db, t), n in counts.items():
            o, b = sink_replay.apply_statement_stream(
                os.path.join(stmt_root, f"{db}.{t}", f"batch-{i:06d}"),
                targets[t].execute, fail_sql_path=fail_sql)
            ok, bad = ok + o, bad + b
        return t1 - t0, time.perf_counter() - t0, sum(counts.values()), ok, bad

    # no warm-up: the window starts with batch 0, cold. At two tables a cold
    # batch costs ~2.5 times a warm one, mostly JIT compilation of the
    # per-table plans, and a warm-up batch would not fit the time budget
    # (README); the cold batch's CPU time varies less than a warm one's
    warmup = warmup_cpu = 0.0
    attempted = failed = 0
    lake_s, total_s, cpus, stmts, sink_s = [], [], [], 0, 0.0
    units_ok = units_bad = 0
    w0, j0, c0 = time.time(), ctx.jobs(), ctx.cpu_s()
    for i, path in enumerate(logs):
        if time.time() - w0 >= ctx.seconds and lake_s:
            break
        got, _, c = ctx.timed(one_batch, i, path)
        cpus.append(c)
        attempted += 1
        if got is None:
            failed += 1
            break
        lake_s.append(got[0])
        total_s.append(got[1])
        sink_s += got[1] - got[0]
        stmts += got[2]
        units_ok += got[3]
        units_bad += got[4]
        attempted += got[3] + got[4]
        failed += got[4]
    t = time.perf_counter()
    engine.flush_tx_carry()
    flush_s = time.perf_counter() - t
    w1, j1, c1 = time.time(), ctx.jobs(), ctx.cpu_s()
    lake_tables = [engine.table(inputs.DB, t) for t in tables]

    done = logs[: len(lake_s)]
    attempted += 2
    bad_lake = oracle.check_lake(
        ctx.spark, dict(zip(tables, lake_tables)), done,
        ctx.path("digest"), wire=True)
    bad_sink = oracle.check_sink(targets, inputs.DB, done)
    failed += (1 if bad_lake else 0) + (1 if bad_sink else 0)
    for con in targets.values():
        con.close()
    eps = statistics.median(p["events"] / s for s in lake_s)
    return Result(
        events_per_s=eps,
        latency_p50_ms=statistics.median(total_s) * 1000,
        setup_samples=setup, setup_cpu=setup_cpu, warmup_s=warmup, warmup_cpu_s=warmup_cpu,
        attempted=attempted, failed=failed,
        window=(w0, w1), batches=len(lake_s), tables=lake_tables, cpu_s=c1 - c0,
        extra={"events_in": len(lake_s) * p["events"], "jobs": j1 - j0,
               "stmts": stmts, "units_applied": units_ok, "units_failed": units_bad,
               "samples": {"lake_s": lake_s, "total_s": total_s, "batch_cpu_s": cpus}},
        named={
            "replay_events_per_s": (eps, "events/s"),
            "sink_stmts_per_s": (stmts / sink_s, "stmts/s"),
            "batch_p50_ms": (statistics.median(total_s) * 1000, "ms"),
            "flush_ms": (flush_s * 1000, "ms"),
            "batches_applied": (len(lake_s), "count"),
            "oracle_mismatches_lake": (bad_lake, "rows"),
            "oracle_mismatches_sink": (bad_sink, "rows"),
        },
    )


WORKLOADS = {
    "bulk_replay": bulk_replay,
    "tail_stream": tail_stream,
    "read_after_write": read_after_write,
    "multi_table_sink": multi_table_sink,
}
