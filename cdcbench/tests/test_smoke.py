"""Self-test of the benchmark.

Runs every workload at its tiny ``smoke`` size through the real entry point
(``run.py``), untraced and traced, and asserts that each metric is emitted
with its unit and that no operation failed. A Spark-free test checks the
DuckDB oracle against the generator's own final state.

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from cdcbench import inputs, oracle  # noqa: E402
from cdcbench.run import E2E_UNITS, WORKLOADS  # noqa: E402
from cdcbench.tracing import PER_LAYER  # noqa: E402

NAMED = {
    "bulk_replay": {"replay_events_per_s": "events/s", "bytes_per_live_row": "bytes"},
    "tail_stream": {"freshness_p50_ms": "ms", "freshness_tail_ms": "ms",
                    "backlog_batches_end": "count", "publisher_late_ms_max": "ms"},
    "read_after_write": {"apply_p50_ms": "ms", "scan_p50_ms": "ms",
                         "lookup_p50_ms": "ms", "lookup_tail_ms": "ms",
                         "bytes_per_live_row": "bytes"},
    "multi_table_sink": {"replay_events_per_s": "events/s", "sink_stmts_per_s": "stmts/s"},
}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "cdcbench", "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "3", "--trace", str(trace),
         "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    report, last = _run(workload, 0)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    assert report["error_rate"] == 0
    assert {k: v["unit"] for k, v in last["metrics"].items()} == E2E_UNITS
    for name, m in last["metrics"].items():
        assert m["value"] > 0, name
    for name in ("events_per_s", "latency_p50_ms", "peak_rss_mb"):
        assert report["e2e"][name] > 0, name
    for name, unit in NAMED[workload].items():
        assert report["named"][name]["unit"] == unit
    assert report["host"]["nproc"] >= 1 and len(report["host"]["loadavg"]) == 3


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    _, last = _run(workload, 1)
    assert last["failed"] == 0
    assert {k: v["unit"] for k, v in last["metrics"].items()} == PER_LAYER
    m = {k: v["value"] for k, v in last["metrics"].items()}
    attributed = sum(v for k, v in m.items() if k.startswith("attr_ms."))
    assert attributed == pytest.approx(m["wall_ms"], rel=1e-6)


def test_oracle_matches_generator_state(tmp_path):
    gen = inputs.ChangeLog(3, content_words=8)
    files = []
    snap = gen.snapshot(300)
    batches = [snap] + [gen.events(500) for _ in range(3)]
    batches[2] = batches[2][:250] + [gen.ddl()] + batches[2][250:]
    for i, evs in enumerate(batches):
        d = str(tmp_path / f"batch_{i:05d}.parquet")
        inputs.write_batch(inputs.envelope_table(evs), d)
        files.append(os.path.join(d, "part-00000.parquet"))
    import duckdb

    con = duckdb.connect()
    oracle.expected_state(con, files)
    got = set(con.execute("select tbl, repo, path, digest from expected").fetchall())
    want = {("repo_files", r, p, hashlib.sha256(row[2].encode()).hexdigest())
            for (r, p), row in gen.live.items()}
    assert got == want
