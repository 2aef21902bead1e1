"""Transaction-aligned batch segmentation: a transaction straddling two
batch files must never commit as two fenced commits (reference applies
whole transactions — TransactionReplayTask.java; the fork's parse patch
switches queues only on XID boundaries)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from debezium_spark import CdcEngine, LakeTable

ENV_DDL = (
    "before struct<repo:string,path:string,content:string>, "
    "after struct<repo:string,path:string,content:string>, "
    "op string, ts_ms long, "
    "source struct<file:string,pos:bigint,gtid:string,snapshot:string,"
    "db:string,table:string,ts_ms:bigint>, "
    "transaction struct<id:string,total_order:bigint,data_collection_order:bigint>"
)


def _env(spark, rows):
    """rows: (pos, op, path, content, tx_id|None)."""
    data = []
    for pos, op, path, content, tx in rows:
        pay = {"repo": "r0", "path": path, "content": content}
        data.append({
            "before": pay if op in ("u", "d") else None,
            "after": pay if op != "d" else None,
            "op": op,
            "ts_ms": 1000 + pos,
            "source": {"file": "binlog.000001", "pos": pos, "gtid": None,
                       "snapshot": None, "db": "app", "table": "t",
                       "ts_ms": 1000 + pos},
            "transaction": None if tx is None else
                {"id": tx, "total_order": pos, "data_collection_order": pos},
        })
    return spark.createDataFrame(data, ENV_DDL)


def _write_batch(spark, d, i, rows):
    _env(spark, rows).write.mode("overwrite").parquet(
        os.path.join(d, f"batch_{i:05d}.parquet")
    )


def test_straddling_transaction_never_commits_partially(spark, tmp_path):
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    # tx1 = pos 1-3 (closed in batch0); tx2 = pos 4-7 (straddles batches)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"),
        (2, "c", "b", "v1", "tx1"),
        (3, "c", "c", "v1", "tx1"),
        (4, "c", "d", "v1", "tx2"),
        (5, "u", "a", "v2", "tx2"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)

    # crash point: only batch0 exists and the caller has NOT declared the
    # log final — tx2 must be entirely deferred
    engine.replay(bdir, final=False)
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v1", "b": "v1", "c": "v1"}  # no partial tx2
    assert table.fence() == ("binlog.000001", 3)

    # batch1 arrives with tx2's end (+ tx3, itself the new open tail)
    _write_batch(spark, bdir, 1, [
        (6, "u", "b", "v2", "tx2"),
        (7, "d", "c", None, "tx2"),
        (8, "c", "e", "v1", "tx3"),
        (9, "u", "e", "v2", "tx3"),
    ])
    engine.replay(bdir)  # log complete (default final): tx3 flushes at the end
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v2", "b": "v2", "d": "v1", "e": "v2"}
    assert table.fence() == ("binlog.000001", 9)

    # idempotent re-replay
    assert engine.replay(bdir) == []
    assert {r["path"]: r["content"] for r in table.read().collect()} == state


def test_whole_batch_single_open_tx_defers_until_closed(spark, tmp_path):
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "big"),
        (2, "c", "b", "v1", "big"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)
    engine.replay(bdir, final=False)
    # not final: the lone open transaction stays deferred
    assert table.read().count() == 0 and table.fence() is None
    engine.flush_tx_carry()
    assert table.read().count() == 2
    assert table.fence() == ("binlog.000001", 2)


def test_null_tx_rows_are_autocommit_and_never_deferred(spark, tmp_path):
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", None),
        (2, "c", "b", "v1", None),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)
    engine.replay(bdir)
    assert table.read().count() == 2
    assert table.fence() == ("binlog.000001", 2)


def test_null_pos_rows_survive_tx_split_into_quarantine(spark, tmp_path):
    """Review regression: a null-pos poison row in a tx-bearing batch fell
    through BOTH sides of the split (pos<=b and pos>b are NULL for it) and
    vanished before any validity probe."""
    import json
    from pyspark.sql.types import StructType
    from debezium_spark.operators.quarantine import read_quarantine
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, WIRE_SCHEMA,
    )

    nullable_wire = StructType.fromJson(
        json.loads(
            json.dumps(WIRE_SCHEMA.jsonValue()).replace('"nullable": false', '"nullable": true')
        )
    )
    spec = TableSpec("app", "t", StructType.fromDDL("k long, v string"), ["k"],
                     n_buckets=2)
    mte = MultiTableEngine(spark, str(tmp_path / "lake"), [spec])

    def row(pos, k, tx):
        return {
            "before_json": None, "after_json": f'{{"k": {k}, "v": "x"}}',
            "op": "c", "ts_ms": 0,
            "source": {"file": "f", "pos": pos, "gtid": None, "snapshot": None,
                       "db": "app", "table": "t", "ts_ms": 0},
            "transaction": None if tx is None else
                {"id": tx, "total_order": 0, "data_collection_order": 0},
        }

    wire = spark.createDataFrame(
        [row(1, 1, "tx1"), row(2, 2, "tx2"), row(None, 9, None)], nullable_wire
    )
    mte.apply_wire_batch(wire, "b0")  # tx2 deferred; poison row must land
    q = read_quarantine(spark, mte.table("app", "t").root)
    assert q.count() == 1
    assert {r["k"] for r in mte.table("app", "t").read().collect()} == {1}


def test_tx_carry_survives_engine_restart(spark, tmp_path):
    """Review regression: the carry lived only in driver memory — a
    streaming restart (checkpoint already past the epoch) permanently lost
    the deferred transaction head. It is now persisted under the lake root
    and reloaded by a fresh engine."""
    from pyspark.sql.types import StructType
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, WIRE_SCHEMA,
    )

    def row(pos, k, tx):
        return {
            "before_json": None, "after_json": f'{{"k": {k}, "v": "x"}}',
            "op": "c", "ts_ms": 0,
            "source": {"file": "f", "pos": pos, "gtid": None, "snapshot": None,
                       "db": "app", "table": "t", "ts_ms": 0},
            "transaction": {"id": tx, "total_order": 0, "data_collection_order": 0},
        }

    spec = lambda: [TableSpec("app", "t", StructType.fromDDL("k long, v string"),  # noqa: E731
                              ["k"], n_buckets=2)]
    m1 = MultiTableEngine(spark, str(tmp_path / "lake"), spec())
    m1.apply_wire_batch(
        spark.createDataFrame([row(1, 1, "tx1"), row(2, 2, "tx2")], WIRE_SCHEMA), "b0"
    )
    assert {r["k"] for r in m1.table("app", "t").read().collect()} == {1}

    # "restart": brand-new engine instance on the same root
    m2 = MultiTableEngine(spark, str(tmp_path / "lake"), spec())
    m2.apply_wire_batch(
        spark.createDataFrame([row(3, 3, "tx2"), row(4, 4, "tx3")], WIRE_SCHEMA), "b1"
    )
    # tx2's head (k=2, deferred by m1) + its tail (k=3) both applied
    assert {r["k"] for r in m2.table("app", "t").read().collect()} == {1, 2, 3}
    m2.flush_tx_carry()
    assert {r["k"] for r in m2.table("app", "t").read().collect()} == {1, 2, 3, 4}


def test_multi_table_tx_carry(spark, tmp_path):
    """The multi-table dispatcher defers the open tail transaction across
    apply_wire_batch calls; flush_tx_carry applies it at end of stream."""
    from pyspark.sql.types import StructType
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, WIRE_SCHEMA,
    )

    spec = TableSpec("app", "t", StructType.fromDDL("k long, v string"), ["k"],
                     n_buckets=2)
    mte = MultiTableEngine(spark, str(tmp_path / "lake"), [spec])

    def row(pos, k, v, tx):
        return {
            "before_json": None, "after_json": f'{{"k": {k}, "v": "{v}"}}',
            "op": "c", "ts_ms": pos,
            "source": {"file": "f", "pos": pos, "gtid": None, "snapshot": None,
                       "db": "app", "table": "t", "ts_ms": pos},
            "transaction": {"id": tx, "total_order": pos,
                            "data_collection_order": pos},
        }

    b0 = spark.createDataFrame([row(1, 1, "a", "tx1"), row(2, 2, "a", "tx2")],
                               WIRE_SCHEMA)
    mte.apply_wire_batch(b0, "b0")
    # tx2 is the open tail: only tx1 committed
    assert {r["k"] for r in mte.table("app", "t").read().collect()} == {1}
    b1 = spark.createDataFrame([row(3, 3, "a", "tx2"), row(4, 4, "a", "tx3")],
                               WIRE_SCHEMA)
    mte.apply_wire_batch(b1, "b1")
    assert {r["k"] for r in mte.table("app", "t").read().collect()} == {1, 2, 3}
    mte.flush_tx_carry()
    assert {r["k"] for r in mte.table("app", "t").read().collect()} == {1, 2, 3, 4}
    assert mte.table("app", "t").fence()[1] == 4


def test_replay_probe_is_one_job_per_batch(spark, tmp_path):
    """VERDICT r3 item 5: the tail-tx boundary rides the SAME fused
    aggregation as fence/ddl/bad — exactly ONE driver aggregation action
    (.first) per applied batch on the tx-aligned path, including batches
    prefixed by a carried transaction (the carry meta makes the split a
    zero-job plan transform)."""
    import pyspark.sql

    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    # every batch ends with an open tx, so batches 1 and 2 are carry-prefixed
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx1"),
        (3, "c", "c", "v1", "tx2"),
    ])
    _write_batch(spark, bdir, 1, [
        (4, "u", "c", "v2", "tx2"), (5, "u", "a", "v2", "tx3"),
        (6, "u", "b", "v2", "tx3"),
    ])
    _write_batch(spark, bdir, 2, [
        (7, "u", "c", "v3", "tx3"), (8, "c", "d", "v1", "tx4"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)

    calls = {"first": 0}
    cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    orig_first = cls.first

    def counting_first(self):
        calls["first"] += 1
        return orig_first(self)

    cls.first = counting_first
    try:
        engine.replay(bdir, final=False)
    finally:
        cls.first = orig_first
    assert calls["first"] == 3, f"expected 1 probe job per batch, got {calls['first']}"

    # and the result is still the correct tx-aligned state: tx4 deferred
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v2", "b": "v2", "c": "v3"}
    assert table.fence() == ("binlog.000001", 7)
    engine.flush_tx_carry()
    assert {r["path"]: r["content"] for r in table.read().collect()}["d"] == "v1"


def test_carry_meta_survives_restart(spark, tmp_path):
    """The persisted carry's meta reloads on restart, so a restarted engine
    keeps the single-probe path AND the same split semantics."""
    from debezium_spark.streaming.engine import load_tx_carry_meta

    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx2"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    CdcEngine(spark, table).replay(bdir, final=False)
    meta = load_tx_carry_meta(str(tmp_path / "t"))
    assert meta == {"tx": "tx2", "p": 2, "f": "binlog.000001",
                    "nd": False, "nb": False}

    # fresh engine (restart): batch1 closes tx2, opens tx3
    _write_batch(spark, bdir, 1, [
        (3, "u", "b", "v2", "tx2"), (4, "c", "c", "v1", "tx3"),
    ])
    e2 = CdcEngine(spark, LakeTable(spark, str(tmp_path / "t"), ["repo", "path"]))
    e2.replay(bdir, final=False)
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v1", "b": "v2"}  # tx3 deferred
    meta = load_tx_carry_meta(str(tmp_path / "t"))
    assert meta["tx"] == "tx3" and meta["p"] == 4


def test_unaligned_replay_flushes_preexisting_carry_first(spark, tmp_path):
    """Review r4 deep-pass: replay(tx_aligned=False) over a table with a
    previously persisted carry must flush the carried transaction BEFORE
    applying new batches — applying first would advance the fence past the
    carry and the end-of-loop flush would fence-skip it into oblivion."""
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx2"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    CdcEngine(spark, table).replay(bdir, final=False)  # tx2 deferred to carry
    assert table.read().count() == 1

    bdir2 = str(tmp_path / "b2")
    os.makedirs(bdir2)
    _write_batch(spark, bdir2, 0, [(3, "c", "c", "v1", None)])
    # fresh engine, alignment OFF: the carried tx2 row must still land
    e2 = CdcEngine(spark, LakeTable(spark, str(tmp_path / "t"), ["repo", "path"]))
    e2.replay(bdir2, tx_aligned=False)
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v1", "b": "v1", "c": "v1"}, state


def test_all_null_pos_batch_quarantines_in_replay(spark, tmp_path):
    """Review r4 deep-pass: a batch file whose every row has a null offset
    must route through quarantine in the replay loop, not silently skip."""
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    import json as _json
    from pyspark.sql import Row
    rows = [
        {"before": None, "after": {"repo": "r0", "path": "x", "content": "v"},
         "op": "c", "ts_ms": 1,
         "source": {"file": "binlog.000001", "pos": None, "gtid": None,
                    "snapshot": None, "db": "app", "table": "t", "ts_ms": 1},
         "transaction": None},
    ]
    nullable = ENV_DDL  # pos is bigint nullable in this DDL
    spark.createDataFrame(rows, nullable).write.mode("overwrite").parquet(
        os.path.join(bdir, "batch_00000.parquet"))
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)
    engine.replay(bdir)
    assert table.read().count() == 0
    q = engine.read_quarantine()
    assert q.count() == 1 and q.first()["reason"] == "null_offset"


def test_multi_dispatch_probe_is_one_job_per_batch(spark, tmp_path):
    """The multi-table dispatcher splits tx-carrying batches with ONE
    .first() probe per batch (fused_tail_probe + carry meta), mirroring the
    single-table replay contract."""
    from pyspark.sql.types import StructType
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, WIRE_SCHEMA,
    )

    def row(pos, k, tx):
        return {
            "before_json": None, "after_json": f'{{"k": {k}, "v": "x"}}',
            "op": "c", "ts_ms": 0,
            "source": {"file": "f", "pos": pos, "gtid": None, "snapshot": None,
                       "db": "app", "table": "t", "ts_ms": 0},
            "transaction": {"id": tx, "total_order": 0, "data_collection_order": 0},
        }

    spec = TableSpec("app", "t", StructType.fromDDL("k string, v string"),
                     ["k"], n_buckets=2)
    mte = MultiTableEngine(spark, str(tmp_path / "lake"), [spec],
                           auto_register=False, max_parallel_tables=1)
    b0 = spark.createDataFrame([row(1, '"a"', "tx1"), row(2, '"b"', "tx2")], WIRE_SCHEMA)
    b1 = spark.createDataFrame([row(3, '"b2"', "tx2"), row(4, '"c"', "tx3")], WIRE_SCHEMA)

    calls = {"first": 0}
    cls = type(spark.range(1))
    orig = cls.first

    def counting(self):
        calls["first"] += 1
        return orig(self)

    cls.first = counting
    try:
        mte.apply_wire_batch(b0, "b0")   # no carry yet
        n0 = calls["first"]
        mte.apply_wire_batch(b1, "b1")   # carry-prefixed
        n1 = calls["first"] - n0
    finally:
        cls.first = orig
    assert n0 == 1, f"fresh batch: expected 1 probe, got {n0}"
    assert n1 == 1, f"carry-prefixed batch: expected 1 probe, got {n1}"
    state = {r["k"]: r["v"] for r in mte.table("app", "t").read().collect()}
    # tx1+tx2 committed (tx2 closed by tx3's appearance); tx3 deferred
    assert state == {"a": "x", "b": "x", "b2": "x"}


def _state(table):
    return {r["path"]: r["content"] for r in table.read().collect()}


class _CountJobs:
    """Counts the driver probe actions (``.first()`` and ``.count()``) run
    inside the block, on the concrete (classic) DataFrame class."""

    def __init__(self, spark):
        self.cls = type(spark.range(1))
        self.n = 0

    def __enter__(self):
        self.orig = (self.cls.first, self.cls.count)
        first, count = self.orig

        def counting_first(df):
            self.n += 1
            return first(df)

        def counting_count(df):
            self.n += 1
            return count(df)

        self.cls.first, self.cls.count = counting_first, counting_count
        return self

    def __exit__(self, *exc):
        self.cls.first, self.cls.count = self.orig


def _carry_meta_dirs(root):
    base = os.path.join(root, "_tx_carry")
    return [os.path.join(base, v) for v in sorted(os.listdir(base))]


def test_carry_without_meta_recomputes_it_on_restart(spark, tmp_path):
    """A crash between the carry's parquet write and its meta rename leaves
    no ``_carry_meta.json`` (or, from a non-atomic writer, an empty one). A
    restarted engine recomputes the meta from the carry once — on the split
    path and on the flush path — and lands on the clean replay's state."""
    batches = [
        [(1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx2")],
        [(3, "u", "b", "v2", "tx2"), (4, "c", "c", "v1", "tx3")],
    ]
    clean_dir = str(tmp_path / "clean_b")
    os.makedirs(clean_dir)
    for i, rows in enumerate(batches):
        _write_batch(spark, clean_dir, i, rows)
    clean = LakeTable(spark, str(tmp_path / "clean"), ["repo", "path"], n_buckets=2)
    CdcEngine(spark, clean).replay(clean_dir)

    root = str(tmp_path / "t")
    table = LakeTable(spark, root, ["repo", "path"], n_buckets=2)

    def restart():
        return CdcEngine(spark, LakeTable(spark, root, ["repo", "path"]))

    def meta_path():
        (vdir,) = _carry_meta_dirs(root)
        return os.path.join(vdir, "_carry_meta.json")

    for i, rows in enumerate(batches):
        bdir = str(tmp_path / f"b{i}")
        os.makedirs(bdir)
        _write_batch(spark, bdir, 0, rows)
        if i:
            open(meta_path(), "w").close()  # torn
        restart().replay(bdir, final=False)
    assert _state(table) == {"a": "v1", "b": "v2"}  # tx3 deferred
    assert table.fence() == ("binlog.000001", 3)
    os.remove(meta_path())
    restart().flush_tx_carry()
    assert _state(table) == _state(clean)
    assert table.fence() == clean.fence()


def test_stream_carry_then_replay_costs_one_probe_per_batch(spark, tmp_path):
    """A carry deferred by ``apply_stream_batch`` is written with its meta,
    so a fresh ``replay`` on the same root splits the carry-prefixed batch
    with ONE probe job — the same as a replay-written carry."""
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, ["repo", "path"], n_buckets=2)
    CdcEngine(spark, table).apply_stream_batch(
        _env(spark, [(1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx1"),
                     (3, "c", "c", "v1", "tx2")]),
        "epoch-0",
    )
    assert _state(table) == {"a": "v1", "b": "v1"}  # tx2 deferred

    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (4, "u", "c", "v2", "tx2"), (5, "u", "a", "v2", "tx3"),
    ])
    engine = CdcEngine(spark, LakeTable(spark, root, ["repo", "path"]))
    with _CountJobs(spark) as jobs:
        engine.replay(bdir, final=False)
    assert jobs.n == 1, f"expected 1 probe job, got {jobs.n}"
    assert _state(table) == {"a": "v1", "b": "v1", "c": "v2"}  # tx3 deferred
    assert table.fence() == ("binlog.000001", 4)


def test_flush_takes_fence_and_flags_from_the_carry_meta(spark, tmp_path):
    """``flush_tx_carry`` applies the deferred tail with zero probe jobs
    (fence from the meta's ``f``/``p``, barrier and malformed-row flags from
    ``nd``/``nb``) and lands on the one-shot replay's final state."""
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx1"),
        (3, "u", "a", "v2", "tx2"), (4, "c", "c", "v1", "tx2"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)
    engine.replay(bdir, final=False)
    assert _state(table) == {"a": "v1", "b": "v1"}
    with _CountJobs(spark) as jobs:
        engine.flush_tx_carry()
    assert jobs.n == 0, f"flush ran {jobs.n} probe jobs"
    assert _state(table) == {"a": "v2", "b": "v1", "c": "v1"}
    assert table.fence() == ("binlog.000001", 4)
    assert not os.listdir(os.path.join(str(tmp_path / "t"), "_tx_carry"))


#: one straddling-transaction input, batch by batch, with the state, fence
#: and persisted carry meta every driver must show after each batch (tx2
#: straddles all three batches; b1 is one still-open transaction)
_DRIVER_STEPS = [
    ([(1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx1"),
      (3, "c", "c", "v1", "tx2")],
     {"a": "v1", "b": "v1"}, 2, {"tx": "tx2", "p": 3}),
    ([(4, "u", "c", "v2", "tx2"), (5, "u", "a", "v2", "tx2")],
     {"a": "v1", "b": "v1"}, 2, {"tx": "tx2", "p": 5}),
    ([(6, "d", "b", None, "tx2"), (7, "c", "d", "v1", "tx3"),
      (8, "u", "d", "v2", "tx3")],
     {"a": "v2", "c": "v2"}, 6, {"tx": "tx3", "p": 8}),
]


@pytest.mark.parametrize("driver", ["replay", "stream", "multi"])
def test_every_driver_carries_the_same_way(spark, tmp_path, driver):
    """``replay``, ``apply_stream_batch`` epochs and the multi-table
    dispatcher share one carry: after every batch and after the flush they
    agree on rows, fence and the persisted meta (the wire form has no
    single key, so its malformed-row flag ``nb`` is recorded as unknown)."""
    from debezium_spark.streaming.engine import load_tx_carry_meta
    from debezium_spark.streaming.multi import MultiTableEngine, TableSpec, envelope_to_wire
    from pyspark.sql.types import StructType

    if driver == "multi":
        payload = StructType.fromDDL("repo string, path string, content string")
        mte = MultiTableEngine(
            spark, str(tmp_path / "lake"),
            [TableSpec("app", "t", payload, ["repo", "path"], n_buckets=2)],
            auto_register=False, max_parallel_tables=1,
        )
        root, table = mte.root, mte.table("app", "t")
        step = lambda i, env: mte.apply_wire_batch(envelope_to_wire(env), f"b{i}")  # noqa: E731
        flush = mte.flush_tx_carry
    else:
        root = str(tmp_path / "t")
        table = LakeTable(spark, root, ["repo", "path"], n_buckets=2)
        engine = CdcEngine(spark, table)
        flush = engine.flush_tx_carry

        def step(i, env):
            if driver == "stream":
                return engine.apply_stream_batch(env, f"epoch-{i}")
            bdir = str(tmp_path / f"b{i}")
            env.write.parquet(os.path.join(bdir, "batch_00000.parquet"))
            return engine.replay(bdir, final=False)

    for i, (rows, want, fence_pos, want_meta) in enumerate(_DRIVER_STEPS):
        step(i, _env(spark, rows))
        assert _state(table) == want, f"batch {i}"
        assert table.fence() == ("binlog.000001", fence_pos), f"batch {i}"
        meta = load_tx_carry_meta(root)
        assert meta == {**want_meta, "f": "binlog.000001", "nd": False,
                        "nb": driver == "multi"}, f"batch {i}"
    flush()
    assert _state(table) == {"a": "v2", "c": "v2", "d": "v2"}
    assert table.fence() == ("binlog.000001", 8)
    assert load_tx_carry_meta(root) is None
