"""Seeded load generator for the CDC benchmark.

Produces an internally consistent database change log: the generator keeps
the source table's live state, so every ``c`` creates an absent key, every
``u``/``d`` names a live key with its exact current row as the before image,
and every PK-changing update renames a live key to an absent one. A SQL sink
can therefore replay the log statement by statement, and the final state is
defined without reference to the engine under test.

Rows are source-file rows (``repo``, ``path``, ``commit``, ``lang``,
``content``) with ``content_words`` words of text (~500 bytes at 64 words);
repos are log-uniform (zipf-like) skewed so a few repos are hot. Positions
are a dense global event index; transactions are contiguous runs of
``tx_size`` DML events. Everything derives from ``numpy.random`` seeded with
the workload seed, so the same seed writes byte-identical inputs.

Generation runs in plain Python/numpy/pyarrow, outside Spark, and its
output is cached on disk keyed by (seed, parameters, this file's hash):
input generation is load-generator time, not engine set-up time.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = [
    "def", "return", "class", "import", "for", "while", "if", "else",
    "merge", "spark", "batch", "stream", "offset", "commit", "table",
    "schema", "parse", "apply", "window", "shuffle", "bucket", "fence",
]
LANGS = ["py", "java", "c", "go", "rs", "md"]
PAYLOAD_FIELDS = ["repo", "path", "commit", "lang", "content"]
LOG_FILE = "binlog.000001"
DB = "inventory"
BODY_POOL = 4096

_STR = pa.string()
PAYLOAD_T = pa.struct([pa.field(f, _STR) for f in PAYLOAD_FIELDS])
SOURCE_T = pa.struct([
    pa.field("file", _STR, nullable=False),
    pa.field("pos", pa.int64(), nullable=False),
    pa.field("gtid", _STR),
    pa.field("snapshot", _STR),
    pa.field("db", _STR),
    pa.field("table", _STR),
    pa.field("ts_ms", pa.int64()),
])
TX_T = pa.struct([
    pa.field("id", _STR),
    pa.field("total_order", pa.int64()),
    pa.field("data_collection_order", pa.int64()),
])
ENVELOPE_SCHEMA = pa.schema([
    pa.field("before", PAYLOAD_T),
    pa.field("after", PAYLOAD_T),
    pa.field("op", _STR, nullable=False),
    pa.field("ts_ms", pa.int64()),
    pa.field("source", SOURCE_T, nullable=False),
    pa.field("transaction", TX_T),
])
WIRE_SCHEMA = pa.schema([
    pa.field("before_json", _STR),
    pa.field("after_json", _STR),
    pa.field("op", _STR, nullable=False),
    pa.field("ts_ms", pa.int64()),
    pa.field("source", SOURCE_T, nullable=False),
    pa.field("transaction", TX_T),
])


def table_of(repo: str, n_tables: int) -> str:
    """Channel table of a key: derived from the repo (part of the key), so
    a key's whole history, PK renames included, stays in one table."""
    return f"t{zlib.crc32(repo.encode()) % n_tables}"


class ChangeLog:
    """Stateful generator of one source table's change log."""

    def __init__(self, seed: int, n_repos: int = 100, dirs: int = 20,
                 files: int = 50, content_words: int = 64, tx_size: int = 10,
                 n_tables: int = 1, table: str = "repo_files") -> None:
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.n_repos = n_repos
        self.dirs = dirs
        self.files = files
        self.tx_size = tx_size
        self.n_tables = n_tables
        self.table = table
        idx = self.rng.integers(0, len(WORDS), size=(BODY_POOL, content_words))
        self.bodies = [" ".join(WORDS[i] for i in row) for row in idx]
        self.live: dict[tuple[str, str], tuple[str, str, str]] = {}
        self._by_repo: dict[str, list[tuple[str, str]]] = {}
        self._slot: dict[tuple[str, str], int] = {}
        self.pos = 0
        self._dml = 0  # DML events so far: transaction numbering
        self.ddl_count = 0
        self._u: list[float] = []  # uniform draws, taken from the end

    def _uniform(self) -> float:
        """One uniform draw in [0, 1); numpy draws them in blocks, as one
        call per scalar would dominate generation time."""
        if not self._u:
            self._u = self.rng.random(1 << 16).tolist()
        return self._u.pop()

    def _int(self, n: int) -> int:
        """Uniform integer in [0, n)."""
        return int(self._uniform() * n)

    # ---- state ------------------------------------------------------------

    def _add(self, key, row) -> None:
        self.live[key] = row
        lst = self._by_repo.setdefault(key[0], [])
        self._slot[key] = len(lst)
        lst.append(key)

    def _remove(self, key) -> None:
        del self.live[key]
        lst = self._by_repo[key[0]]
        i = self._slot.pop(key)
        last = lst.pop()
        if last != key:
            lst[i] = last
            self._slot[last] = i

    def _repo(self) -> str:
        u = self._uniform()
        rank = min(int((self.n_repos + 1) ** u), self.n_repos)
        return f"repo_{rank:04d}"

    def _new_key(self, repo: str):
        for _ in range(8):
            d = self._int(self.dirs)
            f = self._int(self.files)
            lang = LANGS[self._int(len(LANGS))]
            key = (repo, f"src/d{d}/f{f}.{lang}")
            if key not in self.live:
                return key
        return None

    def _live_key(self):
        lst = self._by_repo.get(self._repo())
        if not lst:
            if not self.live:
                return None
            # the hot-repo draw found nothing live: any live key
            repos = [r for r, v in self._by_repo.items() if v]
            lst = self._by_repo[repos[self._int(len(repos))]]
        return lst[self._int(len(lst))]

    def _row(self, key, pos: int) -> tuple[str, str, str]:
        body = self.bodies[self._int(BODY_POOL)]
        lang = key[1].rsplit(".", 1)[1]
        return (f"{self.seed:08x}{pos:032x}", lang, f"{body} #v{pos}")

    # ---- events -----------------------------------------------------------

    def snapshot(self, n_rows: int) -> list[dict]:
        """Initial table state as op='r' events pinned at pos -1."""
        out = []
        while len(out) < n_rows:
            key = self._new_key(self._repo())
            if key is None:
                continue
            row = self._row(key, -1 - len(out))
            self._add(key, row)
            out.append(self._event("r", None, key, row, -1, tx=False))
        return out

    def _event(self, op, bkey, akey, arow, pos, brow=None, tx=True) -> dict:
        def payload(key, row):
            if key is None:
                return None
            return {"repo": key[0], "path": key[1], "commit": row[0],
                    "lang": row[1], "content": row[2]}

        table = self.table
        k = akey or bkey
        if self.n_tables > 1:
            table = table_of(k[0], self.n_tables)
        txn = None
        if tx:
            t = self._dml // self.tx_size
            o = self._dml % self.tx_size
            txn = {"id": f"tx-{t}", "total_order": o, "data_collection_order": o}
        return {
            "before": payload(bkey, brow),
            "after": payload(akey, arow),
            "op": op,
            "ts_ms": 1_700_000_000_000 + max(pos, 0),
            "source": {"file": LOG_FILE, "pos": pos, "gtid": f"gtid:{pos}",
                       "snapshot": "true" if op == "r" else None, "db": DB,
                       "table": table, "ts_ms": 1_700_000_000_000 + max(pos, 0)},
            "transaction": txn,
        }

    def events(self, n: int) -> list[dict]:
        """``n`` ordered DML events continuing the log."""
        out = []
        u = [self._uniform() for _ in range(n)]
        for i in range(n):
            pos = self.pos
            r = u[i]
            ev = None
            if r >= 0.60 and self.live:
                key = self._live_key()
                brow = self.live[key]
                if r < 0.85:
                    row = self._row(key, pos)
                    self.live[key] = row
                    ev = self._event("u", key, key, row, pos, brow)
                elif r < 0.95:
                    self._remove(key)
                    ev = self._event("d", key, None, None, pos, brow)
                else:
                    nkey = self._new_key(key[0])
                    if nkey is not None:
                        self._remove(key)
                        row = self._row(nkey, pos)
                        self._add(nkey, row)
                        ev = self._event("u", key, nkey, row, pos, brow)
            if ev is None:
                key = self._new_key(self._repo())
                if key is None:  # saturated repo: update a live key instead
                    key = self._live_key()
                    brow = self.live[key]
                    row = self._row(key, pos)
                    self.live[key] = row
                    ev = self._event("u", key, key, row, pos, brow)
                else:
                    row = self._row(key, pos)
                    self._add(key, row)
                    ev = self._event("c", None, key, row, pos)
            out.append(ev)
            self.pos += 1
            self._dml += 1
        return out

    def ddl(self) -> dict:
        """One ``ALTER TABLE … ADD COLUMN`` barrier row (op='l'), outside
        any transaction; it carries no row state."""
        self.ddl_count += 1
        pos = self.pos
        self.pos += 1
        sql = f"ALTER TABLE {self.table} ADD COLUMN extra_{self.ddl_count} STRING"
        after = {f: None for f in PAYLOAD_FIELDS}
        after["content"] = sql
        ev = self._event("l", None, None, None, pos, tx=False)
        ev["after"] = after
        return ev

    def state_digest(self) -> tuple[int, int]:
        """(live rows, sum of 32-bit row digests) — the expected result of
        the benchmark's full-state digest scan (see ``row_digest``)."""
        total = 0
        for key, row in self.live.items():
            total += row_digest(key[0], key[1], row[2])
        return len(self.live), total


def row_digest(repo: str, path: str, content: str) -> int:
    """First 32 bits of sha256(repo \\0 path \\0 content) — the same value
    the Spark digest scan computes with ``sha2``/``conv``."""
    h = hashlib.sha256(f"{repo}\0{path}\0{content}".encode()).hexdigest()
    return int(h[:8], 16)


def envelope_table(events: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(events, schema=ENVELOPE_SCHEMA)


def wire_table(events: list[dict]) -> pa.Table:
    def js(p):
        return None if p is None else json.dumps(p, separators=(",", ":"))

    rows = [
        {"before_json": js(e["before"]), "after_json": js(e["after"]),
         "op": e["op"], "ts_ms": e["ts_ms"], "source": e["source"],
         "transaction": e["transaction"]}
        for e in events
    ]
    return pa.Table.from_pylist(rows, schema=WIRE_SCHEMA)


def write_batch(table: pa.Table, path: str) -> None:
    """One batch = one ``batch_NNNNN.parquet`` directory (the engine's
    batch-file convention), written whole before the caller publishes it."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


# ---- cache ----------------------------------------------------------------

def cached(cache_root: str, name: str, seed: int, params: dict, build,
           keep: int = 16) -> str:
    """Directory holding ``build(dir)``'s output for (name, seed, params,
    generator hash); built once, then reused. Keeps the ``keep`` most
    recently used entries and deletes older ones."""
    with open(__file__, "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()
    key = hashlib.sha256(
        json.dumps([name, seed, params, generator], sort_keys=True).encode()
    ).hexdigest()[:24]
    final = os.path.join(cache_root, f"{name}-{seed}-{key}")
    if os.path.exists(os.path.join(final, "_complete")):
        os.utime(final)
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_complete"), "w") as f:
        f.write("ok")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_root, d)), d)
        for d in os.listdir(cache_root) if not d.endswith(".tmp")
    )
    for _, d in entries[:-keep]:
        shutil.rmtree(os.path.join(cache_root, d), ignore_errors=True)
    return final
