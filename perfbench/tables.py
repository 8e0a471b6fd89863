"""The two replicated tables, their sqlite targets, and the DuckDB
checks that compare a target with the last-write-wins state of the
generated events.

The DuckDB side never touches Spark or the program: it reads the
generated inputs and the sqlite files directly.
"""

from __future__ import annotations

import os
import sqlite3
import time

import numpy as np

# (column, DuckDB type, Spark type, sqlite type)
ORDERS = [
    ("o_orderkey", "BIGINT", "long", "INTEGER"),
    ("o_custkey", "BIGINT", "long", "INTEGER"),
    ("o_orderstatus", "VARCHAR", "string", "TEXT"),
    ("o_totalprice", "DOUBLE", "double", "REAL"),
    ("o_orderdate", "VARCHAR", "string", "TEXT"),
    ("o_orderpriority", "VARCHAR", "string", "TEXT"),
]
LINEITEM = [
    ("l_orderkey", "BIGINT", "long", "INTEGER"),
    ("l_linenumber", "INTEGER", "int", "INTEGER"),
    ("l_partkey", "BIGINT", "long", "INTEGER"),
    ("l_suppkey", "BIGINT", "long", "INTEGER"),
    ("l_quantity", "DOUBLE", "double", "REAL"),
    ("l_extendedprice", "DOUBLE", "double", "REAL"),
    ("l_discount", "DOUBLE", "double", "REAL"),
    ("l_tax", "DOUBLE", "double", "REAL"),
    ("l_returnflag", "VARCHAR", "string", "TEXT"),
    ("l_linestatus", "VARCHAR", "string", "TEXT"),
    ("l_shipdate", "VARCHAR", "string", "TEXT"),
]
TABLES = {"orders": ORDERS, "lineitem": LINEITEM}
KEYS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"]}
SQLITE_INIT = ["PRAGMA journal_mode=WAL", "PRAGMA synchronous=OFF"]


def columns(table: str) -> list[str]:
    return [c for c, *_ in TABLES[table]]


def spark_ddl(table: str) -> str:
    return ", ".join(f"{c} {st}" for c, _, st, _ in TABLES[table])


def create_target(path: str, tables: list[str]) -> None:
    con = sqlite3.connect(path)
    for t in tables:
        cols = ", ".join(f"{c} {lt}" for c, _, _, lt in TABLES[t])
        con.execute(f"CREATE TABLE {t} ({cols}, PRIMARY KEY ({', '.join(KEYS[t])}))")
    con.commit()
    con.close()


# --- generated changes -----------------------------------------------------
# YCSB's default Zipfian constant (ZipfianGenerator.ZIPFIAN_CONSTANT)
ZIPF_S = 0.99
DELETE_SHARE = 0.05  # stand-in: perfbench/METRICS.md, "Workload parameters"


def zipf_keys(rng, n_keys: int, size: int):
    """``size`` Zipf(ZIPF_S) draws over ``n_keys`` keys; rank r goes to a
    seeded random key so hot keys spread over the key range."""
    w = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(size), side="right")
    return rng.permutation(n_keys)[np.minimum(ranks, n_keys - 1)]


# --- sink connections -------------------------------------------------------
class ShardConnect:
    """``connect_fn`` for the sink. With ``shards`` the target is that
    many sqlite files behind ``ShardRouter`` for ``table``; otherwise it
    is the one file ``target.db``. With ``stats_dir`` every connection
    is wrapped in a timing proxy that appends its counters to a file
    when it closes."""

    def __init__(self, directory: str, table: str | None = None, shards: int = 0,
                 stats_dir: str | None = None) -> None:
        self.directory = directory
        self.table = table
        self.shards = shards
        self.stats_dir = stats_dir

    def __call__(self):
        if self.shards:
            conn = ShardRouter(self.directory, self.table, self.shards)
        else:
            conn = sqlite3.connect(os.path.join(self.directory, "target.db"), timeout=60)
        if self.stats_dir is None:
            return conn
        return TimedConnection(conn, self.stats_dir)


def shard_paths(directory: str, shards: int) -> list[str]:
    return [os.path.join(directory, f"shard_{i}.db") for i in range(shards)]


# Spark's Murmur3Hash (org.apache.spark.unsafe.hash.Murmur3_x86_32) on
# uint32 arrays: hashLong, hashInt, seed 42, each column seeding the next
def _rotl(x, r: int):
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix(h, k):
    k = _rotl(k * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
    return _rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)


def _fmix(h, length: int):
    h = h ^ np.uint32(length)
    h = (h ^ (h >> np.uint32(16))) * np.uint32(0x85EBCA6B)
    h = (h ^ (h >> np.uint32(13))) * np.uint32(0xC2B2AE35)
    return h ^ (h >> np.uint32(16))


def spark_partition(table: str, keys: list, shards: int):
    """``pmod(hash(<key columns>), shards)`` of Spark, per row of key
    tuples: the partition ``repartition(shards, *KEYS[table])`` sends
    the row to."""
    v = np.asarray(keys, dtype=np.int64).reshape(len(keys), -1)
    types = {c: dt for c, dt, _, _ in TABLES[table]}
    h = np.full(len(keys), 42, dtype=np.uint32)
    for i, c in enumerate(KEYS[table]):
        col = v[:, i]
        if types[c] == "INTEGER":
            h = _fmix(_mix(h, col.astype(np.int32).view(np.uint32)), 4)
        else:
            u = col.view(np.uint64)
            lo = (u & np.uint64(0xFFFFFFFF)).astype(np.uint32)
            h = _fmix(_mix(_mix(h, lo), (u >> np.uint64(32)).astype(np.uint32)), 8)
    return h.view(np.int32).astype(np.int64) % shards


class ShardRouter:
    """A DB-API connection over ``shards`` sqlite files of ``table``,
    one per partition of the sink's route: each statement row goes to
    the shard of the Spark partition ``repartition(shards, *keys)``
    assigns its key (``spark_partition``; every table here lists its
    key columns first, in both upsert and delete parameters). A route
    that keeps its N partitions gives each writer one shard of its own;
    when AQE merges partitions, a writer opens every shard its rows
    belong to. Each shard's slice of a statement commits on its own, so
    no writer holds one shard's lock while waiting for another's."""

    def __init__(self, directory: str, table: str, shards: int) -> None:
        self._paths = shard_paths(directory, shards)
        self._table = table
        self._nkeys = len(KEYS[table])
        self._conns: dict[int, sqlite3.Connection] = {}
        self._init: list[str] = []

    def _conn(self, i: int) -> sqlite3.Connection:
        conn = self._conns.get(i)
        if conn is None:
            conn = sqlite3.connect(self._paths[i], timeout=60)
            for stmt in self._init:
                conn.execute(stmt)
            self._conns[i] = conn
        return conn

    def cursor(self):
        return _RouterCursor(self)

    def run(self, sql: str, rows: list) -> None:
        if not rows:
            return
        n = len(self._paths)
        shard = spark_partition(self._table, [r[: self._nkeys] for r in rows], n)
        for i in range(n):
            idx = (shard == i).nonzero()[0]
            if len(idx):
                conn = self._conn(i)
                conn.executemany(sql, [rows[j] for j in idx])
                conn.commit()

    def commit(self) -> None:
        pass  # run() commits every shard slice

    def close(self) -> None:
        for conn in self._conns.values():
            conn.close()


class _RouterCursor:
    def __init__(self, router: ShardRouter) -> None:
        self._router = router

    def execute(self, sql, params=()):
        if params:
            self._router.run(sql, [tuple(params)])
        else:  # per-connection set-up (PRAGMAs): every shard it opens
            self._router._init.append(sql)
            for conn in self._router._conns.values():
                conn.execute(sql)

    def executemany(self, sql, seq):
        self._router.run(sql, seq if isinstance(seq, list) else list(seq))

    def close(self) -> None:
        pass


class TimedCursor:
    def __init__(self, cur, owner: "TimedConnection") -> None:
        self._cur = cur
        self._owner = owner

    def execute(self, sql, params=()):
        t0 = time.perf_counter()
        try:
            return self._cur.execute(sql, params)
        finally:
            self._owner.count(time.perf_counter() - t0, 1)

    def executemany(self, sql, seq):
        seq = list(seq)
        t0 = time.perf_counter()
        try:
            return self._cur.executemany(sql, seq)
        finally:
            self._owner.count(time.perf_counter() - t0, len(seq))

    def __getattr__(self, name):
        return getattr(self._cur, name)


class TimedConnection:
    """DB-API connection proxy: time spent in statements and commits,
    statement and row counts."""

    def __init__(self, conn, stats_dir: str) -> None:
        self._conn = conn
        self._stats_dir = stats_dir
        self.busy_s = 0.0
        self.statements = 0
        self.rows = 0

    def count(self, dt: float, rows: int) -> None:
        self.busy_s += dt
        self.statements += 1
        self.rows += rows

    def cursor(self):
        return TimedCursor(self._conn.cursor(), self)

    def commit(self):
        t0 = time.perf_counter()
        try:
            return self._conn.commit()
        finally:
            self.busy_s += time.perf_counter() - t0

    def close(self):
        import json

        self._conn.close()
        os.makedirs(self._stats_dir, exist_ok=True)
        with open(os.path.join(self._stats_dir, f"conn-{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps({"busy_s": self.busy_s, "statements": self.statements, "rows": self.rows}) + "\n")

    def __getattr__(self, name):
        return getattr(self._conn, name)


def read_conn_stats(stats_dir: str) -> dict:
    import json

    tot = {"busy_s": 0.0, "statements": 0, "rows": 0}
    if not os.path.isdir(stats_dir):
        return tot
    for name in os.listdir(stats_dir):
        with open(os.path.join(stats_dir, name)) as f:
            for line in f:
                d = json.loads(line)
                for k in tot:
                    tot[k] += d[k]
    return tot


class WriterFactory:
    """Picklable ``writer_factory`` for ``apply_batch``."""

    def __init__(self, table: str, connect_fn) -> None:
        self.table = table
        self.connect_fn = connect_fn

    def __call__(self):
        from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter

        return JdbcUpsertWriter(
            connect_fn=self.connect_fn,
            table=self.table,
            columns=columns(self.table),
            key_cols=KEYS[self.table],
            dialect="sqlite",
            batch_size=5000,
            connection_init=SQLITE_INIT,
        )


# --- DuckDB checks ------------------------------------------------------------
def _canon_select(table: str, src: str) -> str:
    """Canonical text of each row, identical for DuckDB-computed and
    sqlite-read rows: doubles at two decimals (every generated double
    has at most two), everything else as text."""
    parts = []
    for c, dt, _, _ in TABLES[table]:
        if dt == "DOUBLE":
            parts.append(f"coalesce(printf('%.2f', {c}), '~')")
        else:
            parts.append(f"coalesce(CAST({c} AS VARCHAR), '~')")
    return f"SELECT concat_ws('|', {', '.join(parts)}) AS r FROM {src}"


def fingerprint_sql(table: str, src: str) -> str:
    """Row count and an order-insensitive hash (sum of row hashes)."""
    return f"SELECT count(*), coalesce(sum(hash(r)), 0) FROM ({_canon_select(table, src)})"


def lww_sql(table: str, events: str, snapshot: str | None) -> str:
    """Last-write-wins state of an event relation with columns
    ``op, seq, image`` (JSON row image; the before-image for deletes),
    optionally on top of a snapshot table (sequence 0)."""
    cols = TABLES[table]
    keys = KEYS[table]
    ex = ", ".join(f"CAST(json_extract_string(image, '$.{c}') AS {dt}) AS {c}" for c, dt, _, _ in cols)
    names = ", ".join(c for c, *_ in cols)
    base = f"SELECT op, seq, {ex} FROM {events}"
    if snapshot:
        base = f"SELECT 'I' AS op, CAST(0 AS BIGINT) AS seq, {names} FROM {snapshot} UNION ALL {base}"
    return (
        f"SELECT {names} FROM ({base}) "
        f"QUALIFY row_number() OVER (PARTITION BY {', '.join(keys)} ORDER BY seq DESC) = 1 "
        f"AND op <> 'D'"
    )


def read_sqlite(paths: list[str], table: str):
    """All rows of ``table`` across sqlite files, as one Arrow table."""
    import pyarrow as pa

    cols = TABLES[table]
    rows: list[tuple] = []
    for p in paths:
        con = sqlite3.connect(p)
        try:
            rows += con.execute(f"SELECT {', '.join(c for c, *_ in cols)} FROM {table}").fetchall()
        finally:
            con.close()
    arrays = list(zip(*rows)) or [()] * len(cols)
    types = {"BIGINT": pa.int64(), "INTEGER": pa.int32(), "DOUBLE": pa.float64(), "VARCHAR": pa.string()}
    return pa.table({c: pa.array(a, type=types[dt]) for (c, dt, _, _), a in zip(cols, arrays)})


def diff_rows(con, table: str, expected_view: str, actual_view: str) -> int:
    """Rows present on one side only (missing or wrong target rows)."""
    a = _canon_select(table, expected_view)
    b = _canon_select(table, actual_view)
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + (SELECT count(*) FROM ({b} EXCEPT ALL {a}))"
    ).fetchone()[0]
