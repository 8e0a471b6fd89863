"""The sharded sqlite target and the DuckDB LWW check."""

import os
import sqlite3

from perfbench import tables


# Spark 4.1: SELECT hash(a), pmod(hash(a, b), 4) over (a BIGINT, b INT)
SPARK_HASH_LONG = {0: -1670924195, 1: -1712319331, 2: -797927272, -1: -939490007, 123456789012: -1439831649}
SPARK_PMOD4_LONG_INT = {(0, 1): 3, (0, 4): 0, (0, 7): 2, (1, 1): 1, (1, 4): 1, (1, 7): 3, (2, 1): 3,
                        (123456789012, 7): 0, (99999, 4): 2}


def test_shard_is_the_spark_route_partition():
    keys = list(SPARK_HASH_LONG)
    got = tables.spark_partition("orders", [(k,) for k in keys], 2**32)
    assert [int(g) for g in got] == [SPARK_HASH_LONG[k] % 2**32 for k in keys]
    pairs = list(SPARK_PMOD4_LONG_INT)
    got = tables.spark_partition("lineitem", pairs, 4)
    assert [int(g) for g in got] == [SPARK_PMOD4_LONG_INT[p] for p in pairs]


def test_router_places_each_key_in_its_route_shard(tmp_path):
    d = str(tmp_path)
    for p in tables.shard_paths(d, 4):
        tables.create_target(p, ["orders"])
    conn = tables.ShardConnect(d, "orders", shards=4)()
    cur = conn.cursor()
    for stmt in tables.SQLITE_INIT:
        cur.execute(stmt)
    ins = "INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?) ON CONFLICT(o_orderkey) DO UPDATE SET o_custkey=excluded.o_custkey"
    cur.executemany(ins, [(k, 1, "O", 1.0, "1995-01-01", "5-LOW") for k in range(20)])
    cur.executemany(ins, [(k, 2, "O", 1.0, "1995-01-01", "5-LOW") for k in range(0, 20, 2)])
    cur.executemany("DELETE FROM orders WHERE o_orderkey = ?", [(3,), (7,)])
    cur.executemany(ins, [])
    conn.commit()
    conn.close()
    home = tables.spark_partition("orders", [(k,) for k in range(20)], 4)
    seen = {}
    for i, p in enumerate(tables.shard_paths(d, 4)):
        con = sqlite3.connect(p)
        for k, c in con.execute("SELECT o_orderkey, o_custkey FROM orders"):
            assert home[k] == i and k not in seen
            seen[k] = c
        con.close()
    assert sorted(seen) == [k for k in range(20) if k not in (3, 7)]
    assert all(seen[k] == (2 if k % 2 == 0 else 1) for k in seen)
    assert len(set(home.tolist())) == 4


def test_zipf_keys_are_seeded_and_skewed():
    import numpy as np

    a = tables.zipf_keys(np.random.default_rng(5), 1000, 5000)
    b = tables.zipf_keys(np.random.default_rng(5), 1000, 5000)
    assert (a == b).all() and a.min() >= 0 and a.max() < 1000
    counts = np.sort(np.bincount(a, minlength=1000))[::-1]
    assert counts[0] > 20 * np.median(counts)


def test_lww_state_and_fingerprint_match_a_sqlite_target(tmp_path):
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    ev = pa.table(
        {
            "op": ["I", "U", "D", "I", "U"],
            "seq": [1, 2, 3, 4, 5],
            "image": [
                '{"o_orderkey":1,"o_custkey":1,"o_orderstatus":"O","o_totalprice":10.5,"o_orderdate":"1995-01-01","o_orderpriority":"5-LOW"}',
                '{"o_orderkey":1,"o_custkey":2,"o_orderstatus":"F","o_totalprice":11.25,"o_orderdate":"1995-01-02","o_orderpriority":"1-URGENT"}',
                '{"o_orderkey":2,"o_custkey":3,"o_orderstatus":"O","o_totalprice":1.0,"o_orderdate":"1995-01-01","o_orderpriority":"5-LOW"}',
                '{"o_orderkey":3,"o_custkey":4,"o_orderstatus":"P","o_totalprice":2.0,"o_orderdate":"1995-01-03","o_orderpriority":"2-HIGH"}',
                '{"o_orderkey":3,"o_custkey":5,"o_orderstatus":"P","o_totalprice":3.1,"o_orderdate":"1995-01-03","o_orderpriority":"2-HIGH"}',
            ],
        }
    )
    con.register("ev", ev)
    con.execute(f"CREATE TABLE expected AS {tables.lww_sql('orders', 'ev', None)}")
    path = os.path.join(str(tmp_path), "target.db")
    tables.create_target(path, ["orders"])
    s = sqlite3.connect(path)
    s.executemany(
        "INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)",
        [(1, 2, "F", 11.25, "1995-01-02", "1-URGENT"), (3, 5, "P", 3.1, "1995-01-03", "2-HIGH")],
    )
    s.commit()
    s.close()
    con.register("actual", tables.read_sqlite([path], "orders"))
    exp = con.execute(tables.fingerprint_sql("orders", "expected")).fetchone()
    got = con.execute(tables.fingerprint_sql("orders", "actual")).fetchone()
    assert exp == got and exp[0] == 2
    assert tables.diff_rows(con, "orders", "expected", "actual") == 0
